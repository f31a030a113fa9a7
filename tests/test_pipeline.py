"""Pipeline orchestration tests: paged ingest through bronze append,
short-page termination, week-granularity fallback, two-phase ETL —
all driven by an injected fake transport (no network)."""

from __future__ import annotations

import json
import urllib.parse
from datetime import datetime, timezone

import pytest

from usgs_earthquake_data_pipeline_spark import pipeline, sinks
from usgs_earthquake_data_pipeline_spark.sources.rest import (
    FetchError,
    fetch_earthquake_data_limit_offset,
)


def _feature(i: int, ts_ms: int = 1704067200000, tsunami: int = 0):
    return {
        "type": "Feature",
        "id": f"ev{i:08d}",
        "properties": {"mag": 1.0, "time": ts_ms, "tsunami": tsunami},
        "geometry": {"type": "Point", "coordinates": [1.0, 2.0, 3.0]},
    }


def _page(features):
    return json.dumps(
        {
            "type": "FeatureCollection",
            "metadata": {"generated": 0, "count": len(features)},
            "features": features,
        }
    )


class FakeApi:
    """Serves deterministic pages keyed by (starttime, offset)."""

    def __init__(self, pages_by_window, fail_windows=None, fail_status=503):
        self.pages_by_window = pages_by_window
        self.fail_windows = set(fail_windows or [])
        self.fail_status = fail_status
        self.calls = []

    def __call__(self, url):
        q = urllib.parse.parse_qs(urllib.parse.urlparse(url).query)
        start = q["starttime"][0]
        offset = int(q.get("offset", ["1"])[0])
        limit = int(q.get("limit", ["10"])[0])
        self.calls.append((start, offset))
        if start in self.fail_windows:
            return self.fail_status, ""
        feats = self.pages_by_window.get(start, [])
        page = feats[offset - 1 : offset - 1 + limit]
        return 200, _page(page)


def test_rest_source_limit_offset_raises_classified():
    api = FakeApi({}, fail_windows={"2020-01-01"})
    with pytest.raises(FetchError) as exc:
        fetch_earthquake_data_limit_offset(
            "http://x", "2020-01-01", "2020-02-01", 10, 1, api
        )
    assert exc.value.status == 503
    assert pipeline.is_retryable(exc.value)


def test_month_and_week_windows():
    mw = pipeline.month_windows(2020, 2020)
    assert len(mw) == 12
    assert mw[0] == ("2020-01-01", "2020-02-01")
    assert mw[-1] == ("2020-12-01", "2021-01-01")  # Dec 31 events covered
    ww = pipeline.week_windows("2020-01-01", "2020-02-01")
    assert ww[0] == ("2020-01-01", "2020-01-08")
    assert ww[-1][1] == "2020-02-01"


def test_paged_ingest_three_pages(spark, tmp_path):
    # 25 events, limit 10 → pages of 10/10/5 (short page terminates)
    feats = [_feature(i, tsunami=i % 5 == 0) for i in range(25)]
    api = FakeApi({"2020-01-01": feats})
    bronze = str(tmp_path / "bronze")
    total = pipeline.ingest_window_paged(
        spark, "http://x", "2020-01-01", "2020-02-01", bronze,
        limit=10, http_get=api,
    )
    assert total == 25
    offsets = [o for (_, o) in api.calls]
    assert offsets == [1, 11, 21]  # no 4th call: short page broke the loop
    assert sinks.read_partitioned_table(spark, bronze).count() == 25


def test_empty_window_no_write(spark, tmp_path):
    api = FakeApi({"2020-01-01": []})
    bronze = str(tmp_path / "bronze")
    total = pipeline.ingest_window_paged(
        spark, "http://x", "2020-01-01", "2020-02-01", bronze,
        limit=10, http_get=api,
    )
    assert total == 0
    import os

    assert not os.path.exists(bronze)  # F3: empty input never writes


def test_week_fallback_on_month_failure(spark, tmp_path):
    """A failing month is retried in week windows; weeks that fail are
    recorded, weeks that succeed still land data."""
    feats = [_feature(100 + i) for i in range(3)]
    api = FakeApi(
        {"2020-01-08": feats},  # only this week window has data
        fail_windows={"2020-01-01"},  # the month start AND its first week fail
    )
    bronze = str(tmp_path / "bronze")
    stats = pipeline.IngestStats()
    # drive one month through the range loop
    import usgs_earthquake_data_pipeline_spark.pipeline as P

    orig = P.month_windows
    P.month_windows = lambda s, e: [("2020-01-01", "2020-02-01")]
    try:
        stats = pipeline.ingest_range(
            spark, 2020, 2020, bronze, api_url="http://x", limit=10, http_get=api
        )
    finally:
        P.month_windows = orig
    assert ("2020-01-01", "2020-01-08") in stats.failed_windows
    assert stats.events == 3
    assert sinks.read_partitioned_table(spark, bronze).count() == 3


def test_idempotent_reingest_no_duplicates(spark, tmp_path):
    """Re-running the same window in idempotent mode replaces its
    partitions instead of duplicating rows; plain append duplicates."""
    feats = [_feature(i) for i in range(25)]  # all at 2024-01-01T00:00Z
    bronze = str(tmp_path / "bronze")
    for _ in range(2):  # same window ingested twice
        api = FakeApi({"2024-01-01": feats})
        pipeline.ingest_window_paged(
            spark, "http://x", "2024-01-01", "2024-02-01", bronze,
            limit=10, http_get=api, idempotent=True,
        )
    assert sinks.read_partitioned_table(spark, bronze).count() == 25

    bronze2 = str(tmp_path / "bronze2")
    for _ in range(2):
        api = FakeApi({"2020-01-01": feats})
        pipeline.ingest_window_paged(
            spark, "http://x", "2020-01-01", "2020-02-01", bronze2,
            limit=10, http_get=api,
        )
    assert sinks.read_partitioned_table(spark, bronze2).count() == 50


def test_two_phase_etl(spark, tmp_path):
    feats = [_feature(i, tsunami=int(i % 3 == 0)) for i in range(12)]
    api = FakeApi({m: feats if m == "2021-03-01" else [] for m, _ in
                   pipeline.month_windows(2021, 2021)})
    bronze = str(tmp_path / "bronze")
    yearly = str(tmp_path / "yearly")
    monthly = str(tmp_path / "monthly")
    stats = pipeline.run_etl(
        spark, 2021, 2021, bronze, yearly, monthly,
        api_url="http://x", limit=100, http_get=api,
    )
    assert stats.events == 12
    y = sinks.read_partitioned_table(spark, yearly).collect()
    assert len(y) == 1 and y[0].tsunami_yearly_count == 4  # i % 3 == 0 of 12


def test_run_etl_window_of_only_invalid_features(spark, tmp_path):
    """A year whose only non-empty month serves id-less features: the
    page is fetched and counted, nothing lands, and silver is skipped
    instead of reading a bronze table that was never created."""
    import os

    feats = [_feature(i) for i in range(3)]
    for f in feats:
        del f["id"]
    api = FakeApi({"2021-03-01": feats})
    bronze = str(tmp_path / "bronze")
    stats = pipeline.run_etl(
        spark, 2021, 2021, bronze, str(tmp_path / "yearly"),
        str(tmp_path / "monthly"), api_url="http://x", limit=100, http_get=api,
    )
    assert stats.events == 3
    assert stats.window_metrics == []
    assert not os.path.exists(bronze)


JAN_2020_MS = 1577836800000  # 2020-01-01T00:00:00Z
DAY_MS = 86_400_000


class TimeRangeApi:
    """Serves the features whose time lies in [starttime, endtime), so
    a month and its week windows see consistent slices; ``fail`` picks
    the (starttime, endtime, offset) requests that answer 503."""

    def __init__(self, features, fail=lambda start, end, offset: False):
        self.features = features
        self.fail = fail

    def __call__(self, url):
        q = urllib.parse.parse_qs(urllib.parse.urlparse(url).query)
        start, end = q["starttime"][0], q["endtime"][0]
        offset, limit = int(q["offset"][0]), int(q["limit"][0])
        if self.fail(start, end, offset):
            return 503, ""

        def ms(day):
            return datetime.fromisoformat(day).replace(tzinfo=timezone.utc).timestamp() * 1000

        lo, hi = ms(start), ms(end)
        hits = [f for f in self.features if lo <= f["properties"]["time"] < hi]
        return 200, _page(hits[offset - 1 : offset - 1 + limit])


def _january_features(n: int):
    # one event per day of January 2020, at noon: every week window of
    # the month holds fewer than 10 of them
    return [_feature(i, ts_ms=JAN_2020_MS + (i % 31) * DAY_MS + DAY_MS // 2) for i in range(n)]


FEB_2020_MS = JAN_2020_MS + 31 * DAY_MS  # 2020-02-01T00:00:00Z


def test_idempotent_rerun_keeps_the_next_month(spark, tmp_path):
    """FDSN's endtime is inclusive, so a January query also serves an
    event at exactly 2020-02-01T00:00. Re-running January alone must
    not let that row replace February's partition."""
    feb = [_feature(i, ts_ms=FEB_2020_MS + i * DAY_MS) for i in range(5)]
    jan = [_feature(100 + i, ts_ms=JAN_2020_MS + i * DAY_MS) for i in range(3)]
    bronze = str(tmp_path / "bronze")
    api = FakeApi({"2020-02-01": feb, "2020-01-01": jan + feb[:1]})
    for window in (("2020-02-01", "2020-03-01"), ("2020-01-01", "2020-02-01")):
        pipeline.ingest_window_paged(
            spark, "http://x", *window, bronze,
            limit=10, http_get=api, idempotent=True,
        )
    landed = sinks.read_partitioned_table(spark, bronze)
    by_month = {
        (r.year, r.month): r["count"]
        for r in landed.groupBy("year", "month").count().collect()
    }
    assert by_month == {(2020, 1): 3, (2020, 2): 5}


def test_idempotent_refuses_a_week_window(spark, tmp_path):
    """An upsert replaces every month its rows touch, so a week window
    would replace its whole month with one week of rows: idempotent
    mode takes only a ``month_windows`` window."""
    feats = _january_features(31)
    bronze = str(tmp_path / "bronze")
    api = TimeRangeApi(feats)
    pipeline.ingest_window_paged(
        spark, "http://x", "2020-01-01", "2020-02-01", bronze,
        limit=10, http_get=api, idempotent=True,
    )
    with pytest.raises(ValueError, match="one month window"):
        pipeline.ingest_window_paged(
            spark, "http://x", "2020-01-08", "2020-01-15", bronze,
            limit=10, http_get=api, idempotent=True,
        )
    assert sinks.read_partitioned_table(spark, bronze).count() == 31


def test_pager_raises_on_a_failed_page():
    """A failed page raises FetchError for C4 to classify; it never
    reads as the end of the window."""
    api = TimeRangeApi(_january_features(25), fail=lambda s, e, o: o > 1)
    pages = pipeline.fetch_pages(
        "http://x", "2020-01-01", "2020-02-01", limit=10, http_get=api
    )
    assert len(next(pages)["features"]) == 10
    with pytest.raises(FetchError) as exc:
        next(pages)
    assert exc.value.status == 503


def test_window_is_atomic_on_mid_window_failure(spark, tmp_path):
    """The month's second page answers 503: nothing reaches bronze and
    ``stats`` is untouched; the week fallback then lands every event
    exactly once."""
    import os

    feats = _january_features(25)
    month = ("2020-01-01", "2020-02-01")
    api = TimeRangeApi(feats, fail=lambda s, e, o: (s, e) == month and o > 1)
    bronze = str(tmp_path / "bronze")
    stats = pipeline.IngestStats()
    with pytest.raises(FetchError):
        pipeline.ingest_window_paged(
            spark, "http://x", *month, bronze, limit=10, http_get=api, stats=stats,
        )
    assert not os.path.exists(bronze)
    assert stats == pipeline.IngestStats()

    stats = pipeline.ingest_range(
        spark, 2020, 2020, bronze, api_url="http://x", limit=10, http_get=api
    )
    assert stats.failed_windows == []
    assert stats.events == 25
    landed = sinks.read_partitioned_table(spark, bronze)
    assert landed.count() == 25
    assert landed.select("id").distinct().count() == 25


def _window_jobs(spark, tmp_path, name, n_events):
    """Spark jobs one ``ingest_window_paged`` call launches (limit 10),
    asserting between every page fetch that no staging sibling of the
    bronze path exists."""
    bronze = tmp_path / name
    inner = TimeRangeApi(_january_features(n_events))

    def no_staging():
        assert not [p.name for p in tmp_path.iterdir() if "__staging_" in p.name]

    def api(url):
        no_staging()
        return inner(url)

    sc = spark.sparkContext
    group = f"budget_{name}"
    sc.setJobGroup(group, group)
    try:
        pipeline.ingest_window_paged(
            spark, "http://x", "2020-01-01", "2020-02-01", str(bronze),
            limit=10, http_get=api,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    no_staging()
    assert sinks.read_partitioned_table(spark, str(bronze)).count() == n_events
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_window_job_budget_independent_of_page_count(spark, tmp_path):
    """One write per window: a 1-page and a 3-page window each launch
    exactly one Spark job, the write, which counts its own rows, so the
    sink runs no ``isEmpty`` probe. The window is driver-held, so no
    sampling job or map stage runs."""
    assert _window_jobs(spark, tmp_path, "one_page", 5) == 1
    assert _window_jobs(spark, tmp_path, "three_pages", 25) == 1


def test_run_etl_job_budget_and_labels(spark, tmp_path):
    """A one-year backfill with one 3-page month launches 5 jobs: the
    window's write, the silver aggregation's map stage and
    collect, and one write per fact; the bronze read infers nothing.
    Every job carries a description naming its pipeline layer (read
    back from the status store)."""
    feats = [_feature(i, ts_ms=JAN_2020_MS + i * DAY_MS, tsunami=int(i % 4 == 0))
             for i in range(25)]
    sc = spark.sparkContext
    group = "etl_jobs"
    sc.setJobGroup(group, group)
    try:
        stats = pipeline.run_etl(
            spark, 2020, 2020, str(tmp_path / "bronze"), str(tmp_path / "yearly"),
            str(tmp_path / "monthly"), api_url="http://x", limit=10,
            http_get=TimeRangeApi(feats),
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert stats.events == 25 and stats.pages == 3
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    ids = set(sc.statusTracker().getJobIdsForGroup(group))
    jobs = sc._jsc.sc().statusStore().jobsList(None)
    descs = []
    for i in range(jobs.size()):
        job = jobs.apply(i)
        if job.jobId() in ids:
            desc = job.description()
            descs.append(desc.get() if desc.isDefined() else None)
    assert len(ids) == len(descs) == 5, descs
    assert descs.count("ingest 2020-01-01..2020-02-01") == 1, descs
    assert descs.count("silver aggregate") == 2, descs
    assert descs.count("silver write yearly") == 1, descs
    assert descs.count("silver write monthly") == 1, descs


def test_run_etl_restores_the_callers_job_description(spark, tmp_path):
    sc = spark.sparkContext
    sc.setJobDescription("caller")
    try:
        pipeline.run_etl(
            spark, 2020, 2020, str(tmp_path / "bronze"), str(tmp_path / "yearly"),
            str(tmp_path / "monthly"), api_url="http://x", limit=10,
            http_get=TimeRangeApi(_january_features(5)),
        )
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setJobDescription(None)
