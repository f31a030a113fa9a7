"""Pipeline orchestration tests: paged ingest of one month window into
bronze, short-page termination, week-granularity fallback inside the
month, the half-open month cut, reruns, two-phase ETL — all driven by
an injected fake transport (no network)."""

from __future__ import annotations

import itertools
import json
import os
import urllib.parse
from datetime import datetime, timezone

import pytest

from usgs_earthquake_data_pipeline_spark import pipeline, sinks
from usgs_earthquake_data_pipeline_spark.sources.rest import (
    FetchError,
    fetch_earthquake_data_limit_offset,
)


JAN_2020_MS = 1577836800000  # 2020-01-01T00:00:00Z
DAY_MS = 86_400_000
FEB_2020_MS = JAN_2020_MS + 31 * DAY_MS  # 2020-02-01T00:00:00Z
MAR_2021_MS = 1614556800000  # 2021-03-01T00:00:00Z


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
    """Serves deterministic pages keyed by (starttime, offset), whatever
    the features' times: the month cut keeps only those inside the
    window asked for."""

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


def test_rest_source_204_is_an_empty_page():
    """FDSN answers 204 to a query that matches nothing (``nodata``
    defaults to 204): an empty page, not a failure. Any other status
    but 200 still raises."""
    doc = fetch_earthquake_data_limit_offset(
        "http://x", "2020-01-01", "2020-02-01", 10, 1, lambda url: (204, "")
    )
    assert doc == {"type": "FeatureCollection", "features": []}
    with pytest.raises(FetchError) as exc:
        fetch_earthquake_data_limit_offset(
            "http://x", "2020-01-01", "2020-02-01", 10, 1, lambda url: (206, "")
        )
    assert exc.value.status == 206


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
    api = FakeApi({"2024-01-01": feats})
    bronze = str(tmp_path / "bronze")
    total = pipeline.ingest_window_paged(
        spark, "http://x", "2024-01-01", "2024-02-01", bronze,
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
    assert not os.path.exists(bronze)  # F3: empty input never writes


def test_week_fallback_on_month_failure(spark, tmp_path):
    """A failing month is retried in week windows. A week that still
    fails is recorded and the month lands nothing: the weeks that
    worked are not landed or counted either, so a rerun can fill the
    month whole."""
    feats = [_feature(100 + i, ts_ms=JAN_2020_MS + 8 * DAY_MS + i) for i in range(3)]
    api = FakeApi(
        {"2020-01-08": feats},  # only this week window has data
        fail_windows={"2020-01-01"},  # the month start AND its first week fail
    )
    bronze = str(tmp_path / "bronze")
    stats = pipeline.ingest_range(
        spark, 2020, 2020, bronze, api_url="http://x", limit=10, http_get=api
    )
    assert stats.failed_windows == [("2020-01-01", "2020-01-08")]
    assert (stats.pages, stats.events, stats.window_metrics) == (0, 0, [])
    assert not os.path.exists(bronze)


def test_idempotent_reingest_no_duplicates(spark, tmp_path):
    """Re-running the same window replaces its partition instead of
    duplicating rows: the second landing finds the month's partition
    and upserts it."""
    feats = [_feature(i) for i in range(25)]  # all at 2024-01-01T00:00Z
    bronze = str(tmp_path / "bronze")
    for _ in range(2):  # same window ingested twice
        api = FakeApi({"2024-01-01": feats})
        pipeline.ingest_window_paged(
            spark, "http://x", "2024-01-01", "2024-02-01", bronze,
            limit=10, http_get=api,
        )
    landed = sinks.read_partitioned_table(spark, bronze)
    assert landed.count() == landed.select("id").distinct().count() == 25


def test_two_phase_etl(spark, tmp_path):
    feats = [_feature(i, ts_ms=MAR_2021_MS + i, tsunami=int(i % 3 == 0)) for i in range(12)]
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
    feats = [_feature(i, ts_ms=MAR_2021_MS + i) for i in range(3)]
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


class TimeRangeApi:
    """Serves the features whose time lies in [starttime, endtime],
    both ends inclusive as FDSN's are, so a month and its week windows
    see consistent slices; ``fail`` picks the (starttime, endtime,
    offset) requests that answer 503. With ``nodata``, a request that
    matches no feature answers 204, as FDSN's default ``nodata=204``
    does."""

    def __init__(self, features, fail=lambda start, end, offset: False, nodata=False):
        self.features = features
        self.fail = fail
        self.nodata = nodata

    def __call__(self, url):
        q = urllib.parse.parse_qs(urllib.parse.urlparse(url).query)
        start, end = q["starttime"][0], q["endtime"][0]
        offset, limit = int(q["offset"][0]), int(q["limit"][0])
        if self.fail(start, end, offset):
            return 503, ""

        def ms(day):
            return datetime.fromisoformat(day).replace(tzinfo=timezone.utc).timestamp() * 1000

        lo, hi = ms(start), ms(end)
        hits = [f for f in self.features if lo <= f["properties"]["time"] <= hi]
        page = hits[offset - 1 : offset - 1 + limit]
        if self.nodata and not page:
            return 204, ""
        return 200, _page(page)


def _january_features(n: int):
    # one event per day of January 2020, at noon: every week window of
    # the month holds fewer than 10 of them
    return [_feature(i, ts_ms=JAN_2020_MS + (i % 31) * DAY_MS + DAY_MS // 2) for i in range(n)]


JANUARY = ("2020-01-01", "2020-02-01")


def test_idempotent_rerun_keeps_the_next_month(spark, tmp_path):
    """FDSN's endtime is inclusive, so a January query also serves an
    event at exactly 2020-02-01T00:00. The month cut keeps it out of
    January's landing, so it lands once, with February, and re-running
    January replaces January alone."""
    feb = [_feature(i, ts_ms=FEB_2020_MS + i * DAY_MS) for i in range(5)]
    jan = [_feature(100 + i, ts_ms=JAN_2020_MS + i * DAY_MS) for i in range(3)]
    bronze = str(tmp_path / "bronze")
    api = FakeApi({"2020-02-01": feb, "2020-01-01": jan + feb[:1]})
    for window in (("2020-02-01", "2020-03-01"), JANUARY, JANUARY):
        pipeline.ingest_window_paged(
            spark, "http://x", *window, bronze, limit=10, http_get=api,
        )
    landed = sinks.read_partitioned_table(spark, bronze)
    by_month = {
        (r.year, r.month): r["count"]
        for r in landed.groupBy("year", "month").count().collect()
    }
    assert by_month == {(2020, 1): 3, (2020, 2): 5}


def test_idempotent_refuses_a_week_window(spark, tmp_path):
    """A landing replaces the month its partition holds, so the window
    must be one ``month_windows`` window: a week would replace its whole
    month with one week of rows."""
    feats = _january_features(31)
    bronze = str(tmp_path / "bronze")
    api = TimeRangeApi(feats)
    pipeline.ingest_window_paged(
        spark, "http://x", *JANUARY, bronze, limit=10, http_get=api,
    )
    with pytest.raises(ValueError, match="one month window"):
        pipeline.ingest_window_paged(
            spark, "http://x", "2020-01-08", "2020-01-15", bronze,
            limit=10, http_get=api,
        )
    assert sinks.read_partitioned_table(spark, bronze).count() == 31


def test_ingest_refuses_a_non_utc_session(spark, tmp_path):
    """Bronze's (year, month) come from the event time in the session
    time zone, FDSN's months are UTC: in Los Angeles, January's first
    eight hours would land in December's partition, which a rerun of
    January would then replace. The landing refuses, before any fetch."""
    bronze = tmp_path / "bronze"
    api = TimeRangeApi(_january_features(3))
    before = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        with pytest.raises(ValueError, match="UTC"):
            pipeline.ingest_window_paged(
                spark, "http://x", *JANUARY, str(bronze), limit=10, http_get=api,
            )
    finally:
        spark.conf.set("spark.sql.session.timeZone", before)
    assert not bronze.exists()


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
    """The month's second page answers 503: the week fallback runs
    inside the month, nothing of the failed month's first page is kept
    or counted, and every event lands exactly once."""
    feats = _january_features(25)
    api = TimeRangeApi(feats, fail=lambda s, e, o: (s, e) == JANUARY and o > 1)
    bronze = str(tmp_path / "bronze")
    stats = pipeline.IngestStats()
    total = pipeline.ingest_window_paged(
        spark, "http://x", *JANUARY, bronze, limit=10, http_get=api, stats=stats,
    )
    assert total == stats.events == 25
    assert stats.failed_windows == []
    assert stats.pages == 4  # one per week with events, none from the month
    assert [m["rows"] for m in stats.window_metrics] == [25]
    landed = sinks.read_partitioned_table(spark, bronze)
    assert landed.count() == 25
    assert landed.select("id").distinct().count() == 25


def test_failed_month_lands_once_after_recovery(spark, tmp_path):
    """The rerun after the failing week recovers lands the month once,
    every week's events included."""
    feats = _january_features(31)
    still_down = lambda s, e, o: (s, e) == JANUARY or s == "2020-01-15"  # noqa: E731
    bronze = str(tmp_path / "bronze")
    stats = pipeline.IngestStats()
    pipeline.ingest_window_paged(
        spark, "http://x", *JANUARY, bronze,
        limit=10, http_get=TimeRangeApi(feats, fail=still_down), stats=stats,
    )
    assert stats.failed_windows == [("2020-01-15", "2020-01-22")]
    assert not os.path.exists(bronze)
    recovered = lambda s, e, o: (s, e) == JANUARY  # noqa: E731
    stats = pipeline.IngestStats()
    total = pipeline.ingest_window_paged(
        spark, "http://x", *JANUARY, bronze,
        limit=10, http_get=TimeRangeApi(feats, fail=recovered), stats=stats,
    )
    assert (total, stats.events, stats.failed_windows) == (31, 31, [])
    landed = sinks.read_partitioned_table(spark, bronze)
    assert landed.count() == landed.select("id").distinct().count() == 31


def test_rerun_with_a_failing_week_keeps_the_month(spark, tmp_path):
    """A month already in bronze is never cut down to the weeks that
    worked: a rerun whose week still fails leaves its rows as they
    were."""
    feats = _january_features(31)
    bronze = str(tmp_path / "bronze")
    pipeline.ingest_window_paged(
        spark, "http://x", *JANUARY, bronze, limit=10, http_get=TimeRangeApi(feats)
    )
    week_down = lambda s, e, o: (s, e) == JANUARY or s == "2020-01-08"  # noqa: E731
    stats = pipeline.IngestStats()
    assert pipeline.ingest_window_paged(
        spark, "http://x", *JANUARY, bronze,
        limit=10, http_get=TimeRangeApi(feats, fail=week_down), stats=stats,
    ) == 0
    assert stats.failed_windows == [("2020-01-08", "2020-01-15")]
    landed = sinks.read_partitioned_table(spark, bronze)
    assert landed.count() == landed.select("id").distinct().count() == 31


_GROUPS = itertools.count()  # a fresh job group per call


def _window_jobs(spark, tmp_path, name, n_events, fail=lambda s, e, o: False):
    """Spark jobs one ``ingest_window_paged`` call of January launches
    (limit 10) into ``tmp_path/name``, asserting between every page
    fetch that no staging sibling of the bronze path exists."""
    bronze = tmp_path / name
    inner = TimeRangeApi(_january_features(n_events), fail=fail)

    def no_staging():
        assert not [p.name for p in tmp_path.iterdir() if "__staging_" in p.name]

    def api(url):
        no_staging()
        return inner(url)

    sc = spark.sparkContext
    group = f"budget_{name}_{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        pipeline.ingest_window_paged(
            spark, "http://x", *JANUARY, str(bronze), limit=10, http_get=api,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    no_staging()
    assert sinks.read_partitioned_table(spark, str(bronze)).count() == n_events
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_window_job_budget_independent_of_page_count(spark, tmp_path):
    """One write per month: a 1-page and a 3-page month each launch
    exactly one Spark job, the write, which counts its own rows, so the
    sink runs no ``isEmpty`` probe; so do a rerun that replaces the
    month and a fallback month whose five weeks all hold events. The
    month is driver-held, so no sampling job or map stage runs."""
    assert _window_jobs(spark, tmp_path, "one_page", 5) == 1
    assert _window_jobs(spark, tmp_path, "three_pages", 25) == 1
    assert _window_jobs(spark, tmp_path, "three_pages", 25) == 1  # replaces
    month_down = lambda s, e, o: (s, e) == JANUARY  # noqa: E731
    assert _window_jobs(spark, tmp_path, "fallback", 31, fail=month_down) == 1


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


MAR_2024_MS = 1709251200000  # 2024-03-01T00:00:00Z


def _etl_2024(spark, out: str):
    """``run_etl`` of 2024 into ``out`` from a fake FDSN serving three
    events, one at exactly 2024-03-01T00:00, which FDSN's inclusive
    ``endtime`` serves to both the February and the March window."""
    feats = [
        _feature(1, ts_ms=MAR_2024_MS - 5 * DAY_MS, tsunami=1),
        _feature(2, ts_ms=MAR_2024_MS, tsunami=1),
        _feature(3, ts_ms=MAR_2024_MS + 5 * DAY_MS),
    ]
    return pipeline.run_etl(
        spark, 2024, 2024, f"{out}/bronze", f"{out}/yearly", f"{out}/monthly",
        api_url="http://x", limit=10, http_get=TimeRangeApi(feats),
    )


def _landed(spark, out: str):
    """Bronze rows, bronze ids and both silver facts under ``out``."""
    bronze = sinks.read_partitioned_table(spark, f"{out}/bronze")
    yearly = sinks.read_partitioned_table(spark, f"{out}/yearly")
    monthly = sinks.read_partitioned_table(spark, f"{out}/monthly")
    return (
        bronze.count(),
        sorted(r.id for r in bronze.select("id").collect()),
        {(r.year, r.tsunami_yearly_count) for r in yearly.collect()},
        {(r.year, r.month, r.tsunami_monthly_count) for r in monthly.collect()},
    )


def test_run_etl_lands_a_boundary_event_once(spark, tmp_path):
    stats = _etl_2024(spark, str(tmp_path))
    assert stats.events == 3
    assert _landed(spark, str(tmp_path)) == (
        3,
        ["ev00000001", "ev00000002", "ev00000003"],
        {(2024, 2)},
        {(2024, 2, 1), (2024, 3, 1)},
    )


def test_run_etl_rerun_leaves_bronze_and_silver_unchanged(spark, tmp_path):
    """A second ``run_etl`` of the same year replaces each month it
    lands: bronze rows and ids and both facts come out the same."""
    out = str(tmp_path)
    _etl_2024(spark, out)
    first = _landed(spark, out)
    assert first[0] == 3
    _etl_2024(spark, out)
    assert _landed(spark, out) == first


def _etl_2020(spark, out: str, features, nodata=False):
    """``run_etl`` of 2020 into ``out`` from a fake FDSN serving
    ``features``."""
    return pipeline.run_etl(
        spark, 2020, 2020, f"{out}/bronze", f"{out}/yearly", f"{out}/monthly",
        api_url="http://x", limit=10, http_get=TimeRangeApi(features, nodata=nodata),
    )


def _idless(features):
    return [{k: v for k, v in f.items() if k != "id"} for f in features]


@pytest.mark.parametrize("rerun_january", [lambda jan: [], _idless], ids=["emptied", "idless"])
def test_run_etl_rerun_drops_a_month_the_source_emptied(spark, tmp_path, rerun_january):
    """January landed 3 tsunami events; a rerun finds no event of
    January (none served, or only id-less ones). The rerun drops
    January's partition, so bronze and both facts mirror the source:
    a write of zero rows would have replaced nothing."""
    jan = [_feature(i, ts_ms=JAN_2020_MS + i * DAY_MS, tsunami=1) for i in range(3)]
    feb = [_feature(10 + i, ts_ms=FEB_2020_MS + (i + 1) * DAY_MS, tsunami=i) for i in range(2)]
    feb_ids = ["ev00000010", "ev00000011"]
    out = str(tmp_path)
    _etl_2020(spark, out, jan + feb)
    assert _landed(spark, out) == (
        5,
        ["ev00000000", "ev00000001", "ev00000002"] + feb_ids,
        {(2020, 4)},
        {(2020, 1, 3), (2020, 2, 1)},
    )
    stats = _etl_2020(spark, out, rerun_january(jan) + feb)
    assert stats.emptied_windows == [JANUARY]
    assert not os.path.exists(f"{out}/bronze/year=2020/month=1")
    assert _landed(spark, out) == (2, feb_ids, {(2020, 1)}, {(2020, 2, 1)})


def test_run_etl_completes_when_fdsn_answers_204(spark, tmp_path):
    """A month with no event answers 204: it lands nothing and fails
    nothing, and the run goes on to land January and build silver."""
    jan = [_feature(i, ts_ms=JAN_2020_MS + i * DAY_MS, tsunami=1) for i in range(3)]
    out = str(tmp_path)
    stats = _etl_2020(spark, out, jan, nodata=True)
    assert (stats.events, stats.failed_windows, stats.emptied_windows) == (3, [], [])
    assert _landed(spark, out) == (
        3, ["ev00000000", "ev00000001", "ev00000002"], {(2020, 3)}, {(2020, 1, 3)}
    )
