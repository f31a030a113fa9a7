"""Custom Python data-source tests against a loopback fake FDSN
service: month partitions, paging past the page limit, the week
fallback inside a partition read, the stream reader's offset contract,
agreement with the driver flatten, and the GeoJSON writer."""

from __future__ import annotations

import contextlib
import json
import threading
import time
import urllib.parse
from datetime import datetime, timezone
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from usgs_earthquake_data_pipeline_spark.pipeline import PAGE_LIMIT
from usgs_earthquake_data_pipeline_spark.schema import EVENT_COLUMNS
from usgs_earthquake_data_pipeline_spark.sources.geojson import (
    events_from_geojson_strings,
    geojson_docs_to_events,
)
from usgs_earthquake_data_pipeline_spark.sources.rest import FetchError
from usgs_earthquake_data_pipeline_spark.sources.usgs_datasource import (
    UsgsGeoJsonDataSource,
    UsgsGeoJsonReader,
    UsgsGeoJsonStreamReader,
    UsgsWindowPartition,
)

from tests.test_geojson import FULL_FEATURE, NO_DEPTH_FEATURE, SPARSE_FEATURE, _doc

HOUR_MS = 3_600_000
DAY_MS = 24 * HOUR_MS
MAR_2024_MS = 1709251200000  # 2024-03-01T00:00:00Z


def _ms(iso: str) -> float:
    return datetime.fromisoformat(iso).replace(tzinfo=timezone.utc).timestamp() * 1000


@contextlib.contextmanager
def fake_fdsn(features, fail=lambda start, end, offset: False, nodata=False):
    """A loopback FDSN event service over ``features``. It honours
    ``starttime``/``endtime`` (both inclusive), ``limit`` and 1-based
    ``offset``, and answers 503 to the requests ``fail(start, end,
    offset)`` picks; with ``nodata``, a request that matches no feature
    answers 204, FDSN's default. Yields the query URL, the ``(start,
    end, offset)`` of every request, and the body of every page it
    served."""
    calls, served = [], []

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):
            q = urllib.parse.parse_qs(urllib.parse.urlparse(self.path).query)
            start, end = q["starttime"][0], q["endtime"][0]
            offset, limit = int(q["offset"][0]), int(q["limit"][0])
            calls.append((start, end, offset))
            if fail(start, end, offset):
                self.send_error(503)
                return
            lo, hi = _ms(start), _ms(end)
            hits = [f for f in features if lo <= f["properties"]["time"] <= hi]
            page = hits[offset - 1 : offset - 1 + limit]
            if nodata and not page:
                self.send_response(204)
                self.end_headers()
                return
            body = _doc(page)
            served.append(body)
            self.send_response(200)
            self.send_header("Content-Length", str(len(body.encode())))
            self.end_headers()
            self.wfile.write(body.encode())

        def log_message(self, *args):
            pass

    server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    try:
        yield f"http://127.0.0.1:{server.server_port}/fdsnws/event/1/query", calls, served
    finally:
        server.shutdown()
        server.server_close()


def _month_outage(month_start: str, month_end: str):
    """503 to every request for the whole month, and to nothing else."""
    return lambda start, end, offset: (start, end) == (month_start, month_end)


def _feature_at(fid: str, time_ms: int) -> dict:
    return {
        "type": "Feature",
        "id": fid,
        "properties": {"mag": 1.0, "time": time_ms, "tsunami": 0},
        "geometry": {"type": "Point", "coordinates": [-120.0, 35.0]},
    }


def _read_2024(spark, url: str):
    spark.dataSource.register(UsgsGeoJsonDataSource)
    return geojson_docs_to_events(
        spark.read.format("usgs_geojson")
        .option("start_year", 2024)
        .option("api_url", url)
        .load()
    )


def _norm(df) -> set:
    out = set()
    for r in df.collect():
        d = r.asDict()
        d["geometry"] = json.dumps(json.loads(d["geometry"]), sort_keys=True)
        out.add(tuple(d[c] for c in EVENT_COLUMNS))
    return out


def test_datasource_reads_fixture_windows(spark):
    # December holds FULL_FEATURE, January the other two; the other
    # ten month windows read empty pages
    feats = [FULL_FEATURE, NO_DEPTH_FEATURE, SPARSE_FEATURE]
    with fake_fdsn(feats) as (url, _, _):
        df = _read_2024(spark, url)
        assert df.columns == EVENT_COLUMNS
        rows = {r["id"]: r for r in df.collect()}
        assert set(rows) == {"us7000abcd", "ci00000002", "nc00000003"}
        assert rows["us7000abcd"]["latitude"] == 36.12
        assert rows["ci00000002"]["depth"] is None
        assert df.rdd.getNumPartitions() == 12  # one partition per month window


def test_datasource_agrees_with_jvm_flatten(spark):
    feats = [FULL_FEATURE, NO_DEPTH_FEATURE, SPARSE_FEATURE]
    with fake_fdsn(feats) as (url, _, _):
        via_source = _read_2024(spark, url)
        assert _norm(via_source) == _norm(events_from_geojson_strings(spark, [_doc(feats)]))


MARCH = ("2024-03-01", "2024-04-01")


@pytest.fixture(scope="module")
def over_limit_march():
    """One page limit plus 9 events in March 2024, 170 s apart and none
    on a week boundary: the month takes two pages, each week one."""
    return [
        _feature_at(f"m{i:05d}", MAR_2024_MS + HOUR_MS + i * 170_000)
        for i in range(PAGE_LIMIT + 9)
    ]


def test_datasource_pages_a_window_over_the_limit(spark, over_limit_march):
    with fake_fdsn(over_limit_march) as (url, calls, served):
        got = _norm(_read_2024(spark, url))
        march = [o for s, e, o in calls if (s, e) == MARCH]
        want = _norm(events_from_geojson_strings(spark, list(served)))
    assert march == [1, PAGE_LIMIT + 1]
    assert len(got) == PAGE_LIMIT + 9
    assert got == want


def test_datasource_second_page_outage_yields_each_event_once(spark, over_limit_march):
    """The month's first page is served, its second answers 503: the
    partition keeps nothing of the month and reads its weeks instead."""
    second_page_down = lambda s, e, o: (s, e) == MARCH and o > 1  # noqa: E731
    with fake_fdsn(over_limit_march, fail=second_page_down) as (url, calls, _):
        ids = [r.id for r in _read_2024(spark, url).select("id").collect()]
    assert len(ids) == len(set(ids)) == PAGE_LIMIT + 9
    assert [o for s, e, o in calls if (s, e) == MARCH] == [1, PAGE_LIMIT + 1]
    weeks = [s for s, e, _ in calls if s.startswith("2024-03-") and (s, e) != MARCH]
    assert weeks == ["2024-03-01", "2024-03-08", "2024-03-15", "2024-03-22", "2024-03-29"]


def test_datasource_month_outage_falls_back_to_weeks(spark):
    # one event at noon on each day of March 2024
    feats = [
        _feature_at(f"d{d:02d}", MAR_2024_MS + d * DAY_MS + DAY_MS // 2)
        for d in range(31)
    ]
    with fake_fdsn(feats, fail=_month_outage(*MARCH)) as (url, calls, _):
        ids = [r.id for r in _read_2024(spark, url).select("id").collect()]
    assert sorted(ids) == [f"d{d:02d}" for d in range(31)]
    weeks = [s for s, e, _ in calls if s.startswith("2024-03-") and (s, e) != MARCH]
    assert weeks == ["2024-03-01", "2024-03-08", "2024-03-15", "2024-03-22", "2024-03-29"]


def test_datasource_reads_a_boundary_event_once(spark):
    """FDSN serves an event at exactly 2024-03-01T00:00 to both the
    February and the March partition; the month cut reads it once,
    with March."""
    feats = [
        _feature_at("feb", MAR_2024_MS - DAY_MS),
        _feature_at("edge", MAR_2024_MS),
        _feature_at("mar", MAR_2024_MS + DAY_MS),
    ]
    with fake_fdsn(feats) as (url, _, served):
        rows = _read_2024(spark, url).select("id", "month").collect()
    assert sum(body.count('"edge"') for body in served) == 2
    assert sorted((r.id, r.month) for r in rows) == [("edge", 3), ("feb", 2), ("mar", 3)]


def test_datasource_reads_a_204_month_as_empty(spark):
    """FDSN answers 204 to the ten months holding no event: they read
    empty, and the read yields the other two months' events."""
    feats = [FULL_FEATURE, NO_DEPTH_FEATURE, SPARSE_FEATURE]
    with fake_fdsn(feats, nodata=True) as (url, _, _):
        ids = {r.id for r in _read_2024(spark, url).select("id").collect()}
    assert ids == {"us7000abcd", "ci00000002", "nc00000003"}


def test_datasource_week_still_failing_raises_naming_it():
    """After the month and one of its weeks answer 503, every week is
    still tried, then the read fails naming the week: a Spark read has
    no ledger, so a skipped week would read as a quiet one."""
    feats = [_feature_at("q1", MAR_2024_MS + DAY_MS)]
    month_down = _month_outage(*MARCH)
    with fake_fdsn(
        feats, fail=lambda s, e, o: month_down(s, e, o) or s == "2024-03-15"
    ) as (url, calls, _):
        reader = UsgsGeoJsonReader({"api_url": url})
        with pytest.raises(FetchError, match=r"week 2024-03-15\.\.2024-03-22") as exc:
            list(reader.read(UsgsWindowPartition(*MARCH)))
    assert exc.value.status == 503
    assert [s for s, _, _ in calls][-2:] == ["2024-03-22", "2024-03-29"]


def _stream_ids(rows) -> list[str]:
    return sorted(f["id"] for (body,) in rows for f in json.loads(body)["features"])


def test_stream_reader_windows_and_offsets():
    """Unit-level offset contract: half-open windows, no overlap,
    deterministic replay via readBetweenOffsets."""
    feats = [
        _feature_at("w0a", 0),
        _feature_at("w0b", HOUR_MS - 1),
        _feature_at("w1a", HOUR_MS),
        _feature_at("w2a", 2 * HOUR_MS + 5),
    ]
    with fake_fdsn(feats) as (url, _, _):
        r = UsgsGeoJsonStreamReader(
            {"api_url": url, "window_ms": str(HOUR_MS), "start_ms": "0"}
        )
        off0 = r.initialOffset()
        rows1, off1 = r.read(off0)
        assert _stream_ids(rows1) == ["w0a", "w0b"]
        assert off1 == {"end_ms": HOUR_MS}
        rows2, off2 = r.read(off1)
        assert _stream_ids(rows2) == ["w1a"]
        # exactly-once replay from the offset log
        assert _stream_ids(r.readBetweenOffsets(off0, off1)) == ["w0a", "w0b"]
        assert _stream_ids(r.readBetweenOffsets(off1, off2)) == ["w1a"]


def test_stream_source_end_to_end(spark, tmp_path):
    """The registered format runs as a real readStream source: three
    micro-batches drain three windows into a memory sink."""
    feats = [
        _feature_at("s0", 10),
        _feature_at("s1", HOUR_MS + 10),
        _feature_at("s2", 2 * HOUR_MS + 10),
    ]
    spark.dataSource.register(UsgsGeoJsonDataSource)
    with fake_fdsn(feats) as (url, _, _):
        stream = geojson_docs_to_events(
            spark.readStream.format("usgs_geojson")
            .option("api_url", url)
            .option("window_ms", str(HOUR_MS))
            .option("start_ms", "0")
            .load()
        )
        assert stream.isStreaming
        assert stream.columns == EVENT_COLUMNS
        q = (
            stream.select("id", "eventtime")
            .writeStream.format("memory")
            .queryName("usgs_stream_sink")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(processingTime="0 seconds")
            .start()
        )
        try:
            deadline = time.time() + 120
            while time.time() < deadline:
                if spark.table("usgs_stream_sink").count() >= 3:
                    break
                time.sleep(1)
            got = {r.id for r in spark.table("usgs_stream_sink").collect()}
            assert {"s0", "s1", "s2"} <= got
        finally:
            q.stop()


def test_datasource_writer_roundtrip(spark, tmp_path):
    """df.write.format('usgs_geojson') emits one FeatureCollection per
    partition plus a _MANIFEST.json; reading the files back recovers
    every row's id, geometry (lon/lat/depth) and properties."""
    import json as _json

    spark.dataSource.register(UsgsGeoJsonDataSource)
    out = tmp_path / "gj"
    df = spark.createDataFrame(
        [
            ("w1", 10.0, 20.0, 5.5, 6.1, "deep quake"),
            ("w2", -110.25, 35.5, None, 4.2, "no depth"),
        ],
        "id string, longitude double, latitude double, depth double, "
        "mag double, place string",
    ).repartition(2)
    df.write.format("usgs_geojson").mode("overwrite").save(str(out))

    manifest = _json.loads((out / "_MANIFEST.json").read_text())
    assert manifest["n_features"] == 2
    feats = []
    for name in manifest["files"]:
        doc = _json.loads((out / name).read_text())
        assert doc["type"] == "FeatureCollection"
        assert doc["metadata"]["count"] == len(doc["features"])
        feats.extend(doc["features"])
    by_id = {f["id"]: f for f in feats}
    assert set(by_id) == {"w1", "w2"}
    assert by_id["w1"]["geometry"]["coordinates"] == [10.0, 20.0, 5.5]
    assert by_id["w2"]["geometry"]["coordinates"] == [-110.25, 35.5]
    assert by_id["w1"]["properties"]["place"] == "deep quake"
    assert by_id["w2"]["properties"]["mag"] == 4.2
    assert "id" not in by_id["w1"]["properties"]  # hoisted to Feature.id


def test_datasource_writer_overwrite_removes_stale_parts(spark, tmp_path):
    """mode('overwrite') into a non-empty directory must leave ONLY the
    new files (round-10 advice: stale part-*.json survived, so naive
    part-file globbers saw mixed old+new data)."""
    import json as _json

    spark.dataSource.register(UsgsGeoJsonDataSource)
    out = tmp_path / "gj"

    def write(rows, mode):
        df = spark.createDataFrame(
            rows, "id string, longitude double, latitude double, mag double"
        ).repartition(2)
        df.write.format("usgs_geojson").mode(mode).save(str(out))

    write([("old1", 1.0, 2.0, 3.0), ("old2", 4.0, 5.0, 6.0)], "overwrite")
    first_parts = {p.name for p in out.glob("part-*.json")}
    assert first_parts

    write([("new1", 7.0, 8.0, 9.0)], "overwrite")
    manifest = _json.loads((out / "_MANIFEST.json").read_text())
    on_disk = {p.name for p in out.glob("part-*.json")}
    assert on_disk == set(manifest["files"]), "stale part files survive"
    ids = {
        f["id"]
        for name in on_disk
        for f in _json.loads((out / name).read_text())["features"]
    }
    assert ids == {"new1"}
    assert manifest["n_features"] == 1


def test_datasource_writer_append_merges_manifest(spark, tmp_path):
    """mode('append') must keep earlier appends visible to
    manifest-honoring readers: the committed manifest carries the union
    of prior + new files and the cumulative feature count."""
    import json as _json

    spark.dataSource.register(UsgsGeoJsonDataSource)
    out = tmp_path / "gj"

    def write(rows, mode):
        df = spark.createDataFrame(
            rows, "id string, longitude double, latitude double, mag double"
        ).coalesce(1)
        df.write.format("usgs_geojson").mode(mode).save(str(out))

    write([("a1", 1.0, 2.0, 3.0), ("a2", 4.0, 5.0, 6.0)], "append")
    write([("b1", 7.0, 8.0, 9.0)], "append")
    manifest = _json.loads((out / "_MANIFEST.json").read_text())
    assert manifest["n_features"] == 3
    ids = {
        f["id"]
        for name in manifest["files"]
        for f in _json.loads((out / name).read_text())["features"]
    }
    assert ids == {"a1", "a2", "b1"}


def test_datasource_writer_part_names_unique_across_jobs():
    """Two writer JOBS get distinct per-job tokens embedded in their
    part names, so a second application whose task lands on the same
    (partition, attempt) pair can never truncate a committed file
    (round-11 review: taskAttemptId restarts with each SparkContext)."""
    from usgs_earthquake_data_pipeline_spark.sources.usgs_datasource import (
        UsgsGeoJsonWriter,
    )

    a = UsgsGeoJsonWriter({"path": "/tmp/x"}, overwrite=False)
    b = UsgsGeoJsonWriter({"path": "/tmp/x"}, overwrite=False)
    assert a.job_token != b.job_token
    assert len(a.job_token) == 12


def test_datasource_writer_requires_path(spark):
    import pytest as _pytest

    spark.dataSource.register(UsgsGeoJsonDataSource)
    df = spark.createDataFrame([("x",)], "id string")
    with _pytest.raises(Exception, match="path"):
        df.write.format("usgs_geojson").mode("append").save()


def test_datasource_writer_commit_publishes_manifest_before_deletes(
    tmp_path, monkeypatch
):
    """Crash-safety ordering (round-12 advice): if the process dies
    between the manifest publish and the stale-part deletes, readers
    must see a CONSISTENT manifest (new files, all present) — never
    one referencing removed files. Simulated by making os.remove blow
    up: the manifest on disk must already be the new one, with no
    .tmp debris."""
    import json as _json
    import os as _os

    from usgs_earthquake_data_pipeline_spark.sources.usgs_datasource import (
        GeoJsonCommit,
        UsgsGeoJsonWriter,
    )

    out = tmp_path / "gj"
    out.mkdir()
    stale = out / "part-oldjob-00000-1.json"
    stale.write_text(
        _json.dumps(
            {"type": "FeatureCollection", "metadata": {"count": 1},
             "features": [{}]}
        )
    )
    new = out / "part-newjob-00000-2.json"
    new.write_text(
        _json.dumps(
            {"type": "FeatureCollection", "metadata": {"count": 2},
             "features": [{}, {}]}
        )
    )
    writer = UsgsGeoJsonWriter({"path": str(out)}, overwrite=True)

    real_remove = _os.remove

    def exploding_remove(p):
        raise OSError("simulated crash during stale-part cleanup")

    monkeypatch.setattr(_os, "remove", exploding_remove)
    try:
        with __import__("pytest").raises(OSError):
            writer.commit([GeoJsonCommit(str(new), 2)])
    finally:
        monkeypatch.setattr(_os, "remove", real_remove)

    manifest = _json.loads((out / "_MANIFEST.json").read_text())
    assert manifest["files"] == [new.name]  # new manifest already live
    assert manifest["n_features"] == 2
    for name in manifest["files"]:  # every referenced file exists
        assert (out / name).exists()
    assert not list(out.glob("_MANIFEST.json.*.tmp"))  # replaced, no debris
    # the stale part survived the simulated crash — unreferenced, which
    # manifest-honoring readers ignore
    assert stale.exists()


def test_datasource_writer_next_commit_self_heals_orphans(tmp_path):
    """Self-heal (round-13): a part file referenced by neither the
    prior manifest nor the incoming winning set — the leftover of a
    crash between a prior commit's manifest publish and its stale-part
    deletes — is swept by the NEXT commit before it publishes, so
    naive globbers stop over-reading after one successful commit.
    Referenced prior parts survive an append commit untouched."""
    import json as _json

    from usgs_earthquake_data_pipeline_spark.sources.usgs_datasource import (
        GeoJsonCommit,
        UsgsGeoJsonWriter,
    )

    def feature_file(path, n):
        path.write_text(
            _json.dumps(
                {
                    "type": "FeatureCollection",
                    "metadata": {"count": n},
                    "features": [{} for _ in range(n)],
                }
            )
        )

    out = tmp_path / "gj"
    out.mkdir()
    committed = out / "part-job1-00000-1.json"
    orphan = out / "part-crashed-00000-9.json"
    incoming = out / "part-job2-00000-3.json"
    feature_file(committed, 2)
    feature_file(orphan, 5)
    feature_file(incoming, 1)
    # prior manifest references only the committed part — the orphan
    # simulates a crashed prior overwrite that never reached deletes
    (out / "_MANIFEST.json").write_text(
        _json.dumps(
            {
                "files": [committed.name],
                "file_counts": {committed.name: 2},
                "n_features": 2,
            }
        )
    )

    writer = UsgsGeoJsonWriter({"path": str(out)}, overwrite=False)
    writer.commit([GeoJsonCommit(str(incoming), 1)])

    assert not orphan.exists(), "orphan must be swept by the next commit"
    assert committed.exists() and incoming.exists()
    manifest = _json.loads((out / "_MANIFEST.json").read_text())
    assert set(manifest["files"]) == {committed.name, incoming.name}
    assert manifest["n_features"] == 3
    # glob view == manifest view again
    on_disk = {p.name for p in out.glob("part-*.json")}
    assert on_disk == set(manifest["files"])
