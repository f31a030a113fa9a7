"""Structured Streaming tests: file-arrival bronze ingest and the
watermarked silver aggregation, both under availableNow triggers."""

from __future__ import annotations

import json
import os
import re

import pytest
from pyspark.sql import functions as F

from usgs_earthquake_data_pipeline_spark import sinks
from usgs_earthquake_data_pipeline_spark.streaming.ingest import (
    stream_geojson_to_bronze,
    stream_silver_counts,
)

JAN_2024 = 1704067200000  # 2024-01-01T00:00:00Z


def _doc(ids, ts_ms=JAN_2024, tsunami=1):
    return json.dumps(
        {
            "type": "FeatureCollection",
            "metadata": {"generated": 0, "count": len(ids)},
            "features": [
                {
                    "type": "Feature",
                    "id": i,
                    "properties": {"mag": 1.0, "time": ts_ms, "tsunami": tsunami},
                    "geometry": {"type": "Point", "coordinates": [1.0, 2.0]},
                }
                for i in ids
            ],
        }
    )


def test_stream_bronze_ingest_and_incremental(spark, tmp_path):
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    bronze = str(tmp_path / "bronze")
    ckpt = str(tmp_path / "ckpt")

    (inbox / "page1.json").write_text(_doc(["a1", "a2"]))
    (inbox / "page2.json").write_text(_doc(["a3"], ts_ms=JAN_2024 + 86400000))

    q = stream_geojson_to_bronze(spark, str(inbox), bronze, ckpt)
    q.awaitTermination(120)
    back = sinks.read_partitioned_table(spark, bronze)
    assert back.count() == 3
    assert set(back.select("year").distinct().toPandas()["year"]) == {2024}

    # incremental: a new file arrives; restart picks up ONLY the new one
    (inbox / "page3.json").write_text(_doc(["a4", "a5"]))
    q2 = stream_geojson_to_bronze(spark, str(inbox), bronze, ckpt)
    q2.awaitTermination(120)
    assert sinks.read_partitioned_table(spark, bronze).count() == 5


def test_stream_silver_watermarked_counts(spark, tmp_path):
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    bronze = str(tmp_path / "bronze")
    (inbox / "p.json").write_text(
        _doc(["b1", "b2", "b3"]) )
    q = stream_geojson_to_bronze(
        spark, str(inbox), bronze, str(tmp_path / "c1")
    )
    q.awaitTermination(120)

    q2 = stream_silver_counts(
        spark, bronze, str(tmp_path / "c2"), query_name="t_silver"
    )
    q2.awaitTermination(120)
    out = spark.sql("SELECT * FROM t_silver").collect()
    assert len(out) == 1
    assert out[0].tsunami_count == 3
    assert out[0].window_start is not None


def _land(spark, tmp_path, doc, ckpt="ckpt"):
    """Stream one GeoJSON document file into ``tmp_path/bronze``."""
    src = tmp_path / "in"
    src.mkdir(exist_ok=True)
    (src / f"{ckpt}.json").write_text(doc + "\n")
    bronze = str(tmp_path / "bronze")
    q = stream_geojson_to_bronze(spark, str(src), bronze, str(tmp_path / ckpt))
    q.awaitTermination(180)
    return bronze


def test_bronze_exactly_once_on_retrigger(spark, tmp_path):
    """Re-triggering with no new input adds nothing; new input adds
    exactly its rows (committed through the sink's log)."""
    src = str(tmp_path / "in")
    bronze = str(tmp_path / "bronze")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    with open(os.path.join(src, "a.json"), "w") as f:
        f.write(_doc(["a1", "a2", "a3"]) + "\n")

    q = stream_geojson_to_bronze(spark, src, bronze, ckpt)
    q.awaitTermination(180)
    assert spark.read.parquet(bronze).count() == 3

    # retrigger with nothing new: checkpoint prevents reprocessing
    q = stream_geojson_to_bronze(spark, src, bronze, ckpt)
    q.awaitTermination(180)
    assert spark.read.parquet(bronze).count() == 3

    with open(os.path.join(src, "b.json"), "w") as f:
        f.write(_doc(["b1"]) + "\n")
    q = stream_geojson_to_bronze(spark, src, bronze, ckpt)
    q.awaitTermination(180)
    assert spark.read.parquet(bronze).count() == 4


def test_bronze_replay_from_fresh_checkpoint_is_idempotent(spark, tmp_path):
    """A fresh checkpoint over a root whose sink log exists would
    restart at batch 0, and the log would skip its batches, new input
    included: it is refused, naming the root, and the rows stay."""
    bronze = _land(spark, tmp_path, _doc(["a1", "a2"]), ckpt="ckpt1")
    assert spark.read.parquet(bronze).count() == 2
    src = tmp_path / "in"
    (src / "b.json").write_text(_doc(["b1"]) + "\n")
    with pytest.raises(ValueError, match=re.escape(bronze)):
        stream_geojson_to_bronze(spark, str(src), bronze, str(tmp_path / "ckpt2"))
    df = spark.read.parquet(bronze)
    assert df.count() == 2
    assert df.select("id").distinct().count() == 2
    # the root's own checkpoint resumes and lands the new input
    q = stream_geojson_to_bronze(spark, str(src), bronze, str(tmp_path / "ckpt1"))
    q.awaitTermination(180)
    assert spark.read.parquet(bronze).count() == 3


def test_stream_bronze_feeds_silver_layer(spark, tmp_path):
    """A stream-landed bronze, read by its declared schema, is the
    batch bronze to the silver layer: the same facts come out."""
    from usgs_earthquake_data_pipeline_spark.operators.silver import (
        build_silver_layer,
    )
    from usgs_earthquake_data_pipeline_spark.schema import USGS_EVENTS_SCHEMA

    feb_2024 = JAN_2024 + 31 * 86400000
    docs = _doc(["t1", "t2"]) + "\n" + _doc(["n1"], ts_ms=feb_2024, tsunami=0)
    bronze = _land(spark, tmp_path, docs)
    events = sinks.read_partitioned_table(
        spark, bronze, schema=USGS_EVENTS_SCHEMA
    )
    assert events.count() == 3
    yearly, monthly = str(tmp_path / "yearly"), str(tmp_path / "monthly")
    build_silver_layer(events, yearly, monthly)
    got = sinks.read_partitioned_table(spark, yearly).select(
        "year", "tsunami_yearly_count"
    )
    assert [tuple(r) for r in got.collect()] == [(2024, 2)]
    got = sinks.read_partitioned_table(spark, monthly).select(
        "year", "month", "tsunami_monthly_count"
    )
    assert [tuple(r) for r in got.collect()] == [(2024, 1, 2)]


def test_batch_write_into_stream_bronze_raises(spark, tmp_path):
    """The sink's log hides files a batch write adds, so every
    append-type write refuses a stream-landed root, naming it, before
    launching any Spark job; the bronze keeps its rows."""
    from usgs_earthquake_data_pipeline_spark.schema import USGS_EVENTS_SCHEMA

    bronze = _land(spark, tmp_path, _doc(["a1", "a2"]))
    row = sinks.read_partitioned_table(
        spark, bronze, schema=USGS_EVENTS_SCHEMA
    ).limit(1)
    writes = {
        "append": lambda: sinks.save_partitioned_table(row, bronze),
        "unpartitioned append": lambda: sinks.save_partitioned_table(
            row, bronze, partition_cols=[]
        ),
        "upsert": lambda: sinks.upsert_partitions(row, bronze),
        "merge": lambda: sinks.merge_rows(spark, bronze, row, ["id"]),
    }
    sc = spark.sparkContext
    for name, write in writes.items():
        sc.setJobGroup(name, name)
        try:
            with pytest.raises(ValueError, match=re.escape(bronze)):
                write()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert sc.statusTracker().getJobIdsForGroup(name) == [], name
    assert sinks.read_partitioned_table(spark, bronze).count() == 2


def test_run_etl_refuses_a_stream_landed_bronze(spark, tmp_path):
    """The batch ETL's bronze landing is a batch write: pointed at a
    stream-landed root it fails loudly instead of writing files no
    reader would see."""
    from usgs_earthquake_data_pipeline_spark import pipeline

    bronze = _land(spark, tmp_path, _doc(["a1", "a2"]))
    with pytest.raises(ValueError, match="_spark_metadata"):
        pipeline.run_etl(
            spark, 2024, 2024, bronze, str(tmp_path / "yearly"),
            str(tmp_path / "monthly"), api_url="http://x", limit=100,
            http_get=lambda url: (200, _doc(["z1"])),
        )
    assert sinks.read_partitioned_table(spark, bronze).count() == 2


def test_stream_stream_join_state_is_watermark_bounded(spark, sf_dir):
    """Attach the metrics listener to the streaming conversion-join
    entry: join state must stay far below the total event count —
    the hard evidence behind every 'watermark-bounded state' claim
    in the streaming family."""
    import time

    from usgs_earthquake_data_pipeline_spark.observability import (
        StreamingMetricsListener,
    )
    from usgs_earthquake_data_pipeline_spark.plans.catalog import CATALOG
    from usgs_earthquake_data_pipeline_spark.sources.tables import load_table

    n_events = load_table(spark, sf_dir, "events").count()
    lst = StreamingMetricsListener()
    spark.streams.addListener(lst.listener)
    try:
        CATALOG["streaming_conversion_join"].spark_fn(spark, sf_dir).collect()
        deadline = time.time() + 30
        while time.time() < deadline and not lst.progress:
            time.sleep(0.5)
    finally:
        spark.streams.removeListener(lst.listener)
    assert lst.progress, "listener saw no progress events"
    state = lst.max_state_rows()
    # join state holds only the filtered click/purchase slices inside
    # the watermark horizon — a constant fraction, never the stream
    assert 0 < state < n_events, (state, n_events)


def test_stream_events_to_geojson_sink(spark, tmp_path):
    """The usgs_geojson STREAM-write leg: a file stream of events
    lands one GeoJSON batch=<id> directory per micro-batch (own
    manifest), features round-trip, and replaying the same batch
    (fresh checkpoint, worst case) overwrites itself — no duplicate
    features."""
    from usgs_earthquake_data_pipeline_spark.streaming.ingest import (
        stream_events_to_geojson,
    )

    src = tmp_path / "ev_in"
    src.mkdir()
    out = tmp_path / "gj_out"
    (src / "a.json").write_text(
        '{"id": "q1", "longitude": 10.0, "latitude": 20.0, "mag": 5.0}\n'
        '{"id": "q2", "longitude": -30.0, "latitude": 40.0, "mag": 3.2}\n'
    )
    events = spark.readStream.schema(
        "id string, longitude double, latitude double, mag double"
    ).json(str(src))
    q = stream_events_to_geojson(
        events, str(out), str(tmp_path / "ck1")
    )
    q.awaitTermination(180)

    batch_dirs = sorted(out.glob("batch=*"))
    assert len(batch_dirs) == 1
    manifest = json.loads((batch_dirs[0] / "_MANIFEST.json").read_text())
    assert manifest["n_features"] == 2
    feats = {
        f["id"]: f
        for name in manifest["files"]
        for f in json.loads((batch_dirs[0] / name).read_text())["features"]
    }
    assert set(feats) == {"q1", "q2"}
    assert feats["q1"]["geometry"]["coordinates"] == [10.0, 20.0]

    # worst-case replay: fresh checkpoint re-runs batch 0 onto itself
    events2 = spark.readStream.schema(
        "id string, longitude double, latitude double, mag double"
    ).json(str(src))
    q2 = stream_events_to_geojson(
        events2, str(out), str(tmp_path / "ck2")
    )
    q2.awaitTermination(180)
    manifest2 = json.loads((batch_dirs[0] / "_MANIFEST.json").read_text())
    assert manifest2["n_features"] == 2  # overwrote itself
    on_disk = {p.name for p in batch_dirs[0].glob("part-*.json")}
    assert on_disk == set(manifest2["files"])  # no stale parts either


def test_streaming_theta_daily_rationale_and_booleans(spark, sf_dir):
    """The round-13 streaming sketch entry exists because EXACT
    streaming distinct is unsupported — pin that premise (a streaming
    countDistinct agg must be rejected by the engine) and the entry's
    oracle-pinned bound."""
    import pytest as _pytest

    from usgs_earthquake_data_pipeline_spark.plans.catalog import CATALOG
    from usgs_earthquake_data_pipeline_spark.plans.streaming_entries import (
        _events_stream,
        _run_available_now,
    )

    ev = _events_stream(spark, sf_dir)
    exact_agg = ev.groupBy(F.window("ts", "1 day")).agg(
        F.countDistinct("event_id").alias("n")
    )
    with _pytest.raises(Exception, match="[Dd]istinct"):
        _run_available_now(exact_agg, "theta_rationale_probe", "complete")

    rows = CATALOG["streaming_theta_daily"].spark_fn(spark, sf_dir).collect()
    assert len(rows) == 30
    for r in rows:
        assert r["within_bound"], r
        if r["exact_distinct"] < 256:  # small-set branch is exact
            assert r["est_distinct"] == r["exact_distinct"]
