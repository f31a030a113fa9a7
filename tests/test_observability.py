"""Observation-API pipeline metrics: counters ride the write job
(no second scan) and survive the pre-write probe of the sink paths
that still probe."""

from __future__ import annotations

import usgs_earthquake_data_pipeline_spark.pipeline as pipeline
import usgs_earthquake_data_pipeline_spark.sinks as sinks
from pyspark.sql import Observation
from usgs_earthquake_data_pipeline_spark.observability import quality_metrics

from test_pipeline import FakeApi, _feature


def _null_mag_feature(i: int, ts_ms: int = 1704067200000):
    f = _feature(i, ts_ms=ts_ms)
    f["properties"]["mag"] = None
    return f


def test_ingest_window_records_observed_metrics(spark, tmp_path):
    # 7 events, 2 with null magnitude; limit 5 -> pages of 5/2
    feats = [_feature(i) for i in range(5)] + [_null_mag_feature(i) for i in (5, 6)]
    api = FakeApi({"2024-01-01": feats})
    bronze = str(tmp_path / "bronze")
    stats = pipeline.IngestStats()
    total = pipeline.ingest_window_paged(
        spark, "http://x", "2024-01-01", "2024-02-01", bronze,
        limit=5, http_get=api, stats=stats,
    )
    assert total == 7
    assert len(stats.window_metrics) == 1
    m = stats.window_metrics[0]
    assert m["rows"] == 7
    assert m["null_magnitude"] == 2
    assert m["null_tsunami"] == 0
    assert m["min_eventtime"] == m["max_eventtime"]  # single fixture ts


def test_ingest_upsert_path_records_metrics(spark, tmp_path):
    """The first landing of the month appends, the rerun finds its
    partition and upserts: the counters ride both writes."""
    feats = [_feature(i) for i in range(3)]  # all at 2024-01-01T00:00Z
    api = FakeApi({"2024-01-01": feats})
    bronze = str(tmp_path / "bronze")
    stats = pipeline.IngestStats()
    for _ in range(2):
        pipeline.ingest_window_paged(
            spark, "http://x", "2024-01-01", "2024-02-01", bronze,
            limit=10, http_get=api, stats=stats,
        )
    assert [m["rows"] for m in stats.window_metrics] == [3, 3]
    assert sinks.read_partitioned_table(spark, bronze).count() == 3


def test_sink_observation_not_poisoned_by_isempty_probe(spark, tmp_path):
    """The captured metrics reflect the full write on both kinds of
    sink path: a partitioned append, which runs no probe, and a static
    overwrite, which probes with ``isEmpty`` first and attaches the
    observation after it, not the limit-1 probe scan."""
    df = spark.range(100).selectExpr(
        "id", "CAST(id % 3 AS INT) AS year", "CAST(id % 2 AS INT) AS month"
    )
    from pyspark.sql import functions as F

    for mode in ("append", "overwrite"):
        obs = Observation(f"probe_check_{mode}")
        ok = sinks.save_partitioned_table(
            df, str(tmp_path / mode), mode=mode,
            partition_cols=["year", "month"],
            observation=obs, metrics=[F.count(F.lit(1)).alias("rows")],
        )
        assert ok
        assert obs.get["rows"] == 100, mode


def test_empty_window_leaves_metrics_empty(spark, tmp_path):
    api = FakeApi({"2020-01-01": []})
    stats = pipeline.IngestStats()
    pipeline.ingest_window_paged(
        spark, "http://x", "2020-01-01", "2020-02-01",
        str(tmp_path / "bronze"), limit=10, http_get=api, stats=stats,
    )
    assert stats.window_metrics == []


def test_quality_metrics_are_observation_legal(spark):
    """Observation rejects distinct aggregates; the standard metric
    set must stay in the mergeable accumulator class."""
    from usgs_earthquake_data_pipeline_spark.sources.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events").limit(10)
    df = ev.selectExpr(
        "CAST(value AS DOUBLE) AS magnitude",
        "CAST(NULL AS INT) AS tsunami",
        "ts AS eventtime",
    )
    obs = Observation("legal")
    df.observe(obs, *quality_metrics()).count()
    m = obs.get
    assert m["rows"] == 10
    assert m["null_tsunami"] == 10


def test_streaming_listener_captures_progress_and_state(spark, tmp_path):
    """availableNow run of the watermarked silver aggregation: the
    listener must see the input rows and a bounded stateful-operator
    state (the watermark-bug alert signal)."""
    import time

    from pyspark.sql import functions as F

    from usgs_earthquake_data_pipeline_spark.observability import (
        StreamingMetricsListener,
    )

    src = str(tmp_path / "src")
    df = (
        spark.range(100)
        .select(
            F.col("id").alias("user_id"),
            F.timestamp_micros(
                (F.lit(1704067200000000) + F.col("id") * 60_000_000).cast("long")
            ).alias("ts"),
        )
    )
    df.write.parquet(src)

    lst = StreamingMetricsListener()
    spark.streams.addListener(lst.listener)
    try:
        stream = spark.readStream.schema("user_id long, ts timestamp").parquet(src)
        counts = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour"))
            .count()
        )
        q = (
            counts.writeStream.format("memory")
            .queryName("t_obs_counts")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        # listener events are delivered asynchronously
        deadline = time.time() + 30
        while time.time() < deadline and lst.total_input_rows() < 100:
            time.sleep(0.5)
    finally:
        spark.streams.removeListener(lst.listener)
    assert lst.total_input_rows() == 100
    # 100 events over ~100 minutes -> at most 3 hourly windows of state
    assert 1 <= lst.max_state_rows() <= 3
    assert all("triggerExecution" in p["durationMs"] for p in lst.progress)
