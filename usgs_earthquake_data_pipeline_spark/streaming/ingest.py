"""Structured Streaming bronze/silver pipeline.

The reference approximates streaming with an hourly cron re-running a
paged batch ingest (deploy.yml:53) and hints at intended streaming
reads via ignoreDeletes/readChangeFeed options it passes to Polars
(usgs_read_polars.py:34-37). This module is the Spark-native version:

- ``stream_geojson_to_bronze``: file-arrival stream of GeoJSON
  documents (one FeatureCollection per line) → parse (same
  from_json/explode plan as batch) → Spark's native parquet file sink,
  partitioned ``year, month`` like the batch bronze. ``availableNow``
  trigger = the cron-batch shape; ``processingTime`` = continuous
  ingest. Delivery is EXACTLY-ONCE: the sink commits each batch's
  files to its ``_spark_metadata`` log under the batch id, so a batch
  replayed after a crash finds its entry and is skipped, and readers
  that go through Spark see only committed files. The
  log binds the root to one checkpoint: a new checkpoint would restart
  at batch 0, and the sink would skip every batch id its log already
  holds, new input included, so a new checkpoint on a root whose log
  exists is refused (``ValueError``, file-system calls only).

  Batch writers must not share a stream bronze root: Spark reads such
  a root through its log, so files a batch append adds would never be
  read. The ``sinks`` append and upsert writes refuse a target that
  holds ``_spark_metadata``.
- ``stream_silver_counts``: incremental silver — watermarked windowed
  counts over eventtime, the streaming twin of fact_tsunami_monthly.
  Late events beyond the watermark are dropped (documented bound),
  in-watermark updates revise the counts.

At scale the bronze landing is a stateless map per micro-batch, and
the silver counts keep state keyed by window — bounded by the
watermark horizon, not by input volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..sinks import RAW_PARTITION_COLS, _fs_for
from ..sources.geojson import geojson_docs_to_events


def _exists(spark, path: str, child: str) -> bool:
    jvm, fs = _fs_for(spark, path)
    return fs.exists(jvm.org.apache.hadoop.fs.Path(path, child))


def stream_geojson_to_bronze(
    spark: SparkSession,
    input_path: str,
    bronze_path: str,
    checkpoint_path: str,
    *,
    available_now: bool = True,
) -> StreamingQuery:
    """Bronze ingest stream: watch ``input_path`` for GeoJSON document
    files (one FeatureCollection JSON per line), flatten to canonical
    events and land them exactly-once through Spark's native parquet
    file sink, partitioned ``year, month``. One checkpoint per
    ``bronze_path``, and no batch writer there (module docstring): a
    checkpoint no query has started from (it holds no ``metadata``)
    raises ``ValueError`` on a root that holds ``_spark_metadata``,
    while resuming the root's own checkpoint works."""
    if _exists(spark, bronze_path, "_spark_metadata") and not _exists(
        spark, checkpoint_path, "metadata"
    ):
        raise ValueError(
            f"{bronze_path} already holds a file sink's log (_spark_metadata) "
            f"and {checkpoint_path} is a new checkpoint: it would restart at "
            "batch 0, and the sink would skip its new input"
        )
    raw = spark.readStream.text(input_path)
    events = geojson_docs_to_events(raw, "value")
    writer = (
        events.writeStream.format("parquet")
        .partitionBy(*RAW_PARTITION_COLS)
        .option("path", bronze_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_silver_counts(
    spark: SparkSession,
    bronze_path: str,
    checkpoint_path: str,
    query_name: str = "silver_tsunami_counts",
    *,
    watermark: str = "30 days",
    window_size: str = "7 days",
    available_now: bool = True,
) -> StreamingQuery:
    """Incremental silver: tsunami-event counts in tumbling eventtime
    windows with a late-data watermark, maintained into an in-memory
    sink (swap for a Delta/parquet upsert sink in production).

    Streaming twin of fact_tsunami_monthly: same filter + time-bucket
    + count shape, expressed as a watermarked stateful aggregation.
    """
    from ..schema import USGS_EVENTS_SCHEMA

    bronze = (
        spark.readStream.schema(USGS_EVENTS_SCHEMA)
        .format("parquet")
        .load(bronze_path)
    )
    counts = (
        bronze.filter(F.col("tsunami") == 1)
        .withWatermark("eventtime", watermark)
        .groupBy(F.window("eventtime", window_size).alias("win"))
        .agg(F.count("*").alias("tsunami_count"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "tsunami_count",
        )
    )
    writer = (
        counts.writeStream.outputMode("update")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_path)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_events_to_geojson(
    events_stream: DataFrame,
    out_path: str,
    checkpoint_path: str,
    *,
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming leg of the ``usgs_geojson`` SINK — completes the
    custom DataSource's matrix (batch read + stream read + batch
    write + STREAM write; reference parity P9/K2 as a continuous
    export): every micro-batch lands as GeoJSON FeatureCollection
    files through the batch writer, one ``batch=<id>`` directory per
    micro-batch in OVERWRITE mode. The directory name is a
    deterministic function of batchId, so foreachBatch's
    at-least-once replay overwrites ITSELF instead of duplicating
    features. (The bronze landing needs no such recipe: its file
    sink's log skips a replayed batch.) Each batch
    directory carries its own ``_MANIFEST.json`` (manifest published
    before stale-part deletes, so readers never see a torn commit).

    At scale: the writer serializes one FeatureCollection per
    partition — a narrow map over the micro-batch, no added shuffle;
    the per-batch directory keeps commit scope (and replay scope)
    bounded to one trigger's data."""
    spark = events_stream.sparkSession
    from ..sources.usgs_datasource import UsgsGeoJsonDataSource

    spark.dataSource.register(UsgsGeoJsonDataSource)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():  # empty-trigger skip (reference F3)
            return
        (
            batch_df.write.format("usgs_geojson")
            .mode("overwrite")
            .save(f"{out_path.rstrip('/')}/batch={batch_id}")
        )

    writer = events_stream.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint_path
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
