"""Gap-sessionization tests: batch twin correctness on hand-computed
sessions, streaming operator vs batch twin on the same data."""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import functions as F

from usgs_earthquake_data_pipeline_spark.streaming.sessionize import (
    sessionize_batch,
    sessionize_stream,
)

T0 = datetime(2024, 1, 1, 12, 0, 0)


def _events():
    """Two users; user 1 has two sessions split by a >30min gap."""
    rows = [
        (1, T0, 10.0),
        (1, T0 + timedelta(minutes=10), 5.0),
        (1, T0 + timedelta(minutes=20), 1.0),
        # 40-minute gap → new session
        (1, T0 + timedelta(minutes=60), 2.0),
        (2, T0 + timedelta(minutes=5), 7.0),
    ]
    return rows


def test_batch_sessionization(spark):
    df = spark.createDataFrame(_events(), "user_id long, ts timestamp, value double")
    out = {
        (r.user_id, r.session_start, r.n_events, r.sum_value)
        for r in sessionize_batch(df, gap_seconds=1800).collect()
    }
    assert (1, T0, 3, 16.0) in out
    assert (1, T0 + timedelta(minutes=60), 1, 2.0) in out
    assert (2, T0 + timedelta(minutes=5), 1, 7.0) in out
    assert len(out) == 3


def test_stream_sessionization_matches_batch(spark, tmp_path):
    df = spark.createDataFrame(_events(), "user_id long, ts timestamp, value double")
    src = str(tmp_path / "src")
    df.write.parquet(src)

    stream = (
        spark.readStream.schema("user_id long, ts timestamp, value double")
        .parquet(src)
    )
    sessions = sessionize_stream(stream, gap_seconds=1800, watermark="0 seconds")
    q = (
        sessions.writeStream.format("memory")
        .queryName("t_sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.user_id, r.session_start, r.n_events, r.sum_value)
        for r in spark.sql("SELECT * FROM t_sessions").collect()
    }
    # the watermark never advances past the final events in a single
    # availableNow run, so only sessions closed by a later event in the
    # SAME run are emitted: user 1's first session (closed by its
    # minute-60 event). Open sessions stay in state — correct streaming
    # semantics.
    assert (1, T0, 3, 16.0) in got


def test_stream_late_event_does_not_shrink_session(spark, tmp_path):
    """An in-watermark late event arriving in a LATER micro-batch must
    extend the open session's interval, not drag session_end (and the
    state timeout) backwards."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "src"
    src.mkdir()

    def write(name, rows):
        pq.write_table(
            pa.table(
                {
                    "user_id": pa.array([r[0] for r in rows], pa.int64()),
                    "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                    "value": pa.array([r[2] for r in rows], pa.float64()),
                }
            ),
            str(src / name),
        )

    # batch 1: open session [T0, T0+20]
    write("a.parquet", [(1, T0, 10.0), (1, T0 + timedelta(minutes=20), 1.0)])
    # batch 2: late event inside the session, then a gap-breaker
    write(
        "b.parquet",
        [
            (1, T0 + timedelta(minutes=10), 5.0),
            (1, T0 + timedelta(minutes=80), 2.0),
        ],
    )
    now = time.time()
    os.utime(src / "a.parquet", (now - 100, now - 100))  # processed first
    os.utime(src / "b.parquet", (now, now))

    stream = (
        spark.readStream.schema("user_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    sessions = sessionize_stream(stream, gap_seconds=1800, watermark="1 hour")
    q = (
        sessions.writeStream.format("memory")
        .queryName("t_sessions_late")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), "streaming run did not terminate"
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events, r.sum_value)
        for r in spark.sql("SELECT * FROM t_sessions_late").collect()
    }
    assert (1, T0, T0 + timedelta(minutes=20), 3, 16.0) in got


def test_batch_sessionization_on_driver_events(spark, sf_dir):
    from usgs_earthquake_data_pipeline_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    sessions = sessionize_batch(ev, gap_seconds=600)
    # invariants: per-user event counts conserved; sessions don't overlap
    n_events = ev.count()
    assert sessions.agg(F.sum("n_events")).first()[0] == n_events
    overlap = (
        sessions.alias("a")
        .join(
            sessions.alias("b"),
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.session_start") < F.col("b.session_start"))
            & (F.col("b.session_start") <= F.col("a.session_end")),
        )
        .count()
    )
    assert overlap == 0
