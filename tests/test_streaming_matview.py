"""Streaming incremental materialized-view maintenance
(streaming/matview.py): per-micro-batch algebraic folds onto the
versioned table must equal a batch full aggregate, and replays must
not double-count."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from usgs_earthquake_data_pipeline_spark.sinks import (
    list_versions,
    read_versioned_table,
)
from usgs_earthquake_data_pipeline_spark.sources.tables import load_table
from usgs_earthquake_data_pipeline_spark.streaming.matview import (
    _read_applied,
    _write_applied,
    stream_update_matview,
)

MERGES = {"cnt": "count", "sum_value": "sum"}


def _partial(df):
    return df.groupBy(
        F.col("event_type").alias("etype")
    ).agg(
        F.count("*").alias("cnt"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("sum_value"),
    )


def _events_stream(spark, sf_dir, files_per_trigger=1):
    path = os.path.join(sf_dir, "events.parquet")
    schema = spark.read.parquet(path).schema
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(sf_dir)
    )


def test_stream_matview_equals_batch_aggregate(spark, sf_dir, tmp_path):
    view = str(tmp_path / "view")
    ckpt = str(tmp_path / "ckpt")
    q = stream_update_matview(
        _events_stream(spark, sf_dir),
        view,
        ckpt,
        _partial,
        keys=["etype"],
        merges=MERGES,
    )
    assert q.awaitTermination(180), "stream did not drain"
    got = {
        r.etype: (r.cnt, r.sum_value)
        for r in read_versioned_table(spark, view).collect()
    }
    expected = {
        r.etype: (r.cnt, r.sum_value)
        for r in _partial(load_table(spark, sf_dir, "events")).collect()
    }
    assert got == expected  # incremental == full recompute, decimal-exact


def test_stream_matview_resume_processes_only_new_data(spark, sf_dir, tmp_path):
    """Restarting against the same checkpoint with no new files adds
    no versions and changes no values."""
    view = str(tmp_path / "view")
    ckpt = str(tmp_path / "ckpt")

    def run():
        q = stream_update_matview(
            _events_stream(spark, sf_dir),
            view,
            ckpt,
            _partial,
            keys=["etype"],
            merges=MERGES,
        )
        assert q.awaitTermination(180)

    run()
    before = {
        r.etype: (r.cnt, r.sum_value)
        for r in read_versioned_table(spark, view).collect()
    }
    n_versions = len(list_versions(spark, view))
    run()  # same checkpoint, nothing new to process
    after = {
        r.etype: (r.cnt, r.sum_value)
        for r in read_versioned_table(spark, view).collect()
    }
    assert after == before
    assert len(list_versions(spark, view)) == n_versions


def test_stream_matview_replayed_batch_is_skipped(spark, sf_dir, tmp_path):
    """The at-least-once crash window: a batch whose fold committed
    (marker written) but whose CHECKPOINT didn't advance is replayed
    by the engine under the SAME query identity — the scoped marker
    must make that replay a no-op. Simulated by pre-writing the marker
    for the checkpoint's txn id on the already-folded view, then
    starting the query with a fresh (never-advanced) checkpoint dir:
    the engine delivers batch 0, which the marker marks applied."""
    view = str(tmp_path / "view")
    ckpt = str(tmp_path / "ckpt")
    q = stream_update_matview(
        _events_stream(spark, sf_dir),
        view,
        ckpt,
        _partial,
        keys=["etype"],
        merges=MERGES,
    )
    assert q.awaitTermination(180)
    committed = {
        r.etype: (r.cnt, r.sum_value)
        for r in read_versioned_table(spark, view).collect()
    }
    last = _read_applied(spark, view, ckpt.rstrip("/"))
    assert last >= 0
    # crash-window replay: the fold committed (marker present for this
    # txn id) but the checkpoint is gone — the engine re-delivers
    # batch 0 under the same identity, and the fold must skip it
    ckpt_replay = str(tmp_path / "ckpt_replay")
    _write_applied(spark, view, ckpt_replay.rstrip("/"), last)
    q2 = stream_update_matview(
        _events_stream(spark, sf_dir),
        view,
        ckpt_replay,
        _partial,
        keys=["etype"],
        merges=MERGES,
    )
    assert q2.awaitTermination(180)
    replayed = {
        r.etype: (r.cnt, r.sum_value)
        for r in read_versioned_table(spark, view).collect()
    }
    assert replayed == committed  # no double counting


def test_stream_matview_new_query_is_not_skipped(spark, sf_dir, tmp_path):
    """A legitimately NEW query (fresh checkpoint, no marker for its
    identity) over an existing view must NOT inherit another query's
    batch watermark — the pre-fix conflation silently dropped its
    data (batch ids restart at 0 per checkpoint). The new query folds
    its batches, doubling the counts of the same input."""
    view = str(tmp_path / "view")
    for ckpt in ("ckpt_a", "ckpt_b"):
        q = stream_update_matview(
            _events_stream(spark, sf_dir),
            view,
            str(tmp_path / ckpt),
            _partial,
            keys=["etype"],
            merges=MERGES,
        )
        assert q.awaitTermination(180)
        if ckpt == "ckpt_a":
            first = {
                r.etype: (r.cnt, r.sum_value)
                for r in read_versioned_table(spark, view).collect()
            }
    second = {
        r.etype: (r.cnt, r.sum_value)
        for r in read_versioned_table(spark, view).collect()
    }
    assert second == {
        k: (2 * c, 2 * s) for k, (c, s) in first.items()
    }  # new identity folded — not silently skipped


def test_applied_marker_roundtrip(spark, tmp_path):
    path = str(tmp_path / "view")
    os.makedirs(path)
    assert _read_applied(spark, path, "qA") == -1
    _write_applied(spark, path, "qA", 7)
    assert _read_applied(spark, path, "qA") == 7
    _write_applied(spark, path, "qA", 8)
    assert _read_applied(spark, path, "qA") == 8
    # independent per-identity watermarks
    assert _read_applied(spark, path, "qB") == -1
    _write_applied(spark, path, "qB", 2)
    assert _read_applied(spark, path, "qB") == 2
    assert _read_applied(spark, path, "qA") == 8


def test_applied_marker_legacy_garbage_ignored(spark, tmp_path):
    path = str(tmp_path / "view")
    os.makedirs(path)
    with open(os.path.join(path, "_applied_batch"), "w") as fh:
        fh.write('"not-a-batch-id"')
    assert _read_applied(spark, path, "qA") == -1
