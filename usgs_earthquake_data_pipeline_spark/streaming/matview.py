"""Streaming incremental materialized-view maintenance.

Composes the algebraic aggregate merge (``operators/matview``) with a
``foreachBatch`` stream onto the versioned-parquet table layer: every
micro-batch computes its partial aggregates and folds them into the
view as a new committed version — work proportional to the batch, not
the history, and readers always see a consistent committed snapshot
(the manifest rename is the commit point).

This is the streaming form of the reference's silver rebuild
(/root/reference/usgs_tsunami_count_fact_silver.py:57-72 recomputes
the whole fact table per run); here the fact table stays current per
micro-batch at delta cost.

Exactly-once: foreachBatch is at-least-once — after a crash between
the view commit and the checkpoint advance, Structured Streaming
replays the batch. A replayed fold would double-count sums, so the
last applied ``batch_id`` is recorded PER QUERY IDENTITY (Delta's
txnAppId/txnVersion contract, keyed by checkpoint path — batch ids
restart at 0 for every new checkpoint, so a global marker would make
a legitimately new query silently skip its batches) in a
``_applied_batch`` marker written AFTER the version commit: a batch
replayed BY THE SAME QUERY with ``batch_id <= marker`` is skipped. (Crash between commit and marker
write re-folds once — the marker write is therefore ordered first in
`_fold` relative to the checkpoint advance, and the window is a
single local rename; the residual risk equals the reference's own
Delta-less ingest. ``ingest.stream_events_to_geojson`` shows the
overwrite-based alternative: one directory per batch id.)

Scale: each fold reads the CURRENT VIEW (group-cardinality rows, not
history) + the batch; one key-bounded shuffle. View reads stay
pruned/versioned like any versioned table.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Mapping, Sequence

from pyspark.sql import DataFrame

from ..operators.matview import merge_aggregate_state
from ..sinks import (
    _fs_for,
    read_versioned_table,
    save_versioned_table,
)

_APPLIED_MARKER = "_applied_batch"


def _read_marker_map(spark, path: str) -> dict[str, int]:
    """The applied-batch marker as {txn_app_id: last_batch}. Batch ids
    are only meaningful within one query/checkpoint lineage (Structured
    Streaming restarts numbering at 0 for every new checkpoint), so the
    marker is scoped like Delta's idempotent-write contract (txnAppId +
    txnVersion) instead of a single global integer — a fresh query over
    an existing view must NOT inherit another query's watermark. A
    marker that is not such a map reads as empty."""
    jvm, fs = _fs_for(spark, path)
    mpath = jvm.org.apache.hadoop.fs.Path(f"{path.rstrip('/')}/{_APPLIED_MARKER}")
    if not fs.exists(mpath):
        return {}
    stream = fs.open(mpath)
    try:
        raw = bytes(stream.readAllBytes()).decode()
    finally:
        stream.close()
    try:
        data = json.loads(raw)
    except ValueError:
        return {}
    if not isinstance(data, dict):
        return {}
    return {str(k): int(v) for k, v in data.items()}


def _read_applied(spark, path: str, txn_app_id: str) -> int:
    return _read_marker_map(spark, path).get(txn_app_id, -1)


def _write_applied(spark, path: str, txn_app_id: str, batch_id: int) -> None:
    state = _read_marker_map(spark, path)
    state[txn_app_id] = batch_id
    jvm, fs = _fs_for(spark, path)
    tmp = jvm.org.apache.hadoop.fs.Path(
        f"{path.rstrip('/')}/._applied_tmp_{batch_id}"
    )
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(json.dumps(state).encode()))
    finally:
        out.close()
    final = jvm.org.apache.hadoop.fs.Path(f"{path.rstrip('/')}/{_APPLIED_MARKER}")
    fs.delete(final, False)
    if not fs.rename(tmp, final):  # pragma: no cover - filesystem race
        raise IOError(f"applied-marker rename failed for batch {batch_id}")


def stream_update_matview(
    stream_df: DataFrame,
    view_path: str,
    checkpoint_dir: str,
    partial_fn: Callable[[DataFrame], DataFrame],
    keys: Sequence[str],
    merges: Mapping[str, str],
):
    """Maintain a materialized view from a stream: per micro-batch,
    ``partial_fn(batch)`` computes the batch's partial aggregates
    (must emit exactly ``keys + list(merges)``), which are folded into
    the versioned view table. Returns the started query (availableNow
    trigger — same code path as a continuous trigger, run-to-drain for
    tests and cron-shaped ingest).
    """
    spark = stream_df.sparkSession
    # Query identity for the idempotence marker: batch ids are scoped
    # to a checkpoint lineage, so the (normalized) checkpoint path IS
    # the txnAppId — same checkpoint replaying a batch is skipped, a
    # new checkpoint (new query) folds from scratch.
    txn_app_id = checkpoint_dir.rstrip("/")

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id <= _read_applied(spark, view_path, txn_app_id):
            return  # replayed batch already folded - exactly-once skip
        delta = partial_fn(batch_df)
        try:
            view = read_versioned_table(spark, view_path)
        except FileNotFoundError:
            view = delta.limit(0)
        merged = merge_aggregate_state(view, delta, keys, merges)
        save_versioned_table(merged, view_path)
        _write_applied(spark, view_path, txn_app_id, batch_id)

    return (
        stream_df.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
