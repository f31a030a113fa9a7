"""One way to pin a multiply-consumed frame.

Every operator/entry that pins a frame funnels through
:func:`materialize`, which picks the mechanism from the one thing that
decides it, the master:

- a local master (``local``, ``local[N]``, ``local[*]``, ``local[N,F]``)
  gets ``df.localCheckpoint(eager)``. One process, so the blocks live
  on the driver's own disks; lineage is truncated to an RDD scan.
- any other master gets ``df.checkpoint(eager)`` into Spark's own
  checkpoint dir. A cluster must set ``spark.checkpoint.dir`` (HDFS,
  S3, any store every executor can read), which Spark applies when the
  context starts; without it the first pin fails with Spark's
  "checkpoint directory has not been set" error. Executor-local
  ``localCheckpoint`` blocks would make the loss of one executor fail
  the job instead of recomputing it; reliable checkpoint files survive
  that loss, and lineage stays truncated.

Both mechanisms give the same rows; only fault tolerance differs.

Iterative loops pin one frame per round. :func:`release` drops the
blocks of a pin that a later, already computed pin has replaced, so a
long session holds one round's pin per loop rather than one per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _local_master(sc) -> bool:
    return sc.master == "local" or sc.master.startswith("local[")


def materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """Pin ``df`` so its subtree executes once: ``localCheckpoint`` on a
    local master, reliable ``checkpoint`` elsewhere (module docstring)."""
    if _local_master(df.sparkSession.sparkContext):
        return df.localCheckpoint(eager=eager)
    return df.checkpoint(eager=eager)


def materialize_lazy(df: DataFrame) -> DataFrame:
    """:func:`materialize` with ``eager=False``, chainable via
    ``df.transform(materialize_lazy)``."""
    return materialize(df, eager=False)


def release(df: DataFrame) -> None:
    """Unpersist the RDD under a frame :func:`materialize` returned.

    Only for a pin nothing will read again: a frame still planned over
    it fails once its blocks are gone. A reliable checkpoint holds no
    cached blocks, so there it is a no-op (its files are Spark's to
    clean, ``spark.cleaner.referenceTracking.cleanCheckpoints``).

    The pin is dropped by RDD id through the context: ``RDD.unpersist``
    would do the same and also log a WARN that a locally checkpointed
    RDD cannot be recomputed, once per released round."""
    rdd_id = df._jdf.queryExecution().analyzed().rdd().id()
    df.sparkSession.sparkContext._jsc.sc().unpersistRDD(rdd_id, False)
