"""SparkSession factory.

The reference pins no engine config at all (DuckDB/Polars defaults,
single node). Here we centralize the Spark config that its behavior
implies:

- UTC session timezone. The reference converts epoch-ms with
  local-timezone ``datetime.fromtimestamp`` (reference
  usgs-earthquake-data-ingest.py:89-101,136-141); we deliberately pin
  UTC instead so results are host-independent and match a DuckDB
  oracle bit-for-bit.
- AQE on: runtime shuffle-partition coalescing + skew-join splitting,
  which is what makes one static ``spark.sql.shuffle.partitions``
  setting survive a 1000x scale-up.
- Arrow on for any pandas interchange (the reference is Arrow-columnar
  end-to-end via Polars; Arrow-batched Pandas UDFs are our equivalent).
- ``spark.sql.legacy.parquet.nanosAsLong=true``: backward compat for
  testdata generations whose ``events.parquet`` stored
  ``TIMESTAMP(NANOS)``, which Spark's parquet reader otherwise rejects
  (PARQUET_TYPE_ILLEGAL). With the flag such a column reads as bigint
  nanoseconds; ``sources.tables.normalize_timestamp_col`` converts it
  (or the current generation's ``timestamp[us]``/TIMESTAMP_NTZ) to a
  proper session-TZ timestamp.

No table-format extension or extra jars: bronze and silver are
Hive-partitioned parquet (``sinks.py``), which Spark reads and writes
natively. The reference's tables are Delta
(save_to_raw_delta_prod.py:92-147); delta-spark is not a dependency
here, so no Delta target is offered.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

# Conf that is safe (and required) to set on an already-running session.
# Applied both at build time and by configure_runtime() so the driver's
# externally created SparkSession gets identical semantics.
_RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Runtime bloom-filter join pruning (InjectRuntimeFilter): a
    # selective dim-side filter builds a bloom filter that prunes the
    # fact side's shuffle rows before a non-broadcast join. Default-on
    # since Spark 3.4; pinned explicitly because the 100 TB plans
    # depend on it (SCALING.md). Size thresholds stay at their
    # defaults — creation side <= 10 MB, application scan >= 10 GB —
    # which only ever trigger at real scale (tests force them down to
    # assert the injection, tests/test_scale_paths.py).
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # Compat: older testdata stored TIMESTAMP(NANOS); read as long,
    # normalized in the loader. Harmless for timestamp[us] data.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def _ensure_driver_memory() -> None:
    """Pin the driver heap for fresh in-process local sessions.

    pyspark-as-a-library launches the JVM via ``launch_gateway`` reading
    ``PYSPARK_SUBMIT_ARGS``; builder conf arrives *after* ``-Xmx`` is
    fixed, so ``spark.driver.memory`` on the builder is a no-op for a
    local gateway. The full test suite (1000+ queries against one
    session-scoped session) accumulates enough JVM-side state —
    broadcast blocks, codegen classes, UI-less listener queues — that
    Spark's default 1g driver heap OOMs mid-suite. Inject
    ``--driver-memory`` (default 6g, override via
    ``SPARK_GRAFT_DRIVER_MEM``) before the gateway starts; a no-op when
    the JVM is already up or the caller set their own value (explicit
    ``PYSPARK_SUBMIT_ARGS`` or spark-submit owns the heap there).
    """
    from pyspark import SparkContext

    if SparkContext._gateway is not None or SparkContext._active_spark_context:
        return  # JVM already launched; heap is fixed.
    args = os.environ.get("PYSPARK_SUBMIT_ARGS", "")
    if "--driver-memory" in args or "spark.driver.memory" in args:
        return
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "6g")
    body = args.replace("pyspark-shell", "").strip()
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-memory {mem} {body} pyspark-shell".replace("  ", " ")
    )


# Per-process scratch root for managed tables and streaming
# checkpoints. Two concurrent runs sharing a cwd-relative
# ``spark-warehouse/`` corrupted each other's managed tables (round-9's
# 178-entry mass failure, EXPLAIN.md); a per-process mkdtemp removes the
# collision outright instead of demanding exclusive runs. One dir per
# PROCESS (not per session): ``getOrCreate`` reuses the first session
# anyway, and a stable dir keeps saveAsTable/readTable pairs within a
# process coherent. Override with ``SPARK_GRAFT_SCRATCH_DIR`` to pin a
# location (e.g. a fast local disk on a real cluster's driver).
_SCRATCH_DIR: str | None = None


def _scratch_dir() -> str:
    global _SCRATCH_DIR
    if _SCRATCH_DIR is None:
        override = os.environ.get("SPARK_GRAFT_SCRATCH_DIR")
        if override:
            _SCRATCH_DIR = override
        else:
            _SCRATCH_DIR = tempfile.mkdtemp(prefix="usgs-spark-scratch-")
            # we created it, we remove it: without this every test /
            # bench / tool process would leak a dir of managed tables
            # into the temp root (round-11 review). Interpreter exit
            # only — a caller-provided dir is never touched.
            import atexit
            import shutil

            atexit.register(
                shutil.rmtree, _SCRATCH_DIR, ignore_errors=True
            )
    return _SCRATCH_DIR


def get_spark(
    app_name: str = "usgs_earthquake_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's canonical config.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster leave it unset and let spark-submit provide it.

    Note: when a SparkSession already exists in the process,
    ``getOrCreate`` ignores builder config — so the runtime-settable
    subset is re-applied via :func:`configure_runtime` afterwards.
    Driver heap is the one JVM-startup option handled here (see
    :func:`_ensure_driver_memory`); everything else startup-only
    belongs on ``spark-submit``.
    """
    _ensure_driver_memory()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32"))
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    builder = builder.config("spark.ui.enabled", "false")
    # Concurrency safety (see _scratch_dir): managed tables and default
    # streaming checkpoints live in a per-process temp dir, never a
    # shared cwd-relative path. warehouse.dir is STATIC conf — builder-
    # time only — so an externally created session (the driver's) keeps
    # its own; every entry that writes a managed table goes through
    # get_spark-owned sessions in tests, which is where the collisions
    # lived.
    scratch = _scratch_dir()
    builder = builder.config(
        "spark.sql.warehouse.dir", os.path.join(scratch, "warehouse")
    )
    builder = builder.config(
        "spark.sql.streaming.checkpointLocation",
        os.path.join(scratch, "checkpoints"),
    )
    for key, value in _RUNTIME_CONF.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # getOrCreate silently drops builder conf on a pre-existing session.
    return configure_runtime(spark)


def configure_runtime(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable subset of our canonical config to an
    externally created session (e.g. the driver's).

    Only touches conf that is safe to set post-startup. Idempotent and
    cheap — called from every table loader so queries behave the same
    no matter who built the session.
    """
    for key, value in _RUNTIME_CONF.items():
        try:
            spark.conf.set(key, value)
        except Exception:  # pragma: no cover - conf locked down
            pass
    # Scan-parallelism floor (guide §6), derived from the session's
    # core count — never a constant: a single small parquet file is
    # ONE ≤128 MB split by default, so every scan stage over it runs
    # on one core no matter how many the cluster has (measured r14:
    # the sf1 scaling rung's scan-bound entries showed ~1x at 8-vs-32
    # cores for exactly this reason). The floor makes Spark aim for
    # >= defaultParallelism splits on small inputs; at real scale
    # totalBytes/parallelism >> maxPartitionBytes, so the floor is
    # inert and split sizing stays governed by maxPartitionBytes.
    try:
        spark.conf.set(
            "spark.sql.files.minPartitionNum",
            str(spark.sparkContext.defaultParallelism),
        )
    except Exception:  # pragma: no cover - conf locked down
        pass
    return spark
