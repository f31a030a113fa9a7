"""Sinks: CSV/JSON exports (K1/K2), partitioned table writes
(K3/K4/K6; the silver facts, K5, are written by
``operators/silver.build_silver_layer``), layout clustering sort
(O1/O2), and the Cassandra-shaped serving sink (K7-K9).

Every table these writers land, and ``read_partitioned_table`` reads,
is Hive-partitioned parquet: one format, no format parameter. The
reference writes Delta (save_to_raw_delta_prod.py:92-147); the layout
and partition pruning are the same, and Delta's log features have
parquet stand-ins here (the versioned tables below). An additive
schema change needs no write option (K6): each parquet file carries
its own schema, a read by the declared schema (or with the
``mergeSchema`` read option) sees the added column, and
``save_partitioned_table(enforce_compatible=True)`` refuses the
breaking changes.

Reference semantics preserved:

- timestamped output names (P11, usgs-earthquake-data-ingest.py:179,191)
- empty-DataFrame skip, not fail (F3, :175-177, 187-189)
- invalid write mode → ValueError (save_to_raw_delta_prod.py:127-128)
- partition layout ``year, month`` for raw, ``year[, month]`` for
  silver (save_to_raw_delta_prod.py:112,124,144;
  usgs_tsunami_count_fact_silver.py:71,141)

Deliberately NOT preserved: the reference's per-chunk S3 *overwrite*
(save_to_raw_delta_prod.py:143 called per page), which leaves the
remote table holding only the newest page — an apparent bug (SURVEY.md
§3.1 step 8). Remote writes here use the same append semantics as
local.

At scale: writes go through ``clustering_sort`` first —
``repartitionByRange`` on the partition columns (one range exchange,
so each output partition is written by few tasks → few large files,
no small-file explosion) then ``sortWithinPartitions`` for the
clustering columns (data-skipping locality), the distributed
equivalent of the reference's lexicographic "z-order" sort
(usgs-earthquake-data-ingest-dynamic-dev.py:289-292). A frame whose
rows the driver already holds (every leaf of its plan a
``LocalRelation``, such as an ingest window's pages) skips the range
exchange: one task writes it, so it still lands one file per
partition, without the sampling job and the map stage.

Empty input (F3) costs no probe on the writes where it is a no-op: a
partitioned append and the dynamic-overwrite upsert write no data file
for zero rows, so they count their rows with an Observation riding the
one write job (``_save_counted``) and report False on a zero count,
removing the table path again if that write created it and left only
commit markers there. Where an empty write is NOT a no-op the sink still
probes with ``isEmpty`` first, a Spark job of its own: a static
overwrite (Spark deletes the target before writing) and an
unpartitioned write (Spark writes one empty part file). A caller's
``observation``/``metrics`` are attached inside the sink, next to the
row count and after any probe, so they always describe the write job.

A root that ``streaming/ingest.stream_geojson_to_bronze`` lands holds
the file sink's ``_spark_metadata`` log, and Spark reads such a root
through the log alone, so files a batch write added there would never
be read: the append and upsert writes (and so ``merge_rows``) refuse
it (``_append_target``, file-system calls only, no job).
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Callable, Iterator, Mapping, Sequence
from datetime import datetime, timezone

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

VALID_MODES = ("append", "overwrite")

RAW_PARTITION_COLS = ["year", "month"]


def _timestamp_name(prefix: str, suffix: str) -> str:
    """P11: timestamped output name, driver-side like the reference."""
    return f"{prefix}_{datetime.now(timezone.utc).strftime('%Y%m%d%H%M%S')}{suffix}"


def _driver_held(df: DataFrame) -> bool:
    """True when every leaf of ``df``'s analyzed plan is a
    ``LocalRelation``: its rows already sit in the driver."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return all(
        leaves.apply(i).nodeName() == "LocalRelation" for i in range(leaves.size())
    )


def clustering_sort(
    df: DataFrame,
    partition_cols: list[str],
    cluster_cols: list[str] | None = None,
) -> DataFrame:
    """O1/O2: range-partition on the table partition columns, sort
    within partitions by the clustering columns. Reproduces the
    reference's sort-before-write clustering in distributed form.

    A driver-held frame (every plan leaf a ``LocalRelation``) is at
    most what the driver already holds in memory, so it is coalesced
    to one task instead: the same one file per partition and the same
    row order, with no sampling job and no exchange. Any other input —
    file scans, streaming micro-batches, ``merge_rows`` — takes the
    range exchange."""
    if _driver_held(df):
        out = df.coalesce(1)
    else:
        out = df.repartitionByRange(*[F.col(c) for c in partition_cols])
    sort_cols = partition_cols + (cluster_cols or [])
    return out.sortWithinPartitions(*[F.col(c) for c in sort_cols])


def save_to_csv(df: DataFrame, output_dir: str, prefix: str = "earthquake_data") -> str | None:
    """K1: CSV export with timestamped directory name; skip if empty."""
    if df.isEmpty():
        return None
    path = os.path.join(output_dir, _timestamp_name(prefix, ".csv"))
    df.write.option("header", "true").csv(path)
    return path


def save_to_json(df: DataFrame, output_dir: str, prefix: str = "earthquake_data") -> str | None:
    """K2: JSON-lines export with timestamped directory name; skip if empty."""
    if df.isEmpty():
        return None
    path = os.path.join(output_dir, _timestamp_name(prefix, ".json"))
    df.write.json(path)
    return path


def save_partitioned_table(
    df: DataFrame,
    path: str,
    mode: str = "append",
    partition_cols: list[str] | None = None,
    cluster_cols: list[str] | None = None,
    observation=None,
    metrics=None,
    enforce_compatible: bool = False,
) -> bool:
    """K3/K4/K6: partitioned table write, Hive-partitioned parquet
    (module docstring).

    Returns True when data was written, False on empty input, which
    never creates or changes a table (the reference's F3 ingest
    semantics). Raises ValueError on an invalid mode (reference
    save_to_raw_delta_prod.py:127-128), and on an append into a
    streaming file sink's root (module docstring).

    A partitioned append launches ONE Spark job, the write: it counts
    its own rows (``_save_counted``) instead of probing first. A static
    ``mode="overwrite"`` and an unpartitioned write probe with
    ``isEmpty`` before writing, because for them an empty write is not
    a no-op (module docstring).

    ``observation`` + ``metrics`` (observability.py): the aggregate
    columns are attached to the WRITE job itself, so data-quality
    counters cost no second scan. Passing them here rather than
    attaching upstream keeps them off the probe of the two probing
    paths, which would otherwise be the observed DataFrame's first
    action and capture limit-1 partial metrics. Read
    ``observation.get`` only when this returns True.

    ``enforce_compatible=True`` turns schema evolution into a GATED
    deploy: before an append/merge onto an existing table, the new
    schema is diffed against the stored one
    (``operators/contracts.schema_diff``) and a BREAKING change
    (removed column, non-widening type change, tightened nullability,
    added required column) raises instead of silently writing a table
    some readers can no longer consume. One footer read, no data
    scan; additive nullable evolution passes through.
    """
    if mode not in VALID_MODES:
        raise ValueError(
            f"Invalid mode: {mode}. Choose 'append' or 'overwrite'."
        )
    partition_cols = (
        partition_cols if partition_cols is not None else RAW_PARTITION_COLS
    )
    if enforce_compatible and mode == "append":
        from pyspark.sql.types import StructField

        from .operators.contracts import schema_diff

        spark = df.sparkSession
        jvm, fs = _fs_for(spark, path)
        if fs.exists(jvm.org.apache.hadoop.fs.Path(path)):
            existing = read_partitioned_table(spark, path).schema

            # parquet stores every column optional, and in-memory
            # literal DataFrames claim non-nullable fields — so on the
            # WRITE path the nullability axis carries no information;
            # normalize it and gate on structure/types only. The
            # strict nullability check remains in schema_diff for
            # declared-contract review. Partition columns are excluded
            # entirely: their read-back types are RE-INFERRED from
            # directory names (partitionColumnTypeInference), so a
            # string partition value that parses as an int/date
            # round-trips as a different type and would falsely reject
            # a valid append — the directory layout, not the footer,
            # is their contract.
            skip = set(partition_cols or ())

            def _nullable(s):
                return StructType(
                    [
                        StructField(f.name, f.dataType, True)
                        for f in s.fields
                        if f.name not in skip
                    ]
                )

            diff = schema_diff(_nullable(existing), _nullable(df.schema))
            if not diff.is_backward_compatible:
                raise ValueError(
                    "incompatible schema evolution: " + "; ".join(diff.breaking)
                )
    probe = mode == "overwrite" or not partition_cols
    if mode == "append" and not partition_cols:
        _append_target(df.sparkSession, path)
    if probe and df.isEmpty():
        return False
    out = clustering_sort(df, partition_cols, cluster_cols) if partition_cols else df
    if observation is not None:
        out = out.observe(observation, *metrics)

    def write(frame: DataFrame) -> None:
        writer = frame.write.mode(mode)
        if partition_cols:
            writer = writer.partitionBy(*partition_cols)
        writer.parquet(path)

    if probe:
        write(out)
        return True
    return _save_counted(out, path, write)


def _save_counted(out: DataFrame, path: str, write: Callable[[DataFrame], None]) -> bool:
    """Run ``write``, one write action of ``out`` to ``path`` on which
    empty input writes no data file, with a row count riding that job.
    Returns whether any row was written. After an empty write, a path
    this call created is removed again if it holds only commit markers
    (``_drop_marker_only_dir``), so empty input creates no table."""
    fs, hpath, existed = _append_target(out.sparkSession, path)
    counted = Observation()
    write(out.observe(counted, F.count(F.lit(1)).alias("rows")))
    if counted.get["rows"]:
        return True
    if not existed:
        _drop_marker_only_dir(fs, hpath)
    return False


def _append_target(spark, path: str):
    """``(fs, hadoop_path, existed)`` of an append or upsert target.
    Raises ValueError when an existing target is a streaming file
    sink's root, one that holds ``_spark_metadata`` (module docstring)."""
    jvm, fs = _fs_for(spark, path)
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    existed = fs.exists(hpath)
    if existed and fs.exists(jvm.org.apache.hadoop.fs.Path(hpath, "_spark_metadata")):
        raise ValueError(
            f"{path} is a streaming file sink's root (it holds _spark_metadata); "
            "Spark reads it through the sink's log, so a batch write there "
            "would never be read"
        )
    return fs, hpath, existed


def _partition_dir(spark, path: str, values: Sequence):
    """``(fs, hadoop_path)`` of table ``path``'s Hive partition
    directory for ``values``, one per ``RAW_PARTITION_COLS`` column
    (``year=2024/month=3``)."""
    sub = "/".join(f"{c}={v}" for c, v in zip(RAW_PARTITION_COLS, values))
    jvm, fs = _fs_for(spark, path)
    return fs, jvm.org.apache.hadoop.fs.Path(f"{path.rstrip('/')}/{sub}")


def partition_exists(spark, path: str, values: Sequence) -> bool:
    """Whether table ``path`` holds the partition directory of
    ``values`` (``_partition_dir``). File-system calls only, no Spark
    job."""
    fs, hpath = _partition_dir(spark, path, values)
    return fs.exists(hpath)


def drop_partition(spark, path: str, values: Sequence) -> None:
    """Delete table ``path``'s partition directory of ``values``
    (``_partition_dir``) with all its files, so the table no longer
    holds those rows. File-system calls only, no Spark job. Raises
    ValueError on a streaming file sink's root, whose log would still
    list the deleted files (module docstring)."""
    _append_target(spark, path)
    fs, hpath = _partition_dir(spark, path, values)
    fs.delete(hpath, True)


def _drop_marker_only_dir(fs, hpath) -> None:
    """Delete directory ``hpath`` if it holds only commit-marker files:
    names starting with ``_`` or ``.``, such as ``_SUCCESS`` and its
    ``.crc`` sidecar. Any other entry keeps it, a directory too
    (another writer's ``_temporary`` is one). The directory itself is
    deleted non-recursively, so if a file lands meanwhile the delete
    fails and the path stays."""
    entries = fs.listStatus(hpath)
    if any(
        e.isDirectory() or not e.getPath().getName().startswith(("_", "."))
        for e in entries
    ):
        return
    for e in entries:
        fs.delete(e.getPath(), False)
    try:
        fs.delete(hpath, False)
    except Py4JJavaError:
        pass


def read_partitioned_table(
    spark,
    path: str,
    schema: StructType | None = None,
) -> DataFrame:
    """Read back a table written by save_partitioned_table.

    ``schema`` is the table's declared schema. A read given it skips
    parquet footer inference, which is a Spark job; the frame's
    columns, their order and types are those of the inferring read."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


def upsert_partitions(
    df: DataFrame,
    path: str,
    partition_cols: list[str] | None = None,
    cluster_cols: list[str] | None = None,
    observation=None,
    metrics=None,
) -> bool:
    """Partition-level upsert: overwrite ONLY the partitions present
    in ``df``, leaving all others untouched (dynamic partition
    overwrite). This is the re-ingest primitive — a month whose
    partition already exists lands through it
    (``pipeline.ingest_window_paged``), so re-running the month's
    ingest replaces that month instead of duplicating it
    (the correct form of the reference's append-forever raw layer,
    whose Delta tables would MERGE; the parquet layout gets the same
    semantics from the ``partitionOverwriteMode=dynamic`` writer
    option, which leaves the session's own setting alone).

    At scale: the write touches exactly the affected partitions; the
    clustering sort keeps file counts low within each.

    Returns True when rows were written, False on empty input. A
    dynamic overwrite of zero rows replaces no partition, so the
    upsert launches ONE Spark job, the write, which counts its own
    rows (``_save_counted``); no probe runs. ``observation`` +
    ``metrics`` ride that job as in ``save_partitioned_table``.
    Raises ValueError on a streaming file sink's root.
    """
    partition_cols = partition_cols if partition_cols is not None else RAW_PARTITION_COLS
    out = clustering_sort(df, partition_cols, cluster_cols)
    if observation is not None:
        out = out.observe(observation, *metrics)

    def write(frame: DataFrame) -> None:
        # a writer option, not the session conf: flipping the shared conf
        # would make any overwrite another thread runs meanwhile dynamic
        (
            frame.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*partition_cols)
            .parquet(path)
        )

    return _save_counted(out, path, write)


def compact_partitioned_table(
    spark,
    path: str,
    partition_cols: list[str] | None = None,
    target_files_per_partition: int = 1,
) -> None:
    """Small-file compaction: rewrite the table so each Hive partition
    holds ~``target_files_per_partition`` files (the maintenance job an
    append-heavy ingest needs; the reference's hourly append produces
    one file set per run).

    The shuffle is a hash repartition on the partition columns (plus a
    bounded salt when target > 1), so every partition-key's rows land
    in exactly ``target`` tasks → ``target`` output files.

    Streaming-safe by construction: the compacted copy is written to a
    sibling temp directory and swapped in with two filesystem renames,
    so the job never reads and overwrites the same files and nothing is
    ever pinned in executor memory — a table arbitrarily larger than
    the cluster's RAM compacts fine. (Round-2 review: the previous
    implementation ``localCheckpoint``-ed the whole table first.)
    On rename-less object stores (s3a) the second rename degrades to a
    server-side copy — there, run this per-partition or swap a catalog
    pointer instead; the write path itself is identical.
    """
    partition_cols = partition_cols if partition_cols is not None else RAW_PARTITION_COLS
    df = read_partitioned_table(spark, path)
    keys = [F.col(c) for c in partition_cols]
    if target_files_per_partition > 1:
        salt = F.pmod(
            F.xxhash64(F.monotonically_increasing_id()),
            F.lit(target_files_per_partition),
        )
        compacted = df.repartition(*keys, salt)
    else:
        compacted = df.repartition(*keys)
    base = path.rstrip("/")
    tmp_path = base + ".__compact_tmp__"
    old_path = base + ".__compact_old__"
    compacted.write.mode("overwrite").partitionBy(*partition_cols).parquet(tmp_path)
    hadoop_path = spark._jvm.org.apache.hadoop.fs.Path
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    src, tmp, old = hadoop_path(base), hadoop_path(tmp_path), hadoop_path(old_path)
    fs = src.getFileSystem(hconf)
    if fs.exists(old):
        fs.delete(old, True)
    if not fs.rename(src, old):
        raise IOError(f"compaction: could not move {base} aside")
    if not fs.rename(tmp, src):
        fs.rename(old, src)  # roll back: the original table is intact
        raise IOError(f"compaction: could not install {tmp_path} at {base}")
    fs.delete(old, True)


def configure_s3(
    spark,
    endpoint: str,
    access_key: str,
    secret_key: str,
    path_style_access: bool = True,
) -> None:
    """K4 plumbing: point s3a at an S3-compatible endpoint (the
    reference targets such storage via storage_options,
    save_to_raw_delta_prod.py:82-89). Hadoop conf only — callers then
    write to ``s3a://bucket/...`` with the same writers above."""
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    hconf.set("fs.s3a.endpoint", endpoint)
    hconf.set("fs.s3a.access.key", access_key)
    hconf.set("fs.s3a.secret.key", secret_key)
    hconf.set("fs.s3a.path.style.access", str(path_style_access).lower())


# ---------------------------------------------------------------------------
# Cassandra-shaped serving sink (K7-K9)
# ---------------------------------------------------------------------------

#: rows are delivered to the writer as plain dicts, batched like the
#: reference's BatchStatement flushes (save_to_cassandra.py:57-120)
RowWriter = Callable[[list[dict]], None]


def foreach_partition_sink(
    df: DataFrame,
    writer_factory: Callable[[], RowWriter],
    batch_size: int = 100,
) -> None:
    """K7/K8 core: stream every partition through a per-partition
    writer in batches — executor-side, connection-per-partition, the
    Spark shape of the reference's batched/concurrent Cassandra insert
    (save_to_cassandra.py:57-192). ``writer_factory`` runs on the
    executor (create the DB session there, never on the driver)."""

    def handle(rows: Iterator) -> None:
        write = writer_factory()
        batch: list[dict] = []
        for row in rows:
            batch.append(row.asDict())
            if len(batch) >= batch_size:
                write(batch)
                batch = []
        if batch:
            write(batch)

    df.foreachPartition(handle)


def save_to_cassandra(
    df: DataFrame,
    contact_points: list[str],
    keyspace: str,
    table: str,
    batch_size: int = 100,
    enabled: bool = False,
) -> None:
    """K9: Cassandra serving sink. Feature-flagged off by default —
    exactly like the reference, which ships with its insert calls
    commented out (save_to_cassandra.py:18-19). When enabled it
    requires the ``cassandra-driver`` package on the executors.

    The serving layout this feeds is PRIMARY KEY ((month, year),
    eventtime DESC) (db-script.cql:37-38); the equivalent lake layout
    is produced by ``save_partitioned_table(partition_cols=["year",
    "month"], cluster_cols=["eventtime"])``.
    """
    if not enabled:
        return

    columns = df.columns

    def factory() -> RowWriter:
        try:
            from cassandra.cluster import Cluster  # type: ignore[import-not-found]
        except ImportError as exc:  # pragma: no cover
            raise NotImplementedError(
                "save_to_cassandra requires the cassandra-driver package "
                "on executors; install it or keep enabled=False"
            ) from exc
        session = Cluster(contact_points).connect(keyspace)
        cols = ", ".join(columns)
        binds = ", ".join(["?"] * len(columns))
        prepared = session.prepare(
            f"INSERT INTO {table} ({cols}) VALUES ({binds})"
        )

        def write(batch: list[dict]) -> None:
            from cassandra.concurrent import (  # type: ignore[import-not-found]
                execute_concurrent_with_args,
            )

            args = [tuple(r[c] for c in columns) for r in batch]
            execute_concurrent_with_args(session, prepared, args, concurrency=20)

        return write

    foreach_partition_sink(df, factory, batch_size=batch_size)


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int = 8,
    sort_cols: list[str] | None = None,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Hash-bucketed (optionally bucket-sorted) managed/external table.

    Bucketing is the persisted half of a co-located join: two tables
    bucketed by the same key into the same bucket count join with NO
    exchange on either side — at 100 TB that removes the dominant cost
    of every recurring fact-fact join (e.g. orders⋈lineitem on the
    order key, re-joined by every downstream query). The write itself
    shuffles once into ``n_buckets`` files per partition; every
    subsequent join amortizes against it. Bucket-sorting additionally
    removes the per-join sort of a sort-merge join.

    Spark's bucketed layout requires the session catalog
    (``saveAsTable``); pass ``path`` for an external table.
    """
    if mode not in VALID_MODES:
        raise ValueError(
            f"Invalid mode: {mode}. Choose 'append' or 'overwrite'."
        )
    writer = (
        df.write.format("parquet")
        .mode(mode)
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table_name)


def merge_rows(
    spark,
    path: str,
    updates: DataFrame,
    key_cols: list[str],
    partition_cols: list[str] | None = None,
) -> bool:
    """Row-level MERGE (upsert-by-key) for a partitioned table — the
    reference's Delta MERGE semantics (save_to_raw_delta_prod.py's
    storage core) on the parquet table: rows in ``updates``
    replace existing rows with the same key, new keys append, all
    other rows are untouched.

    Partition-pruned by construction: one collected aggregate over
    ``updates`` answers both questions asked of it, whether a key
    repeats and which partitions it touches (tiny: one struct per
    touched partition). Only those partitions are read back (partition
    pruning keeps the scan to the affected slice; a null partition
    value matches null-safely), ``operators.merge.merge_upsert``
    replaces their rows by key, and the result is written with dynamic
    partition overwrite. Cost is proportional to the touched
    partitions, never the table; the key anti-join shuffles only the
    affected slice against the (typically broadcastable) update set.

    Keys must be unique within ``updates`` (enforced — a duplicate
    key would make the merge result order-dependent). A streaming file
    sink's root is refused before any Spark job runs.
    """
    from .operators.merge import merge_upsert

    _append_target(spark, path)
    partition_cols = partition_cols if partition_cols is not None else RAW_PARTITION_COLS
    n, n_keys, touched = updates.agg(
        F.count(F.lit(1)),
        F.count_distinct(F.struct(*key_cols)),
        F.collect_set(F.struct(*partition_cols)),
    ).first()
    if n != n_keys:
        raise ValueError(f"merge_rows: duplicate keys in updates on {key_cols}")
    if not touched:  # no partition touched: the updates are empty
        return False
    current = read_partitioned_table(spark, path)
    pred = F.lit(False)
    for row in touched:
        clause = F.lit(True)
        for c in partition_cols:
            clause = clause & F.col(c).eqNullSafe(F.lit(row[c]))
        pred = pred | clause
    # no broadcast hint: AQE broadcasts a small update set and falls
    # back to a shuffled anti-join when the updates are themselves big
    merged = merge_upsert(
        current.filter(pred), updates, key_cols, duplicate_policy="trusted"
    )
    return upsert_partitions(merged, path, partition_cols=partition_cols)


def vacuum_table(spark, path: str) -> list[str]:
    """Remove leftover compaction work directories.

    ``compact_partitioned_table`` stages into ``<path>.__compact_tmp__``
    and swaps via ``<path>.__compact_old__``; a crash between renames
    can strand either one (the table itself is never lost — the swap
    rolls back). This is the corresponding retention sweep, the
    parquet analogue of Delta's VACUUM: call it before
    (re)compacting. Returns the paths it deleted."""
    hadoop_path = spark._jvm.org.apache.hadoop.fs.Path
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    base = path.rstrip("/")
    removed = []
    for suffix in (".__compact_tmp__", ".__compact_old__"):
        p = hadoop_path(base + suffix)
        fs = p.getFileSystem(hconf)
        if fs.exists(p):
            fs.delete(p, True)
            removed.append(base + suffix)
    return removed


def partition_file_stats(spark, path: str):
    """Per-partition small-file report for a Hive-layout table:
    ``(partition, n_files, total_bytes)`` rows, driven by the same
    Hadoop FS listing the writers use (works on local/HDFS/s3a
    uniformly). The maintenance loop: stats → pick partitions whose
    ``n_files`` exceeds the target → ``compact_partitioned_table``.
    Listing is driver-side metadata only — proportional to file
    count, not data size."""
    from .sources.listing import list_objects

    base = path.rstrip("/")
    out: dict[str, tuple[int, int]] = {}
    for obj in list_objects(spark, base, recursive=True):
        rel = obj.path.split(base, 1)[1].lstrip("/")
        if "/" not in rel:  # top-level _SUCCESS etc.
            continue
        part = rel.rsplit("/", 1)[0]
        if rel.rsplit("/", 1)[1].startswith(("_", ".")):
            continue
        n, b = out.get(part, (0, 0))
        out[part] = (n + 1, b + obj.size)
    return [
        {"partition": k, "n_files": v[0], "total_bytes": v[1]}
        for k, v in sorted(out.items())
    ]


# ---------------------------------------------------------------------------
# Poor-man's time travel for parquet.
#
# The reference's bronze/silver are Delta tables
# (save_to_raw_delta_prod.py:92-147) whose log gives versioned reads;
# delta-spark is not a dependency here, so parquet tables get the
# same CONTRACT from directory versions + an
# atomically-renamed manifest: every write is a new immutable
# ``version=N`` directory, readers resolve the manifest (or pin a
# version), and a torn write can never be observed because the
# manifest rename is the commit point.
# ---------------------------------------------------------------------------

_VERSION_MANIFEST = "_latest_version"


def _fs_for(spark, path: str):
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())


def list_versions(spark, path: str) -> list[int]:
    """Committed versions, ascending. Uncommitted (manifest-less
    newer dirs, e.g. from a crashed writer) are excluded."""
    jvm, fs = _fs_for(spark, path)
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    if not fs.exists(hpath):
        return []
    latest = _read_latest(spark, path)
    if latest is None:
        return []
    out = []
    for status in fs.listStatus(hpath):
        name = status.getPath().getName()
        if name.startswith("version="):
            v = _parse_suffix_int(name, "=")
            if v is not None and v <= latest:
                out.append(v)
    return sorted(out)


def _parse_suffix_int(name: str, sep: str) -> int | None:
    """Parse the integer after the last ``sep`` in ``name``; ``None``
    for non-conforming names (editor backups, foreign tmp files) so
    directory-listing parsers skip them instead of crashing — vacuum
    is the recovery tool and must not die on a stray file."""
    try:
        return int(name.rsplit(sep, 1)[1])
    except (IndexError, ValueError):
        return None


def _read_manifest(spark, path: str) -> int | None:
    """Read the COMMITTED manifest only — no crash-recovery fallback.
    This is what the commit-order wait loop must use: the
    ``._manifest_tmp_`` fallback in ``_read_latest`` would let a
    successor observe its predecessor's version during the
    delete(manifest)→rename window and start its own commit early,
    racing the two renames (manifest could regress on POSIX rename,
    or the predecessor gets a spurious rename failure on HDFS)."""
    jvm, fs = _fs_for(spark, path)
    mpath = jvm.org.apache.hadoop.fs.Path(f"{path.rstrip('/')}/{_VERSION_MANIFEST}")
    if not fs.exists(mpath):
        return None
    stream = fs.open(mpath)
    try:
        data = []
        b = stream.read()
        while b != -1 and len(data) < 32:
            data.append(b)
            b = stream.read()
        return int(bytes(data).decode())
    finally:
        stream.close()


def _read_latest(spark, path: str) -> int | None:
    committed = _read_manifest(spark, path)
    if committed is not None:
        return committed
    # crash-window recovery: the commit is delete(manifest) then
    # rename(tmp → manifest); dying between the two leaves no
    # manifest but DOES leave the fully-written tmp (data + stats
    # were complete before it was created). Honor the highest tmp
    # so the table neither bricks (successors wait on a manifest
    # that can never appear) nor loses the in-flight commit.
    jvm, fs = _fs_for(spark, path)
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    if not fs.exists(hpath):
        return None
    tmps = [
        v
        for s in fs.listStatus(hpath)
        if s.getPath().getName().startswith("._manifest_tmp_")
        and (v := _parse_suffix_int(s.getPath().getName(), "_")) is not None
    ]
    return max(tmps) if tmps else None


def _claim_path(path: str, version: int) -> str:
    return f"{path.rstrip('/')}/._claim_v{version}"


def _try_claim(jvm, fs, path: str, version: int) -> bool:
    """Atomically claim a version slot via put-if-absent (the same
    primitive Delta's commit protocol relies on). Returns False when
    another writer holds the slot.

    On HDFS, ``FileSystem.create(overwrite=false)`` is the atomic
    primitive (on bare S3A it is NOT — object stores need a
    conditional-put/LogStore layer, the same reason Delta does; see
    SCALING.md). On LOCAL paths Hadoop's RawLocalFileSystem
    implements it as a non-atomic exists-then-create (a TOCTOU two
    threads demonstrably both win — caught by the threaded race
    test), so local claims go through ``O_CREAT|O_EXCL``, which the
    kernel makes atomic. Locality comes from the RESOLVED filesystem
    (``fs.getUri()``), never from string-matching the path — a
    schemeless path on a cluster whose defaultFS is HDFS must claim
    on HDFS, not on the driver's local disk."""
    claim = _claim_path(path, version)
    local = str(fs.getUri().getScheme() or "file") == "file"
    if local and claim.startswith("file:"):
        claim = _norm_file_uri(claim)
    if local:
        import errno

        try:
            os.close(os.open(claim, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
        except OSError as e:
            if e.errno == errno.EEXIST:
                return False
            raise
        return True
    p = jvm.org.apache.hadoop.fs.Path(claim)
    try:
        out = fs.create(p, False)
    except Exception as e:  # py4j-wrapped java exception
        # match the Java exception CLASS, not a bare 'exists'
        # substring — an unrelated failure whose message merely
        # mentions "exists" must surface, not be read as a lost race
        if "FileAlreadyExistsException" in str(e):
            return False
        raise
    out.close()
    return True


def save_versioned_table(
    df: DataFrame,
    path: str,
    stats_cols: Sequence[str] | None = None,
    commit_timeout_s: float = 60.0,
    bloom_cols: Sequence[str] | None = None,
    bloom_bits: int = 1 << 12,
    bloom_k: int = 3,
) -> int:
    """Write ``df`` as the next version of the table; returns the new
    version number. The write lands in ``version=N`` (invisible to
    readers), then the manifest is written to a temp name and RENAMED
    over ``_latest_version`` — the rename is the atomic commit, so a
    crash mid-write leaves the previous version intact and readable.
    Old versions stay on disk for time travel until vacuumed.

    CONCURRENT writers are safe (optimistic concurrency, Delta-style):
    each writer first CLAIMS its version slot with an atomic
    create-no-overwrite marker, so two racing writers can never write
    the same ``version=N`` directory (the silent-clobber hazard of a
    bare read-latest/increment); the loser claims N+1. Commits then
    happen in CLAIM order — a writer waits for its predecessor's
    manifest before renaming its own — which preserves the reader
    invariant "version <= manifest ⇒ fully committed" and makes the
    manifest monotone. A writer that crashes between claim and commit
    stalls its successors until ``commit_timeout_s``; the raised error
    says to run ``vacuum_versions`` (which clears uncommitted
    directories and stale claims) and retry. Single-writer cost: two
    extra tiny FS ops.

    ``stats_cols``: columns to record per-file min/max for in a
    ``_stats_v{N}.json`` sidecar (written BEFORE the commit rename, so
    stats are part of the commit) — the Delta data-skipping contract
    on parquet. One extra scan of the just-written
    version; the collected table is one row per file, driver-bounded.

    ``bloom_cols``: columns to additionally record a per-file Bloom
    bitmap for (``bloom_bits`` wide, ``bloom_k`` hashes — the
    operators/bloom.py hash family) in the same sidecar. Min/max
    skipping is blind to point lookups on high-cardinality unsorted
    keys (every file's [min, max] straddles every key); the bloom
    answers "is key K definitely absent from this file" instead —
    Parquet/Delta's bloom-filter index, on the sidecar fallback. The
    default 4096-bit bitmap is 64 longs ≈ 0.5 KiB JSON per
    file/column and holds ~400 distinct keys under 10% false
    positives; size up for bigger files.
    """
    import time as _time

    spark = df.sparkSession
    jvm, fs = _fs_for(spark, path)
    # ensure the table root exists so claim creation has a parent
    fs.mkdirs(jvm.org.apache.hadoop.fs.Path(path.rstrip("/")))
    latest = _read_latest(spark, path)
    version = 0 if latest is None else latest + 1
    for _ in range(10_000):
        if _try_claim(jvm, fs, path, version):
            break
        version += 1
    else:  # pragma: no cover - pathological claim storm
        raise IOError(f"could not claim a version slot under {path}")
    vdir = f"{path.rstrip('/')}/version={version}"
    try:
        df.write.mode("overwrite").parquet(vdir)
        if stats_cols or bloom_cols:
            _write_file_stats(
                spark,
                path,
                version,
                list(stats_cols or ()),
                bloom_cols=list(bloom_cols or ()),
                bloom_bits=bloom_bits,
                bloom_k=bloom_k,
            )
        # serialize commits in claim order: our rename may only follow
        # the predecessor's, so the manifest never regresses and every
        # version at-or-below it is fully committed. The wait keeps
        # the ._manifest_tmp_ crash-recovery fallback (a DEAD
        # predecessor's fully-written tmp must unbrick the table);
        # the live-predecessor hazard — observing a tmp mid-commit
        # and racing the two renames — is closed below by making the
        # commit itself window-free instead.
        deadline = _time.monotonic() + commit_timeout_s
        while version > 0:
            cur = _read_latest(spark, path)
            if cur is not None and cur >= version - 1:
                break
            if _time.monotonic() > deadline:
                raise IOError(
                    f"timed out waiting for version {version - 1} to commit "
                    f"under {path} — a predecessor writer likely crashed "
                    "between claim and commit; run vacuum_versions() to "
                    "clear stale claims/uncommitted dirs, then retry"
                )
            _time.sleep(0.05)
    except BaseException:
        # A clean PRE-COMMIT failure (an ordinary Spark job error, a
        # commit timeout) must not wedge every later writer into the
        # timeout path until someone hand-runs vacuum: nothing was
        # committed and no manifest tmp exists yet, so retire our
        # uncommitted artifacts and release the slot. Order matters —
        # data dir first, claim LAST, so no new claimant of this slot
        # can race our deletion of the dir. The COMMIT phase below
        # deliberately has no such cleanup: once the manifest tmp
        # exists it is the crash-recovery artifact (_read_latest's
        # fallback), and a failure there may already have retired the
        # predecessor manifest — deleting our tmp then would leave
        # the table with no manifest and no fallback, hiding every
        # committed version.
        for sub in (
            vdir,
            _stats_path(path, version),
            _claim_path(path, version),
        ):
            try:
                fs.delete(jvm.org.apache.hadoop.fs.Path(sub), True)
            except Exception:  # pragma: no cover - best-effort cleanup
                pass
        raise
    # ---- commit phase -------------------------------------------------
    # Both branches run the same no-overwrite protocol: try to install
    # the manifest WITHOUT clobbering (os.link locally, fs.rename on
    # HDFS — both fail when the destination exists); on failure read
    # the committed manifest — at-or-past our version means a racing
    # writer already advanced it (tolerate; monotone), strictly below
    # means a stale predecessor manifest (retire that SPECIFIC file
    # and retry). A late writer can therefore never REGRESS the
    # manifest over a successor's newer commit: its install fails and
    # it observes the newer value. The only manifest-less window is
    # between retiring a stale manifest and installing ours, which the
    # ._manifest_tmp_ fallback covers for readers and crash recovery.
    tmp_name = f"{path.rstrip('/')}/._manifest_tmp_{version}"
    final_name = f"{path.rstrip('/')}/{_VERSION_MANIFEST}"
    if str(fs.getUri().getScheme() or "file") == "file":
        tmp_os = _norm_file_uri(tmp_name)
        final_os = _norm_file_uri(final_name)
        # RAW python write, not fs.create: Hadoop's local fs is a
        # ChecksumFileSystem whose create() leaves a ".<name>.crc"
        # sidecar; installing the manifest with a raw link/replace
        # would strand that sidecar stale, and every later fs.open
        # would die with ChecksumException (a bricked table).
        with open(tmp_os, "w") as fh:
            fh.write(str(version))
        committed = False
        for _ in range(5):
            try:
                os.link(tmp_os, final_os)  # atomic no-overwrite
                committed = True
                break
            except FileExistsError:
                cur = _read_manifest(spark, path)
                if cur is not None and cur >= version:
                    committed = True
                    break
                if cur is not None and cur < version:
                    try:
                        os.remove(final_os)
                    except FileNotFoundError:  # pragma: no cover - race
                        pass
                # cur None: destination vanished between the failed
                # link and the read — just retry the link
            except OSError:  # pragma: no cover - no-hardlink filesystem
                os.replace(tmp_os, final_os)
                committed = True
                tmp_os = None  # replace consumed the tmp
                break
        if not committed:  # pragma: no cover - persistent fs race
            raise IOError(f"manifest rename failed for version {version}")
        if tmp_os is not None:
            try:
                os.remove(tmp_os)
            except FileNotFoundError:  # pragma: no cover - race
                pass
    else:
        tmp = jvm.org.apache.hadoop.fs.Path(tmp_name)
        final = jvm.org.apache.hadoop.fs.Path(final_name)
        out = fs.create(tmp, True)
        try:
            out.write(bytearray(str(version).encode()))
        finally:
            out.close()
        committed = False
        for _ in range(5):
            if fs.rename(tmp, final):  # fails if destination exists
                committed = True
                break
            cur = _read_manifest(spark, path)
            if cur is not None and cur >= version:
                committed = True
                fs.delete(tmp, False)  # superseded; manifest covers us
                break
            if cur is not None and cur < version:
                fs.delete(final, False)  # retire the stale predecessor
        if not committed:  # pragma: no cover - persistent fs race
            raise IOError(f"manifest rename failed for version {version}")
    # the claim file intentionally SURVIVES the commit: it is the
    # slot's tombstone, so a writer acting on a stale latest can never
    # re-claim (and clobber) an already-committed version. Vacuum
    # retires claims together with their versions.
    return version


def read_versioned_table(spark, path: str, version: int | None = None) -> DataFrame:
    """Read the committed latest (default) or a pinned version."""
    if version is None:
        version = _read_latest(spark, path)
        if version is None:
            raise FileNotFoundError(f"no committed version at {path}")
    return spark.read.parquet(f"{path.rstrip('/')}/version={version}")


def vacuum_versions(
    spark,
    path: str,
    keep: int = 2,
    protect: set[int] | None = None,
    clear_uncommitted: bool = True,
) -> list[int]:
    """Retire old committed versions, keeping the newest ``keep``
    (the latest is always kept) and every version in ``protect``
    (snapshot-pinned versions — see ``vacuum_snapshot_member``).
    Returns the versions deleted. Uncommitted directories (crashed
    writers) are also removed — they are invisible to readers and only
    waste space. Mirrors Delta's VACUUM retention contract on the
    versioned-parquet layout.

    ``clear_uncommitted`` gates the crash-debris sweep (uncommitted
    ``version=`` dirs above latest, stale claims, superseded manifest
    tmps). The sweep assumes NO ACTIVE WRITERS — an in-flight writer's
    not-yet-committed dir and live claim are indistinguishable from a
    crashed one's, and deleting them clobbers the live write. Pass
    ``clear_uncommitted=False`` to run vacuum CONCURRENTLY with
    writers: that mode only drops committed versions past retention
    (which no writer touches), the same reason Delta's VACUUM is safe
    alongside writers while its orphan-file cleanup is not."""
    if keep < 1:
        raise ValueError("keep must be >= 1")
    jvm, fs = _fs_for(spark, path)
    latest = _read_latest(spark, path)
    if latest is None:
        return []
    committed = list_versions(spark, path)
    to_drop = [v for v in committed[:-keep]] if len(committed) > keep else []
    if protect:
        to_drop = [v for v in to_drop if v not in protect]
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    uncommitted = (
        [
            v
            for s in fs.listStatus(hpath)
            if s.getPath().getName().startswith("version=")
            and (v := _parse_suffix_int(s.getPath().getName(), "=")) is not None
            and v > latest
        ]
        if clear_uncommitted
        else []
    )
    for v in to_drop + uncommitted:
        fs.delete(
            jvm.org.apache.hadoop.fs.Path(f"{path.rstrip('/')}/version={v}"),
            True,
        )
        # retire the version's data-skipping sidecar with it
        fs.delete(
            jvm.org.apache.hadoop.fs.Path(_stats_path(path, v)), False
        )
    # clear claim markers for retired versions; with clear_uncommitted
    # also stale claims/tmps from crashed writers — that half is only
    # safe under "no active writers" (same as Delta's VACUUM caveat),
    # since a LIVE writer's claim looks identical to a crashed one's
    for s in fs.listStatus(hpath):
        name = s.getPath().getName()
        if name.startswith("._claim_v"):
            # non-conforming names (editor backups, foreign tmp) are
            # skipped, never fatal — vacuum is the recovery tool
            v = _parse_suffix_int(name, "_v")
            if v is not None and (
                v in to_drop or (clear_uncommitted and v > latest)
            ):
                fs.delete(s.getPath(), False)
        elif name.startswith("._manifest_tmp_") and clear_uncommitted:
            # superseded commit leftovers; STRICTLY below latest —
            # a tmp AT latest may be the crash-recovery manifest
            # (_read_latest's fallback) and must survive
            v = _parse_suffix_int(name, "_")
            if v is not None and v < latest:
                fs.delete(s.getPath(), False)
    return sorted(to_drop)


# ---------------------------------------------------------------------------
# File-level data skipping (Delta's per-file min/max stats on
# parquet) + MERGE on the versioned table.
# ---------------------------------------------------------------------------


def _stats_path(path: str, version: int) -> str:
    return f"{path.rstrip('/')}/_stats_v{version}.json"


def _norm_file_uri(uri: str) -> str:
    """Canonical file key: ``input_file_name()`` yields
    ``file:///p`` while Hadoop ``Path.toString`` yields ``file:/p`` —
    strip the scheme so stats written by one resolve under the
    other."""
    if "://" in uri:
        return uri.split("://", 1)[1]
    if uri.startswith("file:"):
        return uri[len("file:"):]
    return uri


def _write_file_stats(
    spark,
    path: str,
    version: int,
    cols: list[str],
    bloom_cols: list[str] | None = None,
    bloom_bits: int = 1 << 12,
    bloom_k: int = 3,
) -> None:
    """Collect per-file min/max for ``cols`` over the just-written
    version and persist them as a JSON sidecar. Timestamps serialize
    as ISO strings (ISO order == time order, so read-side comparison
    stays correct); numerics and strings as themselves.

    ``bloom_cols`` additionally records a per-file Bloom bitmap per
    column (``bloom_bits``/``bloom_k``, operators/bloom.py hash
    family) under the sidecar's ``"bloom"`` key — one extra
    aggregate job per bloom column, each collecting at most
    ``files × bloom_bits/64`` rows."""
    from .operators.bloom import _bit_positions

    vdir = f"{path.rstrip('/')}/version={version}"
    df = spark.read.parquet(vdir)
    stats: dict[str, dict] = {}
    if cols:
        aggs = []
        for c in cols:
            aggs.append(F.min(c).alias(f"min_{c}"))
            aggs.append(F.max(c).alias(f"max_{c}"))
        rows = (
            df.groupBy(F.input_file_name().alias("file")).agg(*aggs).collect()
        )

        def _ser(v):
            return v.isoformat() if hasattr(v, "isoformat") else v

        stats = {
            _norm_file_uri(r["file"]): {
                c: [_ser(r[f"min_{c}"]), _ser(r[f"max_{c}"])] for c in cols
            }
            for r in rows
        }
    doc: dict = {"cols": cols, "files": stats}
    if bloom_cols:
        n_words = bloom_bits // 64
        blooms: dict[str, dict[str, list[int]]] = {}
        for c in bloom_cols:
            pos = df.select(
                F.input_file_name().alias("file"),
                F.explode(
                    F.array(*_bit_positions(F.col(c), bloom_bits, bloom_k))
                ).alias("pos"),
            ).filter(F.col("pos").isNotNull())
            words = (
                pos.groupBy(
                    "file", F.floor(F.col("pos") / 64).cast("int").alias("w")
                )
                .agg(
                    F.bit_or(
                        F.call_function(
                            "shiftleft",
                            F.lit(1).cast("long"),
                            F.pmod(F.col("pos"), F.lit(64)).cast("int"),
                        )
                    ).alias("bits")
                )
                .collect()
            )
            per_file: dict[str, list[int]] = {}
            for r in words:
                bm = per_file.setdefault(_norm_file_uri(r["file"]), [0] * n_words)
                bm[r["w"]] = r["bits"]
            blooms[c] = per_file
        doc["bloom"] = {"m": bloom_bits, "k": bloom_k, "cols": blooms}
    jvm, fs = _fs_for(spark, path)
    out = fs.create(jvm.org.apache.hadoop.fs.Path(_stats_path(path, version)), True)
    try:
        out.write(bytearray(json.dumps(doc).encode()))
    finally:
        out.close()


def _read_file_stats(spark, path: str, version: int) -> dict | None:
    jvm, fs = _fs_for(spark, path)
    spath = jvm.org.apache.hadoop.fs.Path(_stats_path(path, version))
    if not fs.exists(spath):
        return None
    stream = fs.open(spath)
    try:
        # java.io.InputStream.readAllBytes (Java 9+) -> py4j bytes
        return json.loads(bytes(stream.readAllBytes()).decode())
    finally:
        stream.close()


_TS_LIKE_RE = re.compile(
    r"^\d{4}-\d{2}-\d{2}([T ]\d{2}:\d{2}(:\d{2}(\.\d+)?)?)?$"
)


def _canon_stat_pair(stat_val, bound):
    """Canonicalize a JSON-decoded file-stat value and a caller bound
    to one comparable type. Timestamp/date stats serialize via
    ``isoformat()`` ('2024-01-06T23:59:59'); callers legitimately pass
    datetime/date objects or the space-separated string form — raw
    Python ``<`` between those either raises TypeError or, for
    ' ' vs 'T', compares lexicographically WRONG ('T' > ' '), which
    could prune an overlapping file and silently drop rows. Returns a
    (stat, bound) pair safe to compare, or None when the two sides
    cannot be canonicalized (caller must then treat the file as
    overlapping — pruning is a pure optimization, never allowed to
    change semantics)."""
    import datetime as _dt

    if isinstance(bound, _dt.datetime):
        if isinstance(stat_val, str):
            try:
                return _dt.datetime.fromisoformat(stat_val), bound
            except ValueError:
                return None
        return None
    if isinstance(bound, _dt.date):
        if isinstance(stat_val, str):
            try:
                return _dt.date.fromisoformat(stat_val[:10]), bound
            except ValueError:
                return None
        return None
    if isinstance(bound, str) and isinstance(stat_val, str):
        b_ts = bool(_TS_LIKE_RE.match(bound))
        s_ts = bool(_TS_LIKE_RE.match(stat_val))
        if b_ts and s_ts:
            # normalize the separator so ISO order == time order
            return stat_val.replace(" ", "T"), bound.replace(" ", "T")
        if b_ts or s_ts:
            # exactly one side is timestamp-shaped (the other may be a
            # tz-offset-bearing ISO form the regex rejects): a raw
            # string compare would repeat the 'T' vs ' ' mis-ordering
            # — never prune on it
            return None
        return stat_val, bound
    if isinstance(bound, bool) or isinstance(stat_val, bool):
        return None
    if isinstance(bound, (int, float)) and isinstance(stat_val, (int, float)):
        return stat_val, bound
    return None


def _stat_disjoint(fmin, fmax, lo, hi) -> bool:
    """True iff the file's [fmin, fmax] provably cannot intersect
    [lo, hi] after canonicalization; un-canonicalizable pairs are
    never disjoint (the file gets read)."""
    hi_pair = _canon_stat_pair(fmin, hi)
    lo_pair = _canon_stat_pair(fmax, lo)
    try:
        if hi_pair is not None and hi_pair[0] > hi_pair[1]:
            return True
        if lo_pair is not None and lo_pair[0] < lo_pair[1]:
            return True
    except TypeError:
        # e.g. naive vs tz-aware datetimes — not comparable; treat as
        # overlapping rather than raise (pruning must never fail a read)
        return False
    return False


def _bloom_probe_positions(spark, value, dtype: str, m: int, k: int) -> list[int]:
    """The k bit positions a value hashes to, computed with the SAME
    Spark expressions (and the column's type) the write side used —
    one 1-row local job, so driver Python never re-implements
    xxhash64."""
    from .operators.bloom import _bit_positions

    lit = F.lit(value).cast(dtype)
    row = (
        spark.range(1)
        .select(
            *[
                p.alias(f"p{i}")
                for i, p in enumerate(_bit_positions(lit, m, k))
            ]
        )
        .first()
    )
    return [row[f"p{i}"] for i in range(k)]


def _bloom_excludes(bitmap: list[int], positions: list[int]) -> bool:
    """True iff the bitmap PROVES the probed value absent (some probe
    bit unset). Stored words are signed int64 from the JVM; mask to
    unsigned before testing."""
    for pos in positions:
        word = bitmap[pos // 64] & 0xFFFFFFFFFFFFFFFF
        if not (word >> (pos % 64)) & 1:
            return True
    return False


def read_versioned_table_pruned(
    spark,
    path: str,
    between: dict[str, tuple] | None = None,
    version: int | None = None,
    equals: dict | None = None,
) -> DataFrame:
    """Stats-pruned versioned read: skip every file whose recorded
    [min, max] for a column cannot intersect the requested
    ``{col: (lo, hi)}`` ranges, then apply the same predicate exactly
    — pruning is a pure optimization, never a semantic change. Files
    without stats (or a missing sidecar) are always read.

    ``equals`` adds point predicates ``{col: value}``: each prunes
    through the min/max stats (as the degenerate range [v, v]) AND,
    when the sidecar carries a Bloom bitmap for the column
    (``save_versioned_table(bloom_cols=...)``), through the bloom —
    a file is skipped when the bitmap proves the key absent. Bloom
    false positives merely read a file the exact filter then empties;
    never a wrong row.

    At 100 TB this is the difference between listing 10^5 files and
    scanning the 10^2 whose ranges overlap the query window — the scan
    cost becomes proportional to the answer, not the table, exactly as
    with Delta data skipping (clustering_sort gives writes the
    disjoint per-file ranges that make it bite; blooms cover the
    point lookups min/max cannot)."""
    between = dict(between or {})
    equals = dict(equals or {})
    if any(v is None for v in equals.values()):
        raise ValueError("equals values must be non-null")
    if version is None:
        version = _read_latest(spark, path)
        if version is None:
            raise FileNotFoundError(f"no committed version at {path}")
    stats = _read_file_stats(spark, path, version)
    vdir = f"{path.rstrip('/')}/version={version}"
    reader = spark.read
    ranges = dict(between)
    for col, v in equals.items():
        ranges.setdefault(col, (v, v))
    if stats is None:
        df = reader.parquet(vdir)
    else:
        known = stats["files"]
        bloom = stats.get("bloom")
        probes: dict[str, list[int]] = {}
        if bloom and equals:
            dtypes = dict(reader.parquet(vdir).dtypes)
            for col, v in equals.items():
                if col in bloom["cols"] and col in dtypes:
                    probes[col] = _bloom_probe_positions(
                        spark, v, dtypes[col], bloom["m"], bloom["k"]
                    )
        keep = []
        jvm, fs = _fs_for(spark, path)
        for status in fs.listStatus(jvm.org.apache.hadoop.fs.Path(vdir)):
            f = status.getPath().toString()
            if not f.endswith(".parquet"):
                continue
            fname = _norm_file_uri(f)
            fstats = known.get(fname)
            overlaps = True
            if fstats is not None:
                for col, (lo, hi) in ranges.items():
                    if col not in fstats:
                        continue
                    fmin, fmax = fstats[col]
                    if fmin is None or fmax is None:
                        continue
                    if _stat_disjoint(fmin, fmax, lo, hi):
                        overlaps = False
                        break
            if overlaps and probes:
                for col, positions in probes.items():
                    bitmap = bloom["cols"][col].get(fname)
                    if bitmap is not None and _bloom_excludes(bitmap, positions):
                        overlaps = False
                        break
            if overlaps:
                keep.append(f)
        if not keep:
            # empty result with the right schema
            df = reader.parquet(vdir).limit(0)
        else:
            df = reader.parquet(*keep)
    pred = None
    for col, (lo, hi) in between.items():
        c = F.col(col).between(F.lit(lo), F.lit(hi))
        pred = c if pred is None else (pred & c)
    for col, v in equals.items():
        c = F.col(col) == F.lit(v)
        pred = c if pred is None else (pred & c)
    return df.filter(pred) if pred is not None else df


def merge_versioned_table(
    spark,
    path: str,
    source: DataFrame,
    keys: Sequence[str],
    stats_cols: Sequence[str] | None = None,
) -> int:
    """Delta-style ``MERGE INTO`` against the versioned-parquet table:
    read the committed latest, upsert the change batch (broadcast — the
    target never shuffles), commit as the next version. Returns the new
    version; prior versions remain time-travelable."""
    from .operators.merge import merge_upsert

    target = read_versioned_table(spark, path)
    merged = merge_upsert(target, source, keys, broadcast_source=True)
    return save_versioned_table(merged, path, stats_cols=stats_cols)


# ---------------------------------------------------------------------------
# Multi-table consistent snapshots (dataset releases).
#
# A training-data release is never one table: documents + embeddings +
# metadata must be read AT THE SAME VERSIONS or joins silently mix
# generations. Single-table versioning (above) cannot give that
# guarantee across tables; a SNAPSHOT does — a named manifest pinning
# {table: version}, committed with the same atomic-rename protocol, so
# a reader either sees the whole release or none of it.
# ---------------------------------------------------------------------------


def _snapshot_path(root: str, name: str) -> str:
    return f"{root.rstrip('/')}/_snapshot_{name}.json"


def commit_snapshot(
    spark,
    root: str,
    tables: Mapping[str, DataFrame],
    name: str,
    stats_cols: Mapping[str, Sequence[str]] | None = None,
) -> dict[str, int]:
    """Write every table as its next version under ``root/<table>``,
    then commit ONE manifest pinning all the versions. The per-table
    writes are invisible until the final snapshot rename (each table's
    own latest-pointer also advances, so single-table readers see the
    new data; the SNAPSHOT is what guarantees cross-table
    consistency). Returns ``{table: version}``.

    A crash mid-way leaves some tables with committed newer versions
    but NO snapshot — snapshot readers keep the previous release
    intact, which is the contract that matters for reproducibility.
    """
    versions: dict[str, int] = {}
    for tname, df in tables.items():
        cols = (stats_cols or {}).get(tname)
        versions[tname] = save_versioned_table(
            df, f"{root.rstrip('/')}/{tname}", stats_cols=cols
        )
    payload = json.dumps({"name": name, "tables": versions}).encode()
    jvm, fs = _fs_for(spark, root)
    tmp = jvm.org.apache.hadoop.fs.Path(
        f"{root.rstrip('/')}/._snapshot_tmp_{name}"
    )
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(payload))
    finally:
        out.close()
    final = jvm.org.apache.hadoop.fs.Path(_snapshot_path(root, name))
    fs.delete(final, False)
    if not fs.rename(tmp, final):  # pragma: no cover - filesystem race
        raise IOError(f"snapshot rename failed for {name}")
    return versions


def read_snapshot(spark, root: str, name: str) -> dict[str, DataFrame]:
    """Resolve a named release: every table pinned at its snapshot
    version, regardless of any later single-table commits."""
    jvm, fs = _fs_for(spark, root)
    spath = jvm.org.apache.hadoop.fs.Path(_snapshot_path(root, name))
    if not fs.exists(spath):
        raise FileNotFoundError(f"no snapshot '{name}' at {root}")
    stream = fs.open(spath)
    try:
        manifest = json.loads(bytes(stream.readAllBytes()).decode())
    finally:
        stream.close()
    return {
        tname: read_versioned_table(
            spark, f"{root.rstrip('/')}/{tname}", version
        )
        for tname, version in manifest["tables"].items()
    }


def list_snapshots(spark, root: str) -> list[str]:
    """Committed release names at ``root``, sorted."""
    jvm, fs = _fs_for(spark, root)
    hpath = jvm.org.apache.hadoop.fs.Path(root)
    if not fs.exists(hpath):
        return []
    names = []
    for status in fs.listStatus(hpath):
        fname = status.getPath().getName()
        if fname.startswith("_snapshot_") and fname.endswith(".json"):
            names.append(fname[len("_snapshot_"):-len(".json")])
    return sorted(names)


def snapshot_pinned_versions(spark, root: str, table: str) -> set[int]:
    """Every version of ``root/<table>`` pinned by ANY committed
    snapshot — deleting one of these would break a release."""
    pinned: set[int] = set()
    jvm, fs = _fs_for(spark, root)
    for name in list_snapshots(spark, root):
        spath = jvm.org.apache.hadoop.fs.Path(_snapshot_path(root, name))
        stream = fs.open(spath)
        try:
            manifest = json.loads(bytes(stream.readAllBytes()).decode())
        finally:
            stream.close()
        if table in manifest["tables"]:
            pinned.add(manifest["tables"][table])
    return pinned


def vacuum_snapshot_member(spark, root: str, table: str, keep: int = 2) -> list[int]:
    """Snapshot-aware vacuum of a release-member table: old versions
    retire EXCEPT those pinned by any committed snapshot — a release
    stays resolvable until its manifest is deleted, never silently
    broken by retention."""
    return vacuum_versions(
        spark,
        f"{root.rstrip('/')}/{table}",
        keep=keep,
        protect=snapshot_pinned_versions(spark, root, table),
    )


def table_changes(
    spark,
    path: str,
    keys: Sequence[str],
    from_version: int,
    to_version: int | None = None,
    compare_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Delta's ``table_changes`` on the versioned-parquet layout: the
    change feed (insert / delete / update with pre/post images)
    between two committed versions, computed as one co-partitioned
    full-outer diff of the version snapshots
    (``operators/merge.diff_snapshots``). ``to_version`` defaults to
    the committed latest."""
    from .operators.merge import diff_snapshots

    old = read_versioned_table(spark, path, from_version)
    new = read_versioned_table(spark, path, to_version)
    return diff_snapshots(old, new, keys, compare_cols=compare_cols)
