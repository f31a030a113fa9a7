"""Loaders for the driver-provided synthetic tables (TESTDATA.md).

One parquet file per table under ``{sf_dir}/{name}.parquet``. These are
the correctness/bench inputs; the ``events`` table stands in for the
USGS events fact table where a timestamped table is needed.

The physical type of ``events.ts`` has drifted across driver
testdata generations — parquet ``TIMESTAMP(NANOS)`` (Spark reads
bigint nanos under ``nanosAsLong=true``), then
``timestamp[us] isAdjustedToUTC=false`` (Spark reads TIMESTAMP_NTZ).
:func:`load_table` normalizes every variant to a session-timezone
TIMESTAMP so downstream ``unix_micros``/window/streaming code sees one
stable type:

- bigint nanos → ``timestamp_micros(ts div 1000)`` (integer division,
  never float, which loses precision above 2^53 ns — matches DuckDB's
  nanos→micros truncation);
- TIMESTAMP_NTZ → ``cast('timestamp')``, exact under the pinned UTC
  session timezone (same wall-clock instant DuckDB reads natively).

Each table file's inferred parquet schema is memoized for the life of
the process (:func:`read_parquet`). An inferring read runs Spark's
footer inference, a one-task job, on every call; with the memo, a warm
``load_table`` (and so the planning of any catalog query over known
files) launches no Spark job. The memo:

- **key:** ``(absolute path, st_size, st_mtime_ns, parquet-inference
  confs)``, the confs being the session's ``binaryAsString``,
  ``int96AsTimestamp``, ``inferTimestampNTZ.enabled`` and
  ``legacy.parquet.nanosAsLong`` values (the last pinned by
  ``configure_runtime``, which runs first);
- **invalidation:** none needed. A rewritten file changes size or
  mtime and a flipped conf changes the key, so either is a miss. A
  path that is not a stat-able regular file (a URI, an object store,
  a directory, a missing file) is read uncached and stores nothing;
- **hit:** ``spark.read.schema(cached).parquet(path)``. The frame is
  the same as an inferring read: ``DataSource.resolveRelation`` applies
  ``asNullable`` to inferred and user-given data schemas alike, and a
  single file has no partition columns, so both give the same relation,
  pushdown and results;
- **miss:** the plain inferring ``spark.read.parquet(path)``, whose
  ``df.schema`` is then stored.

Only the schema is kept, never a DataFrame: a shared frame on both
sides of a self-join would make ``a.x == b.y`` ambiguous.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType, TimestampNTZType

from ..session import configure_runtime

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# table -> timestamp columns whose stored type must be normalized to
# a session-timezone TIMESTAMP (see normalize_timestamp_col)
_TIMESTAMP_COLS = {"events": ["ts"]}

# session confs that change what parquet footer inference returns
_INFERENCE_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
)

# (abspath, size, mtime_ns, inference confs) -> inferred schema
_SCHEMAS: dict[tuple, StructType] = {}


def _schema_key(spark: SparkSession, path: str) -> tuple | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    confs = tuple(spark.conf.get(k) for k in _INFERENCE_CONFS)
    return (os.path.abspath(path), st.st_size, st.st_mtime_ns, confs)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers a file's schema once per
    process (module docstring): a warm call launches no Spark job."""
    key = _schema_key(spark, path)
    cached = _SCHEMAS.get(key)
    if cached is not None:
        return spark.read.schema(cached).parquet(path)
    df = spark.read.parquet(path)
    if key is not None:
        _SCHEMAS[key] = df.schema
    return df


def normalize_timestamp_col(df: DataFrame, col: str) -> DataFrame:
    """Coerce ``col`` to TIMESTAMP (session TZ) from any of the physical
    types the driver's parquet has shipped: bigint nanos (via
    ``nanosAsLong=true``), TIMESTAMP_NTZ (``timestamp[us]`` not adjusted
    to UTC), or already-TIMESTAMP. NTZ→LTZ cast is exact because the
    session timezone is pinned UTC (session.py)."""
    if col not in df.columns:
        return df
    dt = df.schema[col].dataType
    if isinstance(dt, LongType):
        return df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    if isinstance(dt, TimestampNTZType):
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    configure_runtime(spark)
    df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    for col in _TIMESTAMP_COLS.get(name, []):
        df = normalize_timestamp_col(df, col)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every available table. Genuinely absent files are skipped
    (smaller scale factors ship fewer tables); a file that exists but
    fails to load raises immediately — swallowing it would surface
    later as a confusing "table not found" far from the root cause."""
    tables: dict[str, DataFrame] = {}
    for name in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        tables[name] = load_table(spark, sf_dir, name)
    return tables


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view so queries can use spark.sql."""
    tables = load_tables(spark, sf_dir)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables
