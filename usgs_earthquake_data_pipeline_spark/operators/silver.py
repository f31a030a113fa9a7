"""Silver-layer aggregations over the canonical USGS events table —
the reference's analytical heart (A1-A4, reference
usgs_tsunami_count_fact_silver.py:31-55,116-124).

Each is a DataFrame function over a bronze events DataFrame; the
``build_silver_layer`` orchestrator writes both fact tables
partitioned exactly like the reference (year / year+month), as
Hive-partitioned parquet like bronze (``sinks.py``).

``build_silver_layer`` plans one aggregation, not one per fact: bronze
is scanned once, filtered to ``tsunami == 1`` and grouped by
``(year, month)`` (partial-agg → one shuffle on the tiny group keys →
final agg), and the result — at most 12 rows per year — is pulled to
the driver as Arrow. The yearly fact is folded from those monthly rows
on the driver (Σ months = year, null keys included), and each fact
goes back to the JVM as an Arrow-backed local table and is written
with a partitioned overwrite through ``sinks.clustering_sort``, which
coalesces a driver-held frame to one task: one write task per fact,
one file per partition, no sampling job and no exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..observability import job_description
from ..schema import FACT_TSUNAMI_MONTHLY_SCHEMA, FACT_TSUNAMI_YEARLY_SCHEMA
from ..sinks import clustering_sort


def count_events_in_year(events: DataFrame, year: int) -> DataFrame:
    """A1: ungrouped count with a partition-column filter
    (SELECT COUNT(*) ... WHERE year=N)."""
    return events.filter(F.col("year") == year).agg(F.count("*").alias("cnt"))


def count_events_by_year(events: DataFrame) -> DataFrame:
    """A2: count of all events grouped by year. (The reference's SQL
    mistakenly aliases ``year`` as the count column — the *intent*,
    events-per-year, is what we implement.)"""
    return events.groupBy("year").agg(F.count("*").alias("cnt")).orderBy("year")


def fact_tsunami_yearly(events: DataFrame) -> DataFrame:
    """A3: yearly tsunami fact (filter flag → group year → count →
    order)."""
    return (
        events.filter(F.col("tsunami") == 1)
        .groupBy("year")
        .agg(F.count("*").alias("tsunami_yearly_count"))
        .orderBy("year")
    )


def fact_tsunami_monthly(events: DataFrame) -> DataFrame:
    """A4: monthly tsunami fact."""
    return (
        events.filter(F.col("tsunami") == 1)
        .groupBy("year", "month")
        .agg(F.count("*").alias("tsunami_monthly_count"))
        .orderBy("year", "month")
    )


# SQL-string twins of A1-A4 (SURVEY §7: "as both DataFrame API and
# spark.sql strings") — run with events registered as a view:
#   events_df.createOrReplaceTempView("usgs_events")
#   spark.sql(SILVER_SQL["fact_tsunami_yearly"])
SILVER_SQL = {
    "count_in_year": (
        "SELECT COUNT(*) AS cnt FROM usgs_events WHERE year = {year}"
    ),
    "count_by_year": (
        "SELECT year, COUNT(*) AS cnt FROM usgs_events GROUP BY year ORDER BY year"
    ),
    "fact_tsunami_yearly": (
        "SELECT year, COUNT(*) AS tsunami_yearly_count FROM usgs_events "
        "WHERE tsunami = 1 GROUP BY year ORDER BY year"
    ),
    "fact_tsunami_monthly": (
        "SELECT year, month, COUNT(*) AS tsunami_monthly_count FROM usgs_events "
        "WHERE tsunami = 1 GROUP BY year, month ORDER BY year, month"
    ),
}


def _write_fact(
    fact: DataFrame, path: str, partition_cols: list[str], rows: int
) -> None:
    """Overwrite one fact table from one task. An empty fact is written
    unpartitioned as a single empty file: a partitioned empty write
    emits no parquet footer at all, leaving the path unreadable."""
    writer = fact.write
    if rows:
        writer = clustering_sort(fact, partition_cols).write.partitionBy(
            *partition_cols
        )
    writer.mode("overwrite").parquet(path)


def build_silver_layer(
    events: DataFrame, yearly_path: str, monthly_path: str
) -> tuple[DataFrame, DataFrame]:
    """Compute and persist both silver fact tables (overwrite mode,
    partitioned by year / year+month — reference
    usgs_tsunami_count_fact_silver.py:57-72,127-142) from one bronze
    aggregation (module docstring). Returns the two facts as
    driver-backed frames with the declared fact schemas
    (``schema.FACT_TSUNAMI_YEARLY_SCHEMA`` / ``_MONTHLY_SCHEMA``), which
    are A3's and A4's over a bronze read by ``USGS_EVENTS_SCHEMA``."""
    spark = events.sparkSession
    with job_description(spark, "silver aggregate"):
        monthly_rows = (
            events.filter(F.col("tsunami") == 1)
            .groupBy("year", "month")
            .agg(F.count("*").alias("tsunami_monthly_count"))
            .toArrow()
        )
    yearly_rows = (
        monthly_rows.group_by("year")
        .aggregate([("tsunami_monthly_count", "sum")])
        .select(["year", "tsunami_monthly_count_sum"])
        .rename_columns(["year", "tsunami_yearly_count"])
    )
    yearly = spark.createDataFrame(yearly_rows, FACT_TSUNAMI_YEARLY_SCHEMA)
    monthly = spark.createDataFrame(monthly_rows, FACT_TSUNAMI_MONTHLY_SCHEMA)
    with job_description(spark, "silver write yearly"):
        _write_fact(yearly, yearly_path, ["year"], yearly_rows.num_rows)
    with job_description(spark, "silver write monthly"):
        _write_fact(monthly, monthly_path, ["year", "month"], monthly_rows.num_rows)
    return yearly, monthly
