"""PySpark-native analytics engine with the query and data-processing
capabilities of the reference earthquake-data pipeline
(datasnake-littlecobra/usgs-earthquake-data-pipeline), rebuilt Spark-first.

Layout
------
- ``session``    : SparkSession factory (AQE, Arrow, UTC session TZ).
- ``schema``     : the canonical 32-column events StructType + GeoJSON schemas.
- ``sources``    : USGS REST source (paged), GeoJSON parse, testdata loaders.
- ``operators``  : silver aggregations, dedup family, similarity search,
                   multimodal column plumbing.
- ``functions``  : column-level helpers (text analysis, vector math, hashing).
- ``plans``      : the named-query catalog (Spark callable + DuckDB oracle SQL).
- ``streaming``  : Structured Streaming (exactly-once file-sink bronze,
                   watermarked silver counts, gap sessionizer, MV fold).
- ``sinks``      : CSV/JSON exports, Hive-partitioned parquet tables, Cassandra stub.
- ``pipeline``   : driver-side orchestration (month windows, pagination,
                   granularity fallback).

Everything here is built on public Apache Spark APIs only.
"""

__version__ = "0.1.0"
