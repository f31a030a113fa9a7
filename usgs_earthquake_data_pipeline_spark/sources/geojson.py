"""GeoJSON FeatureCollection → events table (operator P1, plus P2-P8).

The reference flattens GeoJSON row-by-row in driver Python
(``parse_geojson_to_dataframe``, reference
usgs-earthquake-data-ingest.py:104-170). Here the same flattening is a
pure DataFrame expression — ``from_json`` + ``explode`` + nested field
projection — so it runs JVM-side under whole-stage codegen and scales
with executors instead of the driver:

- P2  nested array index:      latitude = coordinates[1], longitude = [0]
- P3  conditional on length:   depth = coordinates[2] if size > 2 else NULL
- P4  epoch-ms → timestamp:    timestamp_millis (UTC; the reference used
                               local-TZ fromtimestamp — documented divergence)
- P5/P6 month/year extraction: month/year on eventtime
- P7  null-defaulting access:  missing JSON keys → NULL natively
- P8  struct → JSON string:    to_json(geometry struct)

The flatten is written as module-level SQL: one ``explode`` string, one
projection of the 32 typed columns (each cast folded into its column)
and one validity filter. Handing Spark a few strings instead of
building ~100 nested ``Column`` objects keeps the driver's side of a
flatten under a hundred py4j calls, whatever the entry point:
driver pages, streaming ``foreachBatch``, whole-text files or the
``usgs_geojson`` data source's raw pages. It is the package's only
GeoJSON → events flatten.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schema import (
    GEOJSON_FEATURE_COLLECTION_SCHEMA,
    USGS_EVENTS_SCHEMA,
)

#: one exploded GeoJSON feature struct per row, from the document
#: column named by ``{col}``
_FEATURES_SQL = (
    "explode(from_json(`{col}`, '"
    + GEOJSON_FEATURE_COLLECTION_SCHEMA.simpleString()
    + "').features) AS feature"
)

_PROPS = "feature.properties"
_COORDS = "feature.geometry.coordinates"
_EVENTTIME = f"timestamp_millis({_PROPS}.time)"  # P4

#: each canonical event column over one exploded ``feature``
_EVENT_EXPRS = {
    "id": "feature.id",
    "month": f"month({_EVENTTIME})",  # P5
    "year": f"year({_EVENTTIME})",  # P6
    "magnitude": f"{_PROPS}.mag",
    "latitude": f"element_at({_COORDS}, 2)",  # P2
    "longitude": f"element_at({_COORDS}, 1)",  # P2
    # depth = coordinates[2] only when a 3rd element exists (P3)
    "depth": f"CASE WHEN size({_COORDS}) > 2 THEN element_at({_COORDS}, 3) END",
    "eventtime": _EVENTTIME,
    "updated": f"timestamp_millis({_PROPS}.updated)",  # P4
    "place": f"{_PROPS}.place",
    "url": f"{_PROPS}.url",
    "detail": f"{_PROPS}.detail",
    "felt": f"{_PROPS}.felt",
    "cdi": f"{_PROPS}.cdi",
    "mmi": f"{_PROPS}.mmi",
    "alert": f"{_PROPS}.alert",
    "status": f"{_PROPS}.status",
    "tsunami": f"{_PROPS}.tsunami",
    "significance": f"{_PROPS}.sig",
    "network": f"{_PROPS}.net",
    "code": f"{_PROPS}.code",
    "ids": f"{_PROPS}.ids",
    "sources": f"{_PROPS}.sources",
    "types": f"{_PROPS}.types",
    "nst": f"{_PROPS}.nst",
    "dmin": f"{_PROPS}.dmin",
    "rms": f"{_PROPS}.rms",
    "gap": f"{_PROPS}.gap",
    "magnitude_type": f"{_PROPS}.magType",
    "type": f"{_PROPS}.type",
    "title": f"{_PROPS}.title",
    # keep the geometry as a JSON string, like the stored schema (P8)
    "geometry": "to_json(feature.geometry)",
}

#: the 32 canonical columns in USGS_EVENTS_SCHEMA order, each cast to
#: its declared type (P10: schema-enforced construction)
_EVENT_COLUMNS_SQL = tuple(
    f"CAST({_EVENT_EXPRS[f.name]} AS {f.dataType.simpleString()}) AS `{f.name}`"
    for f in USGS_EVENTS_SCHEMA.fields
)

#: columns declared non-nullable in USGS_EVENTS_SCHEMA that from_json can
#: still produce as NULL from malformed/truncated documents
_VALID_EVENT_SQL = " AND ".join(
    f"`{c}` IS NOT NULL" for c in ("id", "latitude", "longitude", "eventtime", "geometry")
)


def geojson_docs_to_events(docs: DataFrame, json_col: str = "value") -> DataFrame:
    """Parse a DataFrame of raw GeoJSON FeatureCollection documents
    (one JSON string per row in ``json_col``) into the canonical events
    table.

    Empty/missing ``features`` arrays simply produce zero rows
    (explode drops them), reproducing the reference's empty-DF
    short-circuit (F3/F4) declaratively.

    Rows are filtered to the schema's declared nullability: malformed
    documents that parse to NULL in a required column
    (id/latitude/longitude/eventtime/geometry) are dropped rather than
    silently passed through.

    Known divergence (documented, accepted): ``geometry`` is the
    re-serialization of the *parsed* struct, so coordinates render as
    doubles (``10`` → ``10.0``); byte-exact string comparison against
    the reference's ``geojson.dumps`` of raw values can differ.
    Compare geometry semantically (re-parse) in correctness checks.
    """
    features = docs.selectExpr(_FEATURES_SQL.format(col=json_col))
    return features.selectExpr(*_EVENT_COLUMNS_SQL).filter(_VALID_EVENT_SQL)


def events_from_geojson_strings(spark: SparkSession, docs: list[str]) -> DataFrame:
    """Driver-side fetched pages: list of raw JSON document strings →
    events DataFrame.

    The documents reach the JVM as one Arrow string column, which
    Spark decodes JVM-side into a ``LocalRelation`` leaf: no pickled
    Python rows and no Python worker on any job that reads the frame
    (the landing's one job, its write). Because every leaf of the
    frame is local, the sinks write it from one task with no range
    exchange (``sinks.clustering_sort``)."""
    table = pa.table({"value": pa.array(docs, pa.string())})
    df = spark.createDataFrame(table, "value string")
    return geojson_docs_to_events(df, "value")


def read_geojson_files(spark: SparkSession, path: str) -> DataFrame:
    """Scale path: read GeoJSON documents from files (one whole
    FeatureCollection per file) and flatten distributed. ``wholetext``
    keeps each document intact; parsing/flattening then runs on
    executors."""
    docs = spark.read.option("wholetext", "true").text(path)
    return geojson_docs_to_events(docs, "value")


def events_to_geojson_features(events: DataFrame) -> DataFrame:
    """Inverse of P1 (operator P9, reference save_to_cassandra.py:22-35):
    each event row → a GeoJSON Feature JSON string.

    Matches the reference's feature shape: ``id`` lives *inside*
    properties (not top-level), the magnitude key is ``magnitude``,
    and the significance key is ``significance`` (reference
    convert_to_geojson). Accepted divergence: ``time`` always carries a
    6-digit fraction (``.SSSSSS``), whereas Python ``isoformat()``
    omits the fraction entirely when microseconds are exactly 0.
    """
    feature = F.struct(
        F.lit("Feature").alias("type"),
        F.struct(
            F.col("id").alias("id"),
            F.col("magnitude").alias("magnitude"),
            F.col("place").alias("place"),
            F.date_format("eventtime", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS").alias("time"),
            F.col("tsunami").alias("tsunami"),
            F.col("significance").alias("significance"),
            F.col("type").alias("type"),
        ).alias("properties"),
        F.struct(
            F.lit("Point").alias("type"),
            F.array("longitude", "latitude", "depth").alias("coordinates"),
        ).alias("geometry"),
    )
    return events.select(F.col("id"), F.to_json(feature).alias("feature_json"))
