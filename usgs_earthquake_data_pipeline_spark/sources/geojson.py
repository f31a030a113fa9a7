"""GeoJSON FeatureCollection → events table (operator P1, plus P2-P8).

The reference flattens GeoJSON row-by-row in driver Python
(``parse_geojson_to_dataframe``, reference
usgs-earthquake-data-ingest.py:104-170). Here the same flattening is a
pure DataFrame expression — ``from_json`` + ``explode`` + nested field
projection — so it runs JVM-side under whole-stage codegen and scales
with executors instead of the driver:

- P2  nested array index:      latitude = coordinates[1], longitude = [0]
- P3  conditional on length:   depth = coordinates[2] if size > 2 else NULL
- P4  epoch-ms → timestamp:    F.timestamp_millis (UTC; the reference used
                               local-TZ fromtimestamp — documented divergence)
- P5/P6 month/year extraction: F.month/F.year on eventtime
- P7  null-defaulting access:  missing JSON keys → NULL natively
- P8  struct → JSON string:    F.to_json(geometry struct)
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schema import (
    GEOJSON_FEATURE_COLLECTION_SCHEMA,
    USGS_EVENTS_SCHEMA,
)


def _flatten_feature(feature: Column) -> list[Column]:
    """Project one exploded GeoJSON feature struct into the 32 canonical
    event columns (order matches USGS_EVENTS_SCHEMA)."""
    props = feature["properties"]
    coords = feature["geometry"]["coordinates"]
    eventtime = F.timestamp_millis(props["time"])
    return [
        feature["id"].alias("id"),
        F.month(eventtime).alias("month"),
        F.year(eventtime).alias("year"),
        props["mag"].alias("magnitude"),
        F.element_at(coords, 2).alias("latitude"),
        F.element_at(coords, 1).alias("longitude"),
        # depth = coordinates[2] only when a 3rd element exists (P3)
        F.when(F.size(coords) > 2, F.element_at(coords, 3)).alias("depth"),
        eventtime.alias("eventtime"),
        F.timestamp_millis(props["updated"]).alias("updated"),
        props["place"].alias("place"),
        props["url"].alias("url"),
        props["detail"].alias("detail"),
        props["felt"].alias("felt"),
        props["cdi"].alias("cdi"),
        props["mmi"].alias("mmi"),
        props["alert"].alias("alert"),
        props["status"].alias("status"),
        props["tsunami"].alias("tsunami"),
        props["sig"].alias("significance"),
        props["net"].alias("network"),
        props["code"].alias("code"),
        props["ids"].alias("ids"),
        props["sources"].alias("sources"),
        props["types"].alias("types"),
        props["nst"].alias("nst"),
        props["dmin"].alias("dmin"),
        props["rms"].alias("rms"),
        props["gap"].alias("gap"),
        props["magType"].alias("magnitude_type"),
        props["type"].alias("type"),
        props["title"].alias("title"),
        # keep the geometry as a JSON string, like the stored schema (P8)
        F.to_json(feature["geometry"]).alias("geometry"),
    ]


#: columns declared non-nullable in USGS_EVENTS_SCHEMA that from_json can
#: still produce as NULL from malformed/truncated documents
_REQUIRED_EVENT_COLS = ("id", "latitude", "longitude", "eventtime", "geometry")


def geojson_docs_to_events(
    docs: DataFrame, json_col: str = "value", drop_invalid: bool = True
) -> DataFrame:
    """Parse a DataFrame of raw GeoJSON FeatureCollection documents
    (one JSON string per row in ``json_col``) into the canonical events
    table.

    Empty/missing ``features`` arrays simply produce zero rows
    (explode drops them), reproducing the reference's empty-DF
    short-circuit (F3/F4) declaratively.

    ``drop_invalid`` enforces the schema's declared nullability:
    malformed documents that parse to NULL in a required column
    (id/latitude/longitude/eventtime/geometry) are filtered out rather
    than silently passed through. Set False to keep them for
    quarantine-style handling.

    Known divergence (documented, accepted): ``geometry`` is the
    re-serialization of the *parsed* struct, so coordinates render as
    doubles (``10`` → ``10.0``); byte-exact string comparison against
    the reference's ``geojson.dumps`` of raw values can differ.
    Compare geometry semantically (re-parse) in correctness checks.
    """
    parsed = docs.select(
        F.from_json(F.col(json_col), GEOJSON_FEATURE_COLLECTION_SCHEMA).alias("doc")
    )
    features = parsed.select(F.explode("doc.features").alias("feature"))
    flat = features.select(*_flatten_feature(F.col("feature")))
    # enforce the canonical column types (P10: schema-enforced construction)
    casts = [F.col(f.name).cast(f.dataType).alias(f.name) for f in USGS_EVENTS_SCHEMA.fields]
    out = flat.select(*casts)
    if drop_invalid:
        predicate = None
        for c in _REQUIRED_EVENT_COLS:
            cond = F.col(c).isNotNull()
            predicate = cond if predicate is None else (predicate & cond)
        out = out.filter(predicate)
    return out


def events_from_geojson_strings(spark: SparkSession, docs: list[str]) -> DataFrame:
    """Driver-side fetched pages: list of raw JSON document strings →
    events DataFrame.

    The documents reach the JVM as one Arrow string column, which
    Spark decodes JVM-side into a ``LocalTableScan`` leaf: no pickled
    Python rows and no Python worker on any job that reads the frame
    (the landing's probe, sample, map stage and write). Over a local
    relation Catalyst folds the ``from_json`` projection at planning
    time (``ConvertToLocalRelation``), so the page bodies the driver
    already holds are parsed in the driver JVM, once per action."""
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
