"""P1-P10 parse-operator tests over the FIXTURES.md §2 document,
including every required edge case."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from usgs_earthquake_data_pipeline_spark.schema import EVENT_COLUMNS, USGS_EVENTS_SCHEMA
from usgs_earthquake_data_pipeline_spark.sources.geojson import (
    events_from_geojson_strings,
    events_to_geojson_features,
)

FULL_FEATURE = {
    "type": "Feature",
    "id": "us7000abcd",
    "properties": {
        "mag": 4.5, "place": "Someplace, CA", "time": 1734164400000,
        "updated": 1734166200000, "url": "https://example.com/ev",
        "detail": "https://example.com/detail", "felt": 10, "cdi": 2.3,
        "mmi": 3.1, "alert": "green", "status": "reviewed", "tsunami": 0,
        "sig": 120, "net": "us", "code": "7000abcd", "ids": ",us7000abcd,",
        "sources": ",us,", "types": ",origin,phase-data,", "nst": 45,
        "dmin": 0.001, "rms": 0.32, "gap": 76, "magType": "mb",
        "type": "earthquake", "title": "M 4.5 - Someplace, CA",
    },
    "geometry": {"type": "Point", "coordinates": [-117.12, 36.12, 5.2]},
}

NO_DEPTH_FEATURE = {
    "type": "Feature",
    "id": "ci00000002",
    "properties": {"mag": 2.0, "time": 1704067200000, "tsunami": 1},
    "geometry": {"type": "Point", "coordinates": [10.0, 20.0]},
}

SPARSE_FEATURE = {
    "type": "Feature",
    "id": "nc00000003",
    "properties": {"time": 1704067200123},  # no mag/updated/felt/alert/...
    "geometry": {"type": "Point", "coordinates": [1.5, -2.5, 33.0]},
}


def _doc(features):
    return json.dumps(
        {
            "type": "FeatureCollection",
            "metadata": {"generated": 0, "count": len(features)},
            "features": features,
        }
    )


def test_flatten_full_feature(spark):
    df = events_from_geojson_strings(
        spark, [_doc([FULL_FEATURE, NO_DEPTH_FEATURE, SPARSE_FEATURE])]
    )
    assert df.columns == EVENT_COLUMNS  # P10: canonical 32-column order
    assert df.schema == USGS_EVENTS_SCHEMA or [
        (f.name, f.dataType) for f in df.schema.fields
    ] == [(f.name, f.dataType) for f in USGS_EVENTS_SCHEMA.fields]
    rows = {r["id"]: r for r in df.collect()}
    full = rows["us7000abcd"]
    assert full["latitude"] == 36.12 and full["longitude"] == -117.12  # P2 swap
    assert full["depth"] == 5.2  # P3
    assert full["eventtime"].isoformat().startswith("2024-12-14")  # P4 (UTC)
    assert full["month"] == 12 and full["year"] == 2024  # P5/P6
    assert full["magnitude"] == 4.5 and full["significance"] == 120
    assert full["network"] == "us" and full["magnitude_type"] == "mb"
    geom = json.loads(full["geometry"])  # P8 (semantic compare, not bytes)
    assert geom == {"type": "Point", "coordinates": [-117.12, 36.12, 5.2]}


def test_flatten_optional_fields_null(spark):
    df = events_from_geojson_strings(
        spark, [_doc([NO_DEPTH_FEATURE, SPARSE_FEATURE])]
    )
    rows = {r["id"]: r for r in df.collect()}
    nd = rows["ci00000002"]
    assert nd["depth"] is None  # P3: 2-element coords → NULL depth
    assert nd["tsunami"] == 1
    sparse = rows["nc00000003"]
    for c in ("magnitude", "updated", "felt", "cdi", "alert", "place", "title"):
        assert sparse[c] is None, c  # P7: missing keys → NULL


def test_empty_features_yields_zero_rows(spark):
    df = events_from_geojson_strings(spark, [_doc([])])
    assert df.count() == 0  # F3 short-circuit shape


def test_malformed_documents_filtered(spark):
    bad = ["not json at all", json.dumps({"type": "FeatureCollection"})]
    df = events_from_geojson_strings(spark, bad + [_doc([FULL_FEATURE])])
    assert df.count() == 1  # rows with a null id are dropped
    kept = events_from_geojson_strings(spark, bad)
    assert kept.count() == 0


def test_truncated_feature_dropped_unless_requested(spark):
    # feature with no geometry → null lat/lon → dropped by default
    no_geom = {"type": "Feature", "id": "xx1", "properties": {"time": 1}}
    from usgs_earthquake_data_pipeline_spark.sources.geojson import (
        geojson_docs_to_events,
    )

    docs = spark.createDataFrame([( _doc([no_geom, FULL_FEATURE]),)], "value string")
    assert geojson_docs_to_events(docs).count() == 1


def test_roundtrip_to_geojson_feature(spark):
    df = events_from_geojson_strings(spark, [_doc([FULL_FEATURE])])
    out = events_to_geojson_features(df).collect()
    assert len(out) == 1
    feature = json.loads(out[0]["feature_json"])
    # reference shape: id inside properties, key 'magnitude', no title
    assert feature["properties"]["id"] == "us7000abcd"
    assert feature["properties"]["magnitude"] == 4.5
    assert feature["properties"]["significance"] == 120  # key name per reference
    assert "title" not in feature["properties"]
    assert "id" not in feature
    assert feature["geometry"]["coordinates"] == [-117.12, 36.12, 5.2]
    # sub-second precision preserved
    assert "." in feature["properties"]["time"]


def test_multiple_documents_concat(spark):
    df = events_from_geojson_strings(
        spark, [_doc([FULL_FEATURE]), _doc([NO_DEPTH_FEATURE]), _doc([])]
    )
    assert df.count() == 2


def test_driver_pages_reach_the_jvm_as_arrow(spark):
    """The page bodies are handed over as an Arrow table, decoded
    JVM-side: the leaf is a LocalTableScan, not a scan of pickled
    Python rows (ExistingRDD), so no Python worker feeds the landing."""
    df = events_from_geojson_strings(spark, [_doc([FULL_FEATURE, NO_DEPTH_FEATURE])])
    assert df.count() == 2
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan, plan


def test_no_documents_yields_empty_canonical_frame(spark):
    df = events_from_geojson_strings(spark, [])
    assert df.columns == EVENT_COLUMNS
    assert [(f.name, f.dataType) for f in df.schema.fields] == [
        (f.name, f.dataType) for f in USGS_EVENTS_SCHEMA.fields
    ]
    assert df.count() == 0


def test_flatten_is_a_few_py4j_calls(spark, monkeypatch):
    """The flatten hands Spark a few SQL strings: a warm call makes at
    most 200 py4j round trips, where building the columns one nested
    ``Column`` at a time took about 2,350."""
    from py4j.java_gateway import GatewayClient

    docs = [_doc([FULL_FEATURE, NO_DEPTH_FEATURE, SPARSE_FEATURE])] * 3
    events_from_geojson_strings(spark, docs)  # warm: imports, Arrow setup
    calls = []
    send = GatewayClient.send_command

    def counting(self, *args, **kwargs):
        calls.append(1)
        return send(self, *args, **kwargs)

    monkeypatch.setattr(GatewayClient, "send_command", counting)
    df = events_from_geojson_strings(spark, docs)
    monkeypatch.setattr(GatewayClient, "send_command", send)
    assert len(calls) <= 200, len(calls)
    assert df.count() == 9
