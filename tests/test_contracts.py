"""Schema-contract diff (operators/contracts.py)."""

from __future__ import annotations

from pyspark.sql.types import (
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from usgs_earthquake_data_pipeline_spark.operators.contracts import schema_diff


def _s(*fields):
    return StructType([StructField(n, t, nullable) for n, t, nullable in fields])


BASE = _s(("id", LongType(), True), ("name", StringType(), True))


def test_identical_schemas_are_noop_and_compatible():
    d = schema_diff(BASE, BASE)
    assert d.is_noop and d.is_backward_compatible


def test_field_order_is_ignored():
    reordered = _s(("name", StringType(), True), ("id", LongType(), True))
    assert schema_diff(BASE, reordered).is_noop


def test_added_nullable_column_is_compatible():
    new = _s(*[(f.name, f.dataType, True) for f in BASE.fields], ("extra", StringType(), True))
    d = schema_diff(BASE, new)
    assert d.added == ["extra"] and d.is_backward_compatible


def test_added_required_column_is_breaking():
    new = _s(*[(f.name, f.dataType, True) for f in BASE.fields], ("extra", StringType(), False))
    d = schema_diff(BASE, new)
    assert not d.is_backward_compatible
    assert "non-nullable" in d.breaking[0]


def test_removed_column_is_breaking():
    new = _s(("id", LongType(), True))
    d = schema_diff(BASE, new)
    assert d.removed == ["name"] and not d.is_backward_compatible


def test_widening_type_change_is_compatible():
    old = _s(("id", IntegerType(), True), ("v", FloatType(), True))
    new = _s(("id", LongType(), True), ("v", DoubleType(), True))
    d = schema_diff(old, new)
    assert len(d.type_changed) == 2 and d.is_backward_compatible


def test_narrowing_or_lateral_type_change_is_breaking():
    old = _s(("id", LongType(), True))
    for bad in (IntegerType(), StringType()):
        d = schema_diff(old, _s(("id", bad, True)))
        assert not d.is_backward_compatible


def test_nullability_tighten_breaks_relax_is_safe():
    old = _s(("id", LongType(), True), ("name", StringType(), False))
    tightened = _s(("id", LongType(), False), ("name", StringType(), False))
    relaxed = _s(("id", LongType(), True), ("name", StringType(), True))
    assert not schema_diff(old, tightened).is_backward_compatible
    d = schema_diff(old, relaxed)
    assert d.relaxed == ["name"] and d.is_backward_compatible


def test_real_table_evolution_scenario(spark, sf_dir):
    """The K6 scenario on the real events schema: a new ingest
    generation adds a nullable enrichment column and widens nothing —
    the diff must bless it."""
    from usgs_earthquake_data_pipeline_spark.sources.tables import load_table

    old = load_table(spark, sf_dir, "events").schema
    new = StructType(
        old.fields + [StructField("enrichment_score", DoubleType(), True)]
    )
    d = schema_diff(old, new)
    assert d.added == ["enrichment_score"] and d.is_backward_compatible


def test_enforce_compatible_gates_breaking_append(spark, tmp_path):
    """The operational form: a breaking schema change is refused at
    the sink; additive nullable evolution appends fine."""
    import pytest
    from pyspark.sql import functions as F

    from usgs_earthquake_data_pipeline_spark import sinks

    path = str(tmp_path / "t")
    base = spark.range(5).select(
        F.col("id"), F.lit("x").alias("name"), F.lit(2020).alias("year"),
        F.lit(1).alias("month"),
    )
    sinks.save_partitioned_table(base, path, mode="append")

    added = base.withColumn("extra", F.lit(1.5))
    assert sinks.save_partitioned_table(
        added, path, mode="append", enforce_compatible=True
    )

    dropped = base.drop("name")
    with pytest.raises(ValueError, match="incompatible schema evolution"):
        sinks.save_partitioned_table(
            dropped, path, mode="append", enforce_compatible=True,
        )


def test_enforce_compatible_ignores_partition_type_inference(spark, tmp_path):
    """A STRING partition column whose values parse as ints reads back
    int (partitionColumnTypeInference) — the compat gate must not
    mistake that round-trip for a breaking type change and reject a
    valid same-schema append."""
    import pytest
    from pyspark.sql import functions as F

    from usgs_earthquake_data_pipeline_spark import sinks

    path = str(tmp_path / "t")
    base = spark.range(5).select(
        F.col("id"),
        F.lit("2020").alias("year"),  # string, int-parsable
        F.lit("01").alias("month"),
    )
    sinks.save_partitioned_table(base, path, mode="append")
    # read-back infers year as int — the append must still pass
    assert sinks.save_partitioned_table(
        base, path, mode="append", enforce_compatible=True
    )
    # and a REAL breaking change in a data column is still caught
    with pytest.raises(ValueError, match="incompatible schema evolution"):
        sinks.save_partitioned_table(
            base.withColumn("id", F.col("id").cast("string")),
            path,
            mode="append",
            enforce_compatible=True,
        )
