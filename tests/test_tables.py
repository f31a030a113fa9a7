"""The table loader's per-process schema memo (``sources/tables.py``):
a warm load launches no Spark job, serves the schema an inferring read
would give, and re-infers when the file or an inference conf changes."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql.types import BinaryType, StringType, TimestampType

from usgs_earthquake_data_pipeline_spark.sources import tables
from usgs_earthquake_data_pipeline_spark.sources.tables import (
    TABLE_NAMES,
    load_table,
)


def _jobs(spark, group: str, fn) -> int:
    """Spark jobs launched by ``fn()``, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", TABLE_NAMES)
def test_warm_load_launches_no_job(name, spark, sf_dir):
    if not os.path.exists(os.path.join(sf_dir, f"{name}.parquet")):
        pytest.skip(f"{name} not shipped at {sf_dir}")
    load_table(spark, sf_dir, name)
    assert _jobs(spark, f"warm_load_{name}", lambda: load_table(spark, sf_dir, name)) == 0


def test_warm_schema_equals_inferred(spark, sf_dir):
    load_table(spark, sf_dir, "events")
    path = os.path.join(sf_dir, "events.parquet")
    warm = tables.read_parquet(spark, path).schema
    assert warm == spark.read.parquet(path).schema
    assert isinstance(load_table(spark, sf_dir, "events").schema["ts"].dataType, TimestampType)


def test_rewritten_file_is_reinferred(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert df.collect()[1]["b"] == "y"


def test_inference_conf_change_is_reinferred(spark, tmp_path):
    pq.write_table(pa.table({"raw": pa.array([b"q"], pa.binary())}), tmp_path / "t.parquet")
    key = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert isinstance(load_table(spark, str(tmp_path), "t").schema["raw"].dataType, BinaryType)
        spark.conf.set(key, "true")
        df = load_table(spark, str(tmp_path), "t")
        assert isinstance(df.schema["raw"].dataType, StringType)
        assert df.collect()[0]["raw"] == "q"
    finally:
        spark.conf.set(key, before)


def test_missing_path_raises_and_stores_nothing(spark, tmp_path):
    path = str(tmp_path / "absent.parquet")
    with pytest.raises(AnalysisException) as bare:
        spark.read.parquet(path)
    memo = dict(tables._SCHEMAS)
    with pytest.raises(AnalysisException) as loaded:
        load_table(spark, str(tmp_path), "absent")
    assert loaded.value.getCondition() == bare.value.getCondition()
    assert str(loaded.value) == str(bare.value)
    assert tables._SCHEMAS == memo
