"""The scale-safe materialization policy (r13 verdict item 3).

Every multiply-consumed frame in the operators/entries is pinned via
``materialize.materialize``; these tests pin the policy switch itself:

- default (``local``) mode IS ``localCheckpoint`` — lineage truncated
  to an RDD scan, identical to the round-13 plans;
- ``persist`` mode keeps lineage (an InMemoryRelation appears, the
  source stays under it — recomputable on block loss, guide §5);
- ``reliable`` mode writes a reliable checkpoint into the configured
  dir and truncates lineage like ``local``;
- results are identical across modes (the knob changes fault
  tolerance, never values);
- an unknown mode fails loudly, never silently degrades;
- a requested checkpoint dir the context cannot adopt is logged.
"""

from __future__ import annotations

import logging

import pytest
from pyspark.sql import functions as F

from usgs_earthquake_data_pipeline_spark import materialize as materialize_module
from usgs_earthquake_data_pipeline_spark.materialize import (
    CONF_KEY,
    DIR_CONF_KEY,
    materialize,
    materialize_mode,
)


@pytest.fixture
def mode_conf(spark):
    """Restore the session's materialize mode after each test (the
    suite's session is shared)."""
    yield spark
    spark.conf.unset(CONF_KEY)


def _df(spark):
    return spark.range(100).select(
        F.col("id"), (F.col("id") % 7).alias("k")
    )


def test_default_mode_is_local(spark):
    assert materialize_mode(spark) == "local"


def test_local_truncates_lineage(mode_conf):
    spark = mode_conf
    spark.conf.set(CONF_KEY, "local")
    out = materialize(_df(spark), eager=True)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan
    assert "Range" not in plan  # source subtree gone — lineage cut


def test_persist_keeps_lineage(mode_conf):
    spark = mode_conf
    spark.conf.set(CONF_KEY, "persist")
    df = _df(spark)
    out = materialize(df, eager=True)
    try:
        plan = out._jdf.queryExecution().withCachedData().toString()
        assert "InMemoryRelation" in plan
        # lineage retained: the source Range sits under the cache, so
        # a lost block recomputes instead of failing the job
        assert "Range" in plan
        assert out.storageLevel.useDisk and out.storageLevel.useMemory
    finally:
        out.unpersist()


def test_reliable_checkpoints_to_dir(mode_conf, tmp_path):
    spark = mode_conf
    spark.conf.set(CONF_KEY, "reliable")
    spark.conf.set(
        "spark.graft.checkpoint.dir", str(tmp_path / "ckpt")
    )
    out = materialize(_df(spark), eager=True)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan
    ckpt_dir = spark.sparkContext._jsc.sc().getCheckpointDir()
    assert ckpt_dir.isDefined()
    # NOTE: setCheckpointDir is once-per-context in practice (a shared
    # test session may have pinned it already); the mode contract is
    # "a reliable dir exists and the checkpoint succeeded", which the
    # Defined check plus the materialized result pin.
    assert out.count() == 100


def test_results_identical_across_modes(mode_conf):
    spark = mode_conf
    expected = sorted(r.id for r in _df(spark).collect())
    for mode in ("local", "persist", "reliable"):
        spark.conf.set(CONF_KEY, mode)
        out = materialize(_df(spark), eager=False)
        got = sorted(r.id for r in out.collect())
        assert got == expected, mode
        if mode == "persist":
            out.unpersist()


def test_unknown_mode_fails_loudly(mode_conf):
    spark = mode_conf
    spark.conf.set(CONF_KEY, "everywhere")
    with pytest.raises(ValueError, match="everywhere"):
        materialize(_df(spark))


def test_reliable_warns_when_requested_dir_is_not_the_contexts(
    mode_conf, tmp_path, caplog
):
    """The checkpoint dir is once per SparkContext: a different
    requested dir cannot take effect, and that must be logged with
    both dirs rather than ignored silently."""
    spark = mode_conf
    spark.conf.set(CONF_KEY, "reliable")
    try:
        spark.conf.set(DIR_CONF_KEY, str(tmp_path / "first"))
        materialize(_df(spark), eager=True)  # pins the context's dir
        current = spark.sparkContext._jsc.sc().getCheckpointDir().get()
        other = str(tmp_path / "elsewhere")
        spark.conf.set(DIR_CONF_KEY, other)
        with caplog.at_level(logging.WARNING, logger=materialize_module.__name__):
            assert materialize(_df(spark), eager=True).count() == 100
        warned = [r.getMessage() for r in caplog.records]
        assert any(other in m and current in m for m in warned), warned

        # requesting the dir the context already uses is silent
        caplog.clear()
        spark.conf.set(DIR_CONF_KEY, current.rsplit("/", 1)[0])
        with caplog.at_level(logging.WARNING, logger=materialize_module.__name__):
            materialize(_df(spark), eager=True)
        assert not caplog.records
    finally:
        spark.conf.unset(DIR_CONF_KEY)
