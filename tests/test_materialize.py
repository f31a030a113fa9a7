"""The one materialization policy.

Every multiply-consumed frame in the operators/entries is pinned via
``materialize.materialize``; these tests pin the policy itself:

- the mechanism follows the master: ``localCheckpoint`` on a local
  master, reliable ``checkpoint`` on any other;
- both truncate lineage to an RDD scan and give identical results;
- ``release`` drops a pin's blocks and leaves later pins readable;
- nothing in the package or ``tools/`` pins a frame any other way.
"""

from __future__ import annotations

import ast
from pathlib import Path
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from usgs_earthquake_data_pipeline_spark import materialize as materialize_module
from usgs_earthquake_data_pipeline_spark.materialize import materialize, release


def _reliable(spark, ckpt, monkeypatch):
    """Take the non-local branch on the shared local session, with the
    context's checkpoint dir at ``ckpt``."""
    monkeypatch.setattr(materialize_module, "_local_master", lambda sc: False)
    spark.sparkContext.setCheckpointDir(str(ckpt))


def _df(spark):
    return spark.range(100).select(
        F.col("id"), (F.col("id") % 7).alias("k")
    )


def _rdd_id(df) -> int:
    return df._jdf.queryExecution().analyzed().rdd().id()


def _pinned_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


@pytest.mark.parametrize(
    "master, local",
    [
        ("local", True),
        ("local[4]", True),
        ("local[*]", True),
        ("local[4,2]", True),
        ("local-cluster[2,1,1024]", False),
        ("spark://host:7077", False),
        ("yarn", False),
        ("k8s://https://host:6443", False),
    ],
)
def test_mechanism_follows_the_master(master, local):
    assert materialize_module._local_master(SimpleNamespace(master=master)) is local


def test_default_mode_is_local(spark):
    """The suite's own ``local[N]`` session takes ``localCheckpoint``:
    the pin is a block-backed persistent RDD."""
    assert materialize_module._local_master(spark.sparkContext)
    assert _rdd_id(materialize(_df(spark))) in _pinned_ids(spark)


def test_local_truncates_lineage(spark):
    out = materialize(_df(spark), eager=True)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan
    assert "Range" not in plan  # source subtree gone — lineage cut


def test_reliable_checkpoints_to_dir(spark, tmp_path, monkeypatch):
    _reliable(spark, tmp_path, monkeypatch)
    out = materialize(_df(spark), eager=True)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan
    assert "Range" not in plan
    # the checkpoint files sit under the context's dir, not in blocks
    assert any(tmp_path.rglob(f"rdd-{_rdd_id(out)}"))
    assert _rdd_id(out) not in _pinned_ids(spark)
    assert out.count() == 100


def test_results_identical_across_modes(spark, tmp_path, monkeypatch):
    """Local and reliable pins differ in fault tolerance, never in rows."""
    expected = sorted(r.id for r in _df(spark).collect())
    local = sorted(r.id for r in materialize(_df(spark), eager=False).collect())
    _reliable(spark, tmp_path, monkeypatch)
    checked = sorted(r.id for r in materialize(_df(spark), eager=False).collect())
    assert local == checked == expected


def test_released_pin_leaves_the_session(spark):
    """A loop round: pin, pin the next round over it, release the
    first. Its RDD leaves ``getPersistentRDDs`` and the rounds after it
    still collect."""
    first = materialize(_df(spark))
    second = materialize(first.select("id", (F.col("k") + 1).alias("k")))
    release(first)
    assert _rdd_id(first) not in _pinned_ids(spark)
    assert _rdd_id(second) in _pinned_ids(spark)
    third = materialize(second.select("id", (F.col("k") * 2).alias("k")))
    release(second)
    got = sorted((r.id, r.k) for r in third.collect())
    assert got == [(i, (i % 7 + 1) * 2) for i in range(100)]


def test_only_materialize_checkpoints():
    """A direct ``.localCheckpoint(`` / ``.checkpoint(`` call anywhere
    in the package or ``tools/`` would pin outside the one policy."""
    root = Path(__file__).resolve().parents[1]
    own = Path(materialize_module.__file__).resolve()
    found = []
    for path in sorted(
        [*root.joinpath("usgs_earthquake_data_pipeline_spark").rglob("*.py"),
         *root.joinpath("tools").rglob("*.py")]
    ):
        if path.resolve() == own:
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("localCheckpoint", "checkpoint")
            ):
                found.append(f"{path.relative_to(root)}:{node.lineno}")
    assert not found, found
