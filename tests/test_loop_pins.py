"""The iterative loops release the round pins they supersede.

Each loop pins one frame per round (or every few rounds) to truncate
lineage. A pin that a later round has replaced is read by nothing, so
the loop unpersists it: the pins a loop leaves in the session must not
grow with its depth.

Pins are counted as the RDD ids in ``getPersistentRDDs`` after the
loop that were not there before it. Comparing ``.size()`` instead
would let the ContextCleaner's removal of older pins mask a leak or
fake one.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from usgs_earthquake_data_pipeline_spark.operators.clustering import kmeans_lloyd
from usgs_earthquake_data_pipeline_spark.operators.dedup import (
    resolve_dup_clusters,
    two_phase_components,
)
from usgs_earthquake_data_pipeline_spark.operators.graph import pagerank
from usgs_earthquake_data_pipeline_spark.plans.vocab_ops import _bpe_train


def _chain(spark, n):
    return spark.range(n).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )


def _components(out):
    return sorted({r.canonical_id for r in out.collect()}), out.count()


def _resolve(spark, sf_dir, d):
    # a chain converges in (diameter + 1) rounds, one pin each
    return _components(resolve_dup_clusters(_chain(spark, d), max_iterations=d + 2))


def _two_phase(spark, sf_dir, d):
    # rounds grow as log2 of the chain length
    return _components(two_phase_components(_chain(spark, 2 ** d)))[0]


def _pagerank(spark, sf_dir, d):
    # a directed 5-cycle: every rank stays at 1.0 whatever the depth
    cycle = spark.range(5).select(
        F.col("id").alias("src"), ((F.col("id") + 1) % 5).alias("dst")
    )
    out = pagerank(cycle, iterations=d, checkpoint_every=1)
    return sorted((r.node, round(r.rank, 9)) for r in out.collect())


def _kmeans(spark, sf_dir, d):
    # two well-separated blobs: Lloyd is at its fixed point after one round
    pts = spark.createDataFrame(
        [(i, [float(i % 2) * 10 + i / 100, 0.0]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    out = kmeans_lloyd(pts, k=2, iterations=d, dim=2, checkpoint_every=1)
    return [tuple(r) for r in out.collect()]


def _bpe(spark, sf_dir, d):
    merges, cur = _bpe_train(spark, sf_dir, d, checkpoint_every=1)
    totals = cur.agg(F.count("*"), F.sum("wf")).collect()[0]
    return merges[:1], tuple(totals)


LOOPS = {
    "resolve_dup_clusters": (_resolve, 1),
    "two_phase_components": (_two_phase, 1),
    "pagerank": (_pagerank, 1),
    "kmeans_lloyd": (_kmeans, 1),
    "bpe_train": (_bpe, 1),
}


def _new_pins(spark, run):
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    result = run()
    return len(set(jsc.getPersistentRDDs().keySet()) - before), result


@pytest.mark.parametrize("loop", sorted(LOOPS))
def test_loop_pins_do_not_grow_with_depth(spark, sf_dir, loop):
    run, d = LOOPS[loop]
    shallow_pins, shallow = _new_pins(spark, lambda: run(spark, sf_dir, d))
    deep_pins, deep = _new_pins(spark, lambda: run(spark, sf_dir, 4 * d))
    assert deep_pins == shallow_pins, (loop, shallow_pins, deep_pins)
    if loop == "resolve_dup_clusters":
        # only the final labels' pin survives: the edge set is released
        assert shallow_pins == 1, shallow_pins
        assert shallow == ([0], d + 1) and deep == ([0], 4 * d + 1)
    else:
        assert deep == shallow


def test_truth_clusters_leave_one_pin(spark, tmp_path):
    """The memoized truth labels are ``resolve_dup_clusters``' own
    pinned labels, taken as is: the first call on new data leaves one
    pin, not a second pin over the first."""
    from tools.gen_testdata import generate
    from usgs_earthquake_data_pipeline_spark.plans.certify import (
        prefix03_clusters,
        prefix03_pairs,
    )

    d = str(tmp_path / "sf")
    generate(0.001, d, only={"documents"})
    prefix03_pairs(spark, d)  # the shared pairs' pin is not the labels'
    pins, labels = _new_pins(spark, lambda: prefix03_clusters(spark, d))
    assert pins == 1, pins
    assert prefix03_clusters(spark, d) is labels
    assert labels.count() > 0
