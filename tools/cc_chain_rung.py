"""Reproduce the round-13 connected-components chain rung
(SCALING.md / EXPLAIN.md): large-star/small-star on a pure chain —
the adversarial diameter-equals-n topology — measuring rounds and
wall, plus the label-propagation control that (by design) aborts its
convergence guard. Not part of the package; safe to delete.

Usage: python tools/cc_chain_rung.py [n_nodes=1000000]
"""

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F

from usgs_earthquake_data_pipeline_spark.materialize import materialize
from usgs_earthquake_data_pipeline_spark.operators.dedup import (
    resolve_dup_clusters,
    two_phase_components,
)
from usgs_earthquake_data_pipeline_spark.session import get_spark


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    spark = get_spark(app_name="cc_chain_rung")
    pairs = (
        spark.range(n)
        .select(F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))
        .repartition(32)
        .transform(materialize)
    )
    rounds: list[float] = []
    t0 = time.time()
    out = two_phase_components(pairs, round_times=rounds)
    stats = out.agg(
        F.countDistinct("canonical_id").alias("c"), F.count("*").alias("n")
    ).collect()[0]
    assert stats["c"] == 1 and stats["n"] == n + 1, stats
    print(
        f"two-phase: chain n={n + 1} (diameter {n}) -> 1 component in "
        f"{len(rounds)} rounds / {time.time() - t0:.1f}s"
    )
    # control: label propagation is diameter-bound — its guard must
    # fire on even a small connected chain
    small = (
        spark.range(2000)
        .select(F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))
        .transform(materialize)
    )
    t0 = time.time()
    try:
        resolve_dup_clusters(small, max_iterations=25).count()
        raise AssertionError("label propagation unexpectedly converged")
    except RuntimeError:
        print(
            f"label propagation: 2001-node chain aborts its 25-round "
            f"guard after {time.time() - t0:.0f}s (diameter-bound, as "
            f"documented)"
        )


if __name__ == "__main__":
    main()
