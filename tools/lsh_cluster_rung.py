"""Scaling rung for the LSH-fed cluster-resolution production path
(r13 verdict item 1): time `minhash_lsh_pairs` (banded buckets, exact
verify) + `two_phase_components` — the 100 TB input tier
`dedup_resolve_clusters_lsh` gates — on two same-generator dirs and
report the wall ratio. The exact-prefix pair build this replaces is
the documented sf1→sf10 quadratic cliff (SCALING.md: 51x at x10
data); the banded tier should stay near-linear.

Usage: python tools/lsh_cluster_rung.py SMALL_DIR BIG_DIR
(dirs need only documents.parquet). One warm pass at the small dir,
then interleaved small/big passes; prints per-stage seconds.
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def run(spark, sf_dir: str) -> dict:
    from pyspark.sql import functions as F

    from usgs_earthquake_data_pipeline_spark.materialize import materialize
    from usgs_earthquake_data_pipeline_spark.operators.dedup import (
        minhash_lsh_pairs,
        two_phase_components,
    )
    from usgs_earthquake_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    t0 = time.perf_counter()
    pairs = (
        minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.3)
        .select("id_a", "id_b")
        .transform(materialize)
    )
    n_pairs = pairs.count()
    t1 = time.perf_counter()
    comp = two_phase_components(pairs)
    n_clusters = comp.agg(F.countDistinct("canonical_id")).collect()[0][0]
    t2 = time.perf_counter()
    return {
        "pairs_s": round(t1 - t0, 2),
        "components_s": round(t2 - t1, 2),
        "total_s": round(t2 - t0, 2),
        "n_pairs": n_pairs,
        "n_clusters": n_clusters,
    }


def main() -> None:
    if len(sys.argv) != 3:
        raise SystemExit("usage: lsh_cluster_rung.py SMALL_DIR BIG_DIR")
    small, big = sys.argv[1], sys.argv[2]
    from usgs_earthquake_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="lsh_cluster_rung")
    spark.range(1000).count()
    run(spark, small)  # warm-up (JVM/codegen)
    for tag, d in (("small", small), ("big", big), ("small", small), ("big", big)):
        r = run(spark, d)
        print(f"{tag} {d}: {r}")
    spark.stop()


if __name__ == "__main__":
    main()
