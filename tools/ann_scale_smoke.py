"""sf1 -> sf10 scaling rung for the ANN family (round-13 verdict item
6: the near-dedup tiers have two measured rungs; IVF/PQ had none
beyond sf0.1). Measures the three production operators on
SAME-GENERATOR embeddings dirs (tools/gen_testdata.py: 20k vectors at
sf1, 200k at sf10, 64-dim) with a FIXED 50-query batch, so wall
ratios reflect corpus scale only:

1. ``ivf_assign`` — train-free centroid assignment (n_lists
   broadcast centroids, pure per-row expression). Expected linear in
   n x n_lists.
2. ``ivf_search_assigned`` over the PERSISTED partition-by-list_id
   index (the 100 TB disk layout tests/test_maintenance.py pins) —
   expected linear in candidate volume, which itself should track
   n_q x n x n_probe/n_lists for balanced lists. Both the measured
   candidate count vs that expectation and the pruned-scan evidence
   (partition count on disk, PartitionFilters reaching the scan) are
   reported, not just wall time.
3. ``pq_adc_topk`` — codebooks trained once per dir (m=8, k=16),
   then ADC scoring of the full corpus per query. Expected linear
   in n.

Protocol mirrors tools/sf1_smoke.py: one warm-up pass per op at the
SMALL sf, then one timed pass small -> big interleaved per op. One
pass each — a ratio smoke, not a latency record.

Usage: python tools/ann_scale_smoke.py [SMALL_DIR BIG_DIR]
Defaults: tmp_scale/{sf1,sf10} under the repository root (embeddings
table only is needed; generate with ``gen_testdata.py 10 tmp_scale/sf10
embeddings``). Index parquet goes under <dir>/ann_index_smoke and is
overwritten per run.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

N_LISTS = 64
N_PROBE = 4
N_QUERIES = 50
K = 5


def main() -> None:
    argv = list(sys.argv[1:])
    if len(argv) == 2:
        small, big = argv
    elif not argv:
        small = str(REPO / "tmp_scale" / "sf1")
        big = str(REPO / "tmp_scale" / "sf10")
    else:
        raise SystemExit("usage: ann_scale_smoke.py [SMALL_DIR BIG_DIR]")

    from pyspark.sql import functions as F

    from usgs_earthquake_data_pipeline_spark.materialize import materialize
    from usgs_earthquake_data_pipeline_spark.operators import pq as P
    from usgs_earthquake_data_pipeline_spark.operators import similarity as S
    from usgs_earthquake_data_pipeline_spark.session import get_spark
    from usgs_earthquake_data_pipeline_spark.sources.tables import load_table

    spark = get_spark(app_name="ann_scale_smoke")
    spark.range(1000).count()

    n_cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    def setup(sf_dir: str):
        # The generator writes ONE parquet file per table, so the scan
        # is a single input split and every per-row expression would
        # serialize on one core (first run of this tool: ivf_assign
        # 34.6s -> 366.4s, x10.6 — linear, but single-task at both
        # rungs). A real deployment's corpus spans many files;
        # repartitioning to the executor width measures the OPERATOR's
        # scaling, not single-file scan parallelism. The one-time
        # round-robin shuffle is outside every timed section.
        emb = (
            load_table(spark, sf_dir, "embeddings")
            .repartition(n_cpus)
            .transform(materialize)
        )
        n = emb.count()
        queries = emb.filter(F.col("vec_id") < N_QUERIES)
        cents = S.default_ivf_centroids(emb, n_lists=N_LISTS)
        return emb, n, queries, cents

    def run_assign(emb, cents):
        # force through an aggregate on the COMPUTED column — a bare
        # count() lets Catalyst prune the assignment expression away
        row = (
            S.ivf_assign(emb, cents)
            .agg(F.count("*").alias("n"), F.sum("list_id").alias("s"))
            .collect()[0]
        )
        assert row["s"] is not None
        return row["n"]

    def persist_index(emb, cents, sf_dir: str) -> str:
        path = os.path.join(sf_dir, "ann_index_smoke")
        S.ivf_assign(emb, cents).write.mode("overwrite").partitionBy(
            "list_id"
        ).parquet(path)
        return path

    def run_search(path: str, queries, cents):
        assigned = spark.read.parquet(path)
        return S.ivf_search_assigned(
            assigned, queries, cents, k=K, n_probe=N_PROBE
        ).count()

    def candidate_volume(path: str, queries, cents) -> int:
        """The list_id equi-join's row count BEFORE top-k — the number
        the n_probe/n_lists fraction predicts."""
        assigned = spark.read.parquet(path).select("vec_id", "list_id")
        q = S._nearest_lists(
            queries.select(
                F.col("vec_id").alias("qid"),
                S._as_double(F.col("embedding")).alias("q_vec"),
            ),
            "q_vec",
            N_PROBE,
            S._centroid_array(cents),
        ).select("qid", "list_id")
        return assigned.join(F.broadcast(q), "list_id").count()

    def pruned_scan_evidence(path: str, queries, cents):
        n_parts = len(glob.glob(os.path.join(path, "list_id=*")))
        probe_ids = [
            r.list_id
            for r in S._nearest_lists(
                queries.select(
                    F.col("vec_id").alias("qid"),
                    S._as_double(F.col("embedding")).alias("q_vec"),
                ),
                "q_vec",
                N_PROBE,
                S._centroid_array(cents),
            )
            .select("list_id")
            .distinct()
            .collect()
        ]
        pruned = spark.read.parquet(path).filter(
            F.col("list_id").isin(probe_ids)
        )
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        has_pf = "PartitionFilters: [" in plan and "list_id" in plan.split(
            "PartitionFilters:"
        )[1].split("]")[0]
        return {
            "partition_dirs": n_parts,
            "probed_lists": len(probe_ids),
            "partition_filter_pushed": bool(has_pf),
            "pruned_rows": pruned.count(),
        }

    def run_pq(emb, queries):
        books = P.train_pq_codebooks(emb, m=8, k_codes=16)
        return P.pq_adc_topk(emb, queries, books, k=K).count()

    emb_s, n_s, q_s, c_s = setup(small)
    emb_b, n_b, q_b, c_b = setup(big)
    print(f"small={small} n={n_s}; big={big} n={n_b}", flush=True)

    # warm-up at the small sf
    run_assign(emb_s, c_s)
    p_s = persist_index(emb_s, c_s, small)
    run_search(p_s, q_s, c_s)
    run_pq(emb_s, q_s)

    out: dict[str, dict] = {}

    def timed(name: str, fn_small, fn_big):
        t0 = time.perf_counter()
        r_small = fn_small()
        t_small = time.perf_counter() - t0
        t0 = time.perf_counter()
        r_big = fn_big()
        t_big = time.perf_counter() - t0
        ratio = t_big / t_small if t_small > 0 else float("inf")
        out[name] = {
            "small_s": round(t_small, 3),
            "big_s": round(t_big, 3),
            "ratio": round(ratio, 2),
            "small_rows": r_small,
            "big_rows": r_big,
        }
        print(
            f"{name:22s} {t_small:8.3f}s -> {t_big:8.3f}s  x{ratio:6.2f}",
            flush=True,
        )

    timed(
        "ivf_assign",
        lambda: run_assign(emb_s, c_s),
        lambda: run_assign(emb_b, c_b),
    )
    # persist both indexes (timed: this is the index-build write)
    timed(
        "ivf_index_write",
        lambda: (persist_index(emb_s, c_s, small), n_s)[1],
        lambda: (persist_index(emb_b, c_b, big), n_b)[1],
    )
    p_b = os.path.join(big, "ann_index_smoke")
    timed(
        "ivf_search_assigned",
        lambda: run_search(p_s, q_s, c_s),
        lambda: run_search(p_b, q_b, c_b),
    )
    timed(
        "pq_adc_topk",
        lambda: run_pq(emb_s, q_s),
        lambda: run_pq(emb_b, q_b),
    )

    # candidate volume vs the n_probe/n_lists expectation
    for name, path, q, c, n in (
        ("small", p_s, q_s, c_s, n_s),
        ("big", p_b, q_b, c_b, n_b),
    ):
        cand = candidate_volume(path, q, c)
        expected = N_QUERIES * n * N_PROBE / N_LISTS
        out[f"candidates_{name}"] = {
            "measured": cand,
            "balanced_expectation": int(expected),
            "ratio_vs_expected": round(cand / expected, 3),
        }
        print(
            f"candidates {name}: {cand} vs balanced {int(expected)} "
            f"(x{cand / expected:.2f})",
            flush=True,
        )

    out["pruning_small"] = pruned_scan_evidence(p_s, q_s, c_s)
    out["pruning_big"] = pruned_scan_evidence(p_b, q_b, c_b)
    # a BATCH of 50 queries collectively probes nearly every list
    # (50 x n_probe draws over 64 lists), so batch pruning is weak by
    # construction; the single-query case is the low-fanout serving
    # shape the partition layout exists for (n_probe/n_lists of the
    # corpus read).
    out["pruning_big_1q"] = pruned_scan_evidence(
        p_b, q_b.filter(F.col("vec_id") == 0), c_b
    )
    print(
        "pruning:", out["pruning_small"], out["pruning_big"],
        "1q:", out["pruning_big_1q"], flush=True,
    )

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
