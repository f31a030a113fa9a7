"""One-off: measure approximation quality of the rows-only ANN/near-dup
entries vs their exact twins at each SF, to pick driver-gate thresholds
(round-11 item 1). Not part of the package; safe to delete."""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F

from usgs_earthquake_data_pipeline_spark.operators import dedup as D
from usgs_earthquake_data_pipeline_spark.operators import pq as PQ
from usgs_earthquake_data_pipeline_spark.operators import similarity as S
from usgs_earthquake_data_pipeline_spark.plans.llm_ops import _exact_l2_topk
from usgs_earthquake_data_pipeline_spark.session import get_spark
from usgs_earthquake_data_pipeline_spark.sources.tables import load_table

spark = get_spark(app_name="measure_recall")


def recall(approx, exact, keys):
    a = approx.select(*keys)
    e = exact.select(*keys)
    n_e = e.count()
    hit = e.join(a, keys, "left_semi").count()
    return hit, n_e


for sf in ("0.001", "0.01", "0.1"):
    sf_dir = f"/root/testdata/sf{sf}"
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    q = emb.filter(F.col("vec_id") < 10)

    brute = S.brute_force_topk(emb, q, k=5).cache()
    ivf = S.ivf_topk(emb, q, k=5, n_lists=16, n_probe=4)
    lsh = S.lsh_topk(emb, q, k=5, n_planes=8)
    print(f"sf{sf} ann_ivf recall@5: {recall(ivf, brute, ['query_id','neighbor_id'])}")
    print(f"sf{sf} ann_lsh recall@5: {recall(lsh, brute, ['query_id','neighbor_id'])}")

    books = PQ.train_pq_codebooks(emb, m=8, k_codes=16, dim=64, iterations=1)
    exact_l2 = _exact_l2_topk(emb, 0, 10, 5).cache()
    adc = PQ.pq_adc_topk(emb, q, books, k=5)
    ivfpq = PQ.ivf_pq_topk(emb, q, books, k=5, n_lists=16, n_probe=4)
    print(f"sf{sf} ann_pq_adc recall@5: {recall(adc, exact_l2, ['query_id','neighbor_id'])}")
    print(f"sf{sf} ann_ivf_pq recall@5: {recall(ivfpq, exact_l2, ['query_id','neighbor_id'])}")

    exact_pairs = S.embedding_near_dup_pairs(emb, threshold=0.3, n_planes=0).cache()
    lsh_pairs = S.embedding_near_dup_pairs(emb, threshold=0.3, n_planes=8).cache()
    n_lsh = lsh_pairs.count()
    false_pos = lsh_pairs.join(
        exact_pairs.select("id_a", "id_b"), ["id_a", "id_b"], "left_anti"
    ).count()
    print(
        f"sf{sf} dedup_embedding_cosine: emitted={n_lsh} false_pos={false_pos} "
        f"recall={recall(lsh_pairs, exact_pairs, ['id_a','id_b'])}"
    )

    ex_j = D.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.3).cache()
    mh = D.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.3).cache()
    n_mh = mh.count()
    fp = mh.select("id_a", "id_b").join(
        ex_j.select("id_a", "id_b"), ["id_a", "id_b"], "left_anti"
    ).count()
    strong = ex_j.filter(F.col("jaccard") >= 0.9)
    print(
        f"sf{sf} dedup_minhash_lsh: emitted={n_mh} false_pos={fp} "
        f"recall_all={recall(mh, ex_j, ['id_a','id_b'])} "
        f"recall_strong={recall(mh, strong, ['id_a','id_b'])}"
    )

    # semdedup at threshold 0.3: production k=8 vs exact k=1, expr both
    surv_exact = S.semantic_dedup(
        emb, "vec_id", "embedding", k=1, dim=64, threshold=0.3, comparator="expr"
    ).cache()
    surv_prod = S.semantic_dedup(
        emb, "vec_id", "embedding", k=8, dim=64, threshold=0.3
    ).cache()
    n_total = emb.count()
    n_ke, n_kp = surv_exact.count(), surv_prod.count()
    false_drop = surv_exact.select("vec_id").join(
        surv_prod.select("vec_id"), "vec_id", "left_anti"
    ).count()
    print(
        f"sf{sf} semdedup: total={n_total} kept_exact={n_ke} kept_prod={n_kp} "
        f"drops_exact={n_total-n_ke} drops_prod={n_total-n_kp} false_drop={false_drop}"
    )

spark.stop()
