"""Certification legs of the approximate catalog families, and the
memo of checkpointed exact truth sets they verify against.

An approximate entry (MinHash/SimHash/LSH dedup, IVF/LSH/PQ search,
SemDeDup, LSH cluster resolution) has no SQL twin for its production
output, so its oracle pins contract booleans TRUE next to an
SQL-expressible payload. Each boolean is a *leg*: a one-row,
one-column DataFrame that the entry cross-joins (broadcast) onto its
payload. Every leg is written here once, as a named function, so an
entry says which algebra a contract uses by calling it:

- ``rows_equal_ok`` — the same rows as multisets (empty symmetric
  ``exceptAll`` difference);
- ``subset_ok`` — every row of one side is in the other (empty
  ``left_anti``);
- ``recall_floor_ok`` — |approx ∩ exact| / |exact| >= floor;
- ``same_label_ok`` — both endpoints of every edge carry one label, a
  missing label counting as a violation;
- the two legs a family shares: ``simhash_banding_complete_ok`` and
  ``minhash_lsh_ok``, plus ``ann_cosine_gate``, the whole gate of the
  cosine ANN entries.

A leg only one entry uses stays inline in that entry.

The truth sets (exact cosine all-pairs, exact and prefix-filtered
Jaccard pairs at t=0.3 and the clusters of the latter, exact cosine
pairs at t=0.3, the k=1 SemDeDup survivors) are built once per
(session, sf_dir, table files) and pinned, so repeated certification
of the same corpus reuses them.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..materialize import materialize, materialize_lazy
from ..operators import dedup as D
from ..operators import similarity as S
from ..sources.tables import load_table

# ---------------------------------------------------------------------------
# Legs
# ---------------------------------------------------------------------------


def _empty_ok(df: DataFrame, name: str) -> DataFrame:
    return df.agg((F.count(F.lit(1)) == 0).alias(name))


def rows_equal_ok(a: DataFrame, b: DataFrame, name: str) -> DataFrame:
    """``a`` and ``b`` hold the same rows with the same multiplicities:
    the symmetric ``exceptAll`` difference is empty, so a duplicated
    row on one side is a violation too."""
    return _empty_ok(a.exceptAll(b).unionAll(b.exceptAll(a)), name)


def subset_ok(
    sub: DataFrame, sup: DataFrame, keys: tuple[str, ...], name: str
) -> DataFrame:
    """Every ``keys`` tuple of ``sub`` appears in ``sup``: the
    ``left_anti`` join of the two projections is empty."""
    keys = list(keys)
    return _empty_ok(
        sub.select(*keys).join(sup.select(*keys), keys, "left_anti"), name
    )


def recall_floor_ok(
    approx: DataFrame,
    exact: DataFrame,
    keys: tuple[str, ...],
    floor: float,
    name: str,
) -> DataFrame:
    """|approx ∩ exact| / |exact| >= floor over ``keys``. ONE
    left-outer join + one agg; both sides are distinct on ``keys`` by
    the emitting operators' contracts, so the outer join cannot fan
    out."""
    marked = approx.select(*keys).withColumn("_hit", F.lit(1))
    return (
        exact.select(*keys)
        .join(marked, list(keys), "left_outer")
        .agg((F.count("_hit") >= F.lit(floor) * F.count(F.lit(1))).alias(name))
    )


def same_label_ok(edges: DataFrame, labels: DataFrame, name: str) -> DataFrame:
    """Both endpoints of every edge (``id_a``, ``id_b``) carry the same
    ``canonical_id`` in ``labels`` (``id``, ``canonical_id``). Left
    joins: an endpoint with no label is a violation, not a row that
    drops out of the check."""
    ca = labels.select(
        F.col("id").alias("id_a"), F.col("canonical_id").alias("can_a")
    )
    cb = labels.select(
        F.col("id").alias("id_b"), F.col("canonical_id").alias("can_b")
    )
    return (
        edges.join(ca, "id_a", "left")
        .join(cb, "id_b", "left")
        .agg(
            (
                F.count(
                    F.when(
                        F.col("can_a").isNull()
                        | F.col("can_b").isNull()
                        | (F.col("can_a") != F.col("can_b")),
                        1,
                    )
                )
                == 0
            ).alias(name)
        )
    )


def simhash_banding_complete_ok(docs: DataFrame) -> DataFrame:
    """``banding_complete``: the production banded SimHash join (64-bit
    fingerprint, 4 disjoint 16-bit bands, max_hamming=3) finds exactly
    the pairs a brute-force all-pairs Hamming scan finds — a THEOREM
    by pigeonhole (any pair within 3 bit flips shares a band). The
    brute side is a broadcast nested-loop over the (id, fingerprint)
    projection, bounded and deliberate. ONE lazily-materialized
    fingerprint frame feeds the banded join (via ``fp_df``) AND both
    sides of the brute-force twin, so the SimHash fold runs once."""
    fp = (
        D.simhash_col(
            D._widen(docs.select(F.col("doc_id").alias("id"), "text")),
            "text",
        )
        .select("id", "simhash")
        .transform(materialize_lazy)
    )
    banded = D.simhash_near_pairs(
        docs, "doc_id", "text", max_hamming=3, fp_df=fp
    ).select("id_a", "id_b", "hamming")
    a = fp.select(F.col("id").alias("id_a"), F.col("simhash").alias("fa"))
    b = fp.select(F.col("id").alias("id_b"), F.col("simhash").alias("fb"))
    brute = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", D.hamming64(F.col("fa"), F.col("fb")))
        .filter(F.col("hamming") <= 3)
        .select("id_a", "id_b", "hamming")
    )
    return rows_equal_ok(banded, brute, "banding_complete")


def minhash_lsh_ok(
    lsh: DataFrame, exact: DataFrame, recall_name: str
) -> tuple[DataFrame, DataFrame]:
    """The MinHash-LSH pair contract over a production ``(id_a, id_b)``
    pair set, against the exact t=0.3 Jaccard pairs: the precision leg
    ``lsh_precision_ok`` (every emitted pair is a true pair — the
    candidates are verified before emission) and the recall leg
    ``recall_name`` (recall over STRONG pairs, exact Jaccard >= 0.9,
    is >= 0.95; the banding S-curve puts per-pair miss probability at
    J=0.9 below 2e-4)."""
    keys = ("id_a", "id_b")
    prec = subset_ok(lsh, exact, keys, "lsh_precision_ok")
    strong = exact.filter(F.col("jaccard") >= 0.9)
    return prec, recall_floor_ok(lsh, strong, keys, 0.95, recall_name)


def ann_cosine_gate(
    spark: SparkSession,
    sf_dir: str,
    approx: DataFrame,
    *,
    floor: float,
    scores_name: str,
    recall_name: str,
) -> DataFrame:
    """The whole gate of the cosine ANN entries (ann_ivf,
    ann_lsh_bucketed): exact cosine top-5 payload + the scores-exact
    theorem (every approximate (query, neighbor, score) is in the
    exact all-pairs universe with the identical 6-dp score) + the
    recall floor, over any approximate (query_id, neighbor_id, score)
    result.

    ``approx`` feeds both booleans; un-materialized, the caller's
    whole approximate pipeline (bucket/candidate join + scoring)
    would execute once per consumer. It is a ≤ k·|queries|-row frame,
    so materialize it."""
    approx = approx.transform(materialize_lazy)
    exact5 = exact_cosine_top5(spark, sf_dir)
    scores_ok = subset_ok(
        approx,
        exact_all_pairs(spark, sf_dir),
        ("query_id", "neighbor_id", "score"),
        scores_name,
    )
    recall_ok = recall_floor_ok(
        approx, exact5, ("query_id", "neighbor_id"), floor, recall_name
    )
    return (
        exact5.crossJoin(F.broadcast(scores_ok))
        .crossJoin(F.broadcast(recall_ok))
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# Truth memo
# ---------------------------------------------------------------------------

# Per-(session, sf_dir) memo of checkpointed shared TRUTH SETS: each is
# the exact relation several gate entries verify against, so it is
# computed once rather than per entry. WeakKeyDictionary: a stopped
# session's checkpoint blocks are gone, so its cache entry must die
# with it. Keys carry the source table's file fingerprint so
# regenerating the parquet within one session recomputes the truth
# instead of silently reusing a stale checkpoint.
_TRUTH_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def _table_fingerprint(sf_dir: str, table: str) -> tuple:
    """(path, mtime_ns, size) of every file under the sf_dir's
    ``<table>.parquet`` — the memo-invalidation key."""
    root = os.path.join(sf_dir, f"{table}.parquet")
    if os.path.isfile(root):
        st = os.stat(root)
        return ((root, st.st_mtime_ns, st.st_size),)
    out = []
    for dirpath, _dirs, files in os.walk(root):
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            st = os.stat(p)
            out.append((os.path.relpath(p, root), st.st_mtime_ns, st.st_size))
    return tuple(out)


def _truth_cached(
    spark: SparkSession, sf_dir: str, name: str, table: str, build, *,
    pinned: bool = False,
):
    """Memoized pin of a shared truth set. ``build`` takes the loaded
    source table and returns the truth DataFrame; ``pinned=True`` says
    that frame already reads only a pin (``resolve_dup_clusters``'
    labels) and is kept as is, not pinned a second time. Safe to
    share: every consumer treats the result as an immutable relation."""
    per = _TRUTH_MEMO.setdefault(spark, {})
    key = (name, os.path.normpath(sf_dir), _table_fingerprint(sf_dir, table))
    if key not in per:
        # drop superseded fingerprints for the same (name, sf_dir) so
        # a regenerate-loop can't grow the memo without bound
        for old in [k for k in per if k[:2] == key[:2]]:
            del per[old]
        truth = build(load_table(spark, sf_dir, table))
        per[key] = truth if pinned else truth.transform(materialize)
    return per[key]


def _cosine_exact_all_pairs(emb: DataFrame) -> DataFrame:
    """Every (query vec_id < 10, corpus) exact cosine pair, ranked —
    computed with the JVM sequential-fold `cosine` expression, the
    SAME doubles the IVF/LSH operators score candidates with AND the
    same left-to-right association DuckDB's list_cosine_similarity
    uses. That bit-identity is what makes the `*_scores_exact_ok`
    booleans THEOREMS rather than corpus-dependent facts (a
    numpy-scored universe, pairwise-summed, could round a boundary
    pair to a different 6th decimal than the operators' fold).
    Broadcast nested-loop over the 10-query contract bound; rank ties
    broken by neighbor_id on the UNROUNDED score, exactly like the SQL
    oracle."""
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("cv"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_raw"), F.asc("neighbor_id")
    )
    return (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            S.cosine(F.col("qv"), F.col("cv")).alias("score_raw"),
        )
        .withColumn("rank", F.row_number().over(w))
        .select(
            "query_id",
            "neighbor_id",
            F.round("score_raw", 6).alias("score"),
            "rank",
        )
    )


def exact_all_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pinned exact cosine all-pairs universe (queries vec_id < 10)
    shared by the cosine ANN gates: an immutable (query_id,
    neighbor_id, score, rank) relation."""
    return _truth_cached(
        spark, sf_dir, "ann_exact_pairs", "embeddings",
        _cosine_exact_all_pairs,
    )


def exact_cosine_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact cosine top-5 per query, from :func:`exact_all_pairs`:
    the payload of the cosine ANN gates."""
    return exact_all_pairs(spark, sf_dir).filter(F.col("rank") <= 5).select(
        "query_id", "neighbor_id", "score", "rank"
    )


def exact_jaccard03(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pinned exact 3-gram Jaccard pair set at t=0.3 — the truth
    relation the minhash gate entries verify against. The HEADLINE
    entry ``dedup_ngram_jaccard`` deliberately does NOT use the memo:
    it is the exact tier's regression-visible timing."""
    return _truth_cached(
        spark, sf_dir, "jaccard03_pairs", "documents",
        lambda docs: D.ngram_jaccard_pairs(
            docs, "doc_id", "text", threshold=0.3
        ),
    )


def prefix03_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pinned prefix-filtered exact Jaccard pair set at t=0.3 —
    the shared input of the cluster-resolution entries
    (``dedup_resolve_clusters``, ``dedup_components_two_phase``,
    ``dedup_keep_best_in_cluster``, ``near_dedup_keep_one``) and the
    exact side of ``dedup_resolve_clusters_lsh``. The HEADLINE prefix
    entry ``dedup_jaccard_prefix`` (t=0.7) deliberately does NOT
    share: it is the prefix tier's regression-visible timing."""
    return _truth_cached(
        spark, sf_dir, "prefix03_pairs", "documents",
        lambda docs: D.ngram_jaccard_prefix_pairs(
            docs, "doc_id", "text", threshold=0.3
        ),
    )


def prefix03_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pinned exact clusters of :func:`prefix03_pairs`: (id,
    canonical_id) from ``resolve_dup_clusters``, the truth labels the
    exact side of ``dedup_resolve_clusters_lsh`` checks its LSH
    clusters against. The production cluster entries run their own
    loop: their labels are their payload."""
    return _truth_cached(
        spark, sf_dir, "prefix03_clusters", "documents",
        lambda _docs: D.resolve_dup_clusters(prefix03_pairs(spark, sf_dir)),
        pinned=True,
    )


def cosine03_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pinned exact (n_planes=0 — every pair compared)
    embedding-cosine pair set at t=0.3: the truth relation shared by
    ``dedup_embedding_cosine`` (its precision/recall reference legs)
    and ``dedup_embedding_cosine_exact`` (its whole payload)."""
    return _truth_cached(
        spark, sf_dir, "cosine03_pairs", "embeddings",
        lambda emb: S.embedding_near_dup_pairs(
            emb, threshold=0.3, n_planes=0
        ),
    )


def semdedup_exact_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pinned k=1 SemDeDup survivor set (expr comparator — the
    bit-stable keep-min rule): (vec_id, list_id) rows shared by
    ``dedup_semdedup_exact`` (its whole payload) and
    ``dedup_semantic_semdedup`` (its exactness reference leg)."""
    return _truth_cached(
        spark, sf_dir, "semdedup_exact_k1", "embeddings",
        lambda emb: S.semantic_dedup(
            emb, "vec_id", "embedding", k=1, dim=64, threshold=0.3,
            comparator="expr",
        ),
    )
