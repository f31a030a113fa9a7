"""Lexical retrieval: distributed BM25 scoring and top-k search.

The retrieval half real RAG pipelines pair with the embedding index
(``operators/similarity.py`` / ``plans/llm_ops.py rag_index_*``):
BM25 (Robertson/Spärck Jones; the Lucene ``k1``/``b`` variant with
the +1-smoothed IDF) over whitespace tokens.

Scale shape (100 TB): the query's term set is tiny and known up
front, so each term becomes a conditional counter inside ONE per-doc
aggregate over the token explode — the corpus is tokenized exactly
once, partial (map-side) aggregation collapses the token volume to
one (id, dl, tf_0..tf_|Q|) row per doc per partition, and nothing
wider than that crosses the single exchange. Per-term document
frequencies and the corpus totals (N, Σdl) all fall out of a
one-row aggregate over that frame, broadcast back as literals-by-
another-name. No term-stats join, no second tokenize pass, nothing
quadratic; top-k is TakeOrdered — never a global sort.

Two bounds to know before reusing this operator elsewhere:

- The per-doc aggregate is O(|Q|) columns WIDE per corpus row — fine
  for the fixed handful of query terms the catalog uses, but a
  large |Q| (hundreds of terms) should go back to a postings join
  (explode + semi-join on the term set), not |Q| counters.
- The materialized per-doc frame is corpus-sized (narrow: id, dl,
  tf_0..tf_|Q|). How it is pinned — and the executor-loss story at
  100 TB — is ``materialize.py``'s one policy: localCheckpoint on a
  local master, reliable checkpoint into ``spark.checkpoint.dir`` on
  a cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..materialize import materialize_lazy


def bm25_topk(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    *,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-``k`` documents by BM25 against a bag of query terms.

    score(D, Q) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·|D|/avgdl))
    with idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)) — the Lucene
    non-negative variant.

    Ranking is by the score ROUNDED to 6 decimals with ``id`` as the
    tiebreak: the only non-rational term is ln(), whose cross-engine
    ULP differences 6-dp rounding absorbs, making the top-k set and
    order reproducible against a SQL oracle (same convention as the
    ANN entries). Returns (id, score, rank).
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    # dedupe while keeping a deterministic term order (a duplicated
    # query term must not double-count its contribution)
    qterms = list(dict.fromkeys(query_terms))
    toks = docs.select(
        F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("term")
    )
    # ONE tokenize pass: full doc length (BM25 normalizes by |D|, so
    # it counts every token) and the |Q| per-term frequencies are
    # conditional counters in the same per-doc aggregate — the old
    # doclen-pass + postings-pass form tokenized the corpus twice
    # (r13 optimization round, guide §2.4/§2.3). Materialized once:
    # it feeds the one-row stats aggregate and the scoring pass.
    per_doc = toks.groupBy("id").agg(
        F.count(F.lit(1)).alias("dl"),
        *[
            F.count(F.when(F.col("term") == t, 1)).alias(f"tf_{i}")
            for i in range(len(qterms))
            for t in [qterms[i]]
        ],
    ).transform(materialize_lazy)
    # N, Σdl and every per-term document frequency in ONE driver-row
    # aggregate over the narrow checkpointed frame — replaces the old
    # per-term stats aggregate + broadcast join
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.count(F.when(F.col(f"tf_{i}") > 0, 1)).alias(f"df_{i}")
            for i in range(len(qterms))
        ],
    )
    # docs with no query term never scored a row in the postings form
    tf_cols = [F.col(f"tf_{i}") for i in range(len(qterms))]
    any_hit = tf_cols[0] if len(tf_cols) == 1 else F.greatest(*tf_cols)
    matched = per_doc.filter(any_hit > 0).crossJoin(F.broadcast(stats))
    # per-term contribution; tf==0 terms contribute an exact 0.0
    # (numerator is tf·(k1+1)), so the fixed-order sum equals the old
    # matching-terms-only aggregate within the 6-dp rounding grain
    norm = F.lit(k1) * (
        F.lit(1.0 - b)
        + F.lit(b) * F.col("dl") * F.col("n_docs") / F.col("sum_dl")
    )

    def _contrib(i: int):
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col(f"df_{i}") + F.lit(0.5))
            / (F.col(f"df_{i}") + F.lit(0.5))
        )
        tf_i = F.col(f"tf_{i}")
        # tf==0 must contribute an EXACT 0.0 regardless of k1: with
        # k1=0 (a legal BM25 parameter) norm is 0 and the unguarded
        # form is 0.0/0.0 = NaN, poisoning the doc's whole score (the
        # postings form only ever scored tf>0 rows). For k1>0 the
        # branch equals the old expression bit-for-bit (0/norm = 0.0).
        return F.when(
            tf_i > 0, idf * (tf_i * F.lit(k1 + 1.0)) / (tf_i + norm)
        ).otherwise(F.lit(0.0))

    total = _contrib(0)
    for i in range(1, len(qterms)):
        total = total + _contrib(i)
    by_doc = matched.select("id", F.round(total, 6).alias("score"))
    # rank over the k survivors only (a single tiny partition), never
    # a global window over the corpus — the limit compiles to
    # TakeOrdered, which is the distributed top-k
    topk = by_doc.orderBy(F.col("score").desc(), F.col("id")).limit(k)
    w = Window.orderBy(F.col("score").desc(), F.col("id"))
    return topk.select(
        "id", "score", F.row_number().over(w).cast("long").alias("rank")
    )


def maxsim_topk(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec: list[float],
    *,
    m: int = 8,
    k: int = 10,
) -> DataFrame:
    """Late-interaction (ColBERT-style MaxSim) top-``k`` retrieval.

    A ``d``-dim embedding is viewed as ``m`` contiguous sub-vectors of
    ``d/m`` dims — the multi-vector ("token embedding") document
    representation.  score(D, Q) = Σ_i max_j dot(Q_i, D_j): each query
    token matches its best document token, and the per-token maxima
    sum.  This is the fusion that makes late-interaction retrievers
    (ColBERT, Khattab & Zaharia SIGIR'20) outrank single-vector
    cosine on multi-topic documents while staying index-friendly.

    Plan (the token-level-index shape): posexplode each corpus row
    into ``m`` (id, slot, sub_vec) token rows — the slice is bound to
    a real column BEFORE any dot product touches it (the interpreted-
    HOF let-binding rule), so each fold reads an evaluated array.
    Per token row the ``m`` query-slot dots are plain codegen
    projections; one partial-aggregated groupBy(id) takes max per
    query slot and the final score is a fixed-order sum of the ``m``
    maxima, rounded 6 dp before ranking (id tiebreak) — TakeOrdered
    top-k, never a global sort.

    Scale shape (100 TB): the explode multiplies rows by ``m`` but
    each token row is narrow (d/m doubles); the only shuffle is the
    partial-aggregated per-doc max/sum, and the query side is a
    driver-held literal (same broadcast bound as ``brute_force_topk``
    — a real multi-query deployment swaps the literal for a broadcast
    token table and the per-token ANN candidate step of the
    ``rag_index_*`` entries, leaving the maxsim aggregation
    unchanged).
    """
    d = len(query_vec)
    if m <= 0 or d % m != 0:
        raise ValueError(f"m={m} must divide dim {d}")
    sub = d // m
    q_slots = [
        [float(x) for x in query_vec[i * sub : (i + 1) * sub]]
        for i in range(m)
    ]
    vd = F.col(vec_col).cast("array<double>")
    token_rows = corpus.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.array(*[F.slice(vd, i * sub + 1, sub) for i in range(m)])
        ).alias("dslot", "sub_vec"),
    )
    dots = token_rows.select(
        "id",
        *[
            F.aggregate(
                F.zip_with(
                    F.col("sub_vec"),
                    F.array(*[F.lit(x) for x in q]),
                    lambda x, y: x * y,
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias(f"dot_{i}")
            for i, q in enumerate(q_slots)
        ],
    )
    best = dots.groupBy("id").agg(
        *[F.max(f"dot_{i}").alias(f"best_{i}") for i in range(m)]
    )
    score = F.col("best_0")
    for i in range(1, m):
        score = score + F.col(f"best_{i}")
    scored = best.select("id", F.round(score, 6).alias("score"))
    topk = scored.orderBy(F.col("score").desc(), F.col("id")).limit(k)
    w = Window.orderBy(F.col("score").desc(), F.col("id"))
    return topk.select(
        "id", "score", F.row_number().over(w).cast("long").alias("rank")
    )
