"""Vocabulary-statistics entries: the corpus-level distributional
measurements a tokenizer-training / data-mixing pipeline runs before
(and between) training jobs.

- ``bpe_merge_pairs_top`` — one iteration of byte-pair-encoding
  training: the adjacent-symbol-pair frequencies over the word-
  frequency table, i.e. exactly the statistic BPE greedily merges on.
  Integer-exact end to end, so the oracle is a straight hash match.
- ``text_unigram_entropy`` — per-document Shannon entropy of the
  unigram (token) distribution, the classic "is this text natural
  language or a log dump" signal (low entropy = repetitive/boiler-
  plate, high = diverse vocabulary).
- ``mixture_js_divergence`` — Jensen-Shannon divergence between the
  unigram distributions of every pair of corpus sources: the
  quantitative "how different are these mixture components" measure
  a data-mixing run consults when reweighting sources.

Float convention (same as the BM25 entry): per-term float
contributions are computed with an IDENTICAL operation order in both
engines, rounded to 6 dp, summed EXACTLY as DECIMAL (order-free), and
the final scalar assembled with one more identically-ordered float
expression rounded to 6 dp.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text as T
from ..materialize import materialize, materialize_lazy, release
from ..operators.sketches import KMV_SPACE_SQL as _KMV_SPACE_SQL
from ..operators.sketches import kmv_hash_sql as _kmv_hash_sql
from ..sources.tables import load_table
from .catalog import register

# the oracle-side mirror of functions.text.tokens(); proven
# equivalent by every corpus_ops entry since round 2
_SQL_TOKENS = "unnest(regexp_split_to_array(trim(text), '\\s+'))"


@register(
    "bpe_merge_pairs_top",
    oracle=(
        "WITH w AS (SELECT " + _SQL_TOKENS + " AS word FROM documents), "
        "wf AS (SELECT word, count(*) AS wf FROM w "
        "WHERE len(word) >= 2 GROUP BY 1), "
        "p AS (SELECT substr(word, CAST(i AS INT), 2) AS pair, wf "
        "FROM wf, unnest(range(1, len(word))) AS t(i)), "
        "c AS (SELECT pair, CAST(SUM(wf) AS BIGINT) AS pair_count "
        "FROM p GROUP BY 1) "
        "SELECT pair, pair_count, "
        "CAST(row_number() OVER (ORDER BY pair_count DESC, pair) AS INT) AS rank "
        "FROM c ORDER BY pair_count DESC, pair LIMIT 20"
    ),
    tags=("llm", "vocab", "tokenizer"),
)
def bpe_merge_pairs_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE-training iteration: count adjacent character pairs over
    the corpus word-frequency table and surface the top-20 merge
    candidates.  This is the inner statistic of Sennrich-style BPE —
    the pair with rank 1 is the merge the trainer would apply next.

    Scale shape: the corpus collapses to the word-frequency table
    first (one shuffle with map-side partial agg — the corpus-size
    term drops out before any per-character work), pairs explode off
    the |vocab|-sized table only, and the pair aggregate is another
    map-side-combined shuffle over ≤ |alphabet|² keys.  The top-20 is
    TakeOrdered (no global sort), and the final rank is a window over
    20 driver-bound rows.  Integer arithmetic throughout — the oracle
    match is exact, no float convention needed."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(F.explode(T.tokens("text")).alias("word")).filter(
        F.length("word") >= 2
    )
    wf = words.groupBy("word").agg(F.count("*").alias("wf"))
    pairs = wf.select(
        F.explode(
            F.expr("transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))")
        ).alias("pair"),
        "wf",
    )
    counts = pairs.groupBy("pair").agg(F.sum("wf").alias("pair_count"))
    top = counts.orderBy(F.desc("pair_count"), F.asc("pair")).limit(20)
    w = Window.orderBy(F.desc("pair_count"), F.asc("pair"))
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


@register(
    "text_unigram_entropy",
    oracle=(
        "WITH tok AS (SELECT doc_id, " + _SQL_TOKENS + " AS term "
        "FROM documents), "
        "tf AS (SELECT doc_id, term, count(*) AS tf FROM tok "
        "WHERE term <> '' GROUP BY 1, 2), "
        "d AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens, "
        "CAST(SUM(CAST(round(CAST(tf AS DOUBLE) * log2(CAST(tf AS DOUBLE)), 6) "
        "AS DECIMAL(28,6))) AS DOUBLE) AS s FROM tf GROUP BY 1) "
        "SELECT doc_id, n_tokens, "
        "round(log2(CAST(n_tokens AS DOUBLE)) - s / CAST(n_tokens AS DOUBLE), 6) "
        "AS entropy FROM d ORDER BY doc_id"
    ),
    tags=("llm", "quality", "vocab"),
)
def text_unigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy of the token distribution, via the
    factored form  H = log2(n) − (Σ tf·log2 tf)/n  — so the only
    per-term float work is tf·log2(tf) on small integers (rounded to
    6 dp, then summed exactly as DECIMAL, order-free on both
    engines).  Low-entropy documents are repetitive boilerplate; the
    curation pipeline gates on this next to the Gopher repetition
    rules.

    Scale shape: one (doc, term) aggregate with map-side combine,
    then a per-doc reduce — the same two-shuffle profile as TF-IDF;
    no window, no driver state.  Documents that tokenize to nothing
    (all-whitespace text) are absent on both sides by construction."""
    docs = load_table(spark, sf_dir, "documents")
    # drop empty tokens (a leading tab yields one on both engines —
    # see tests/test_text_properties._py_tokens) to match the
    # oracle's term <> '' guard
    toks = docs.select(
        "doc_id", F.explode(T.tokens("text")).alias("term")
    ).filter(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    per_doc = tf.groupBy("doc_id").agg(
        F.sum("tf").alias("n_tokens"),
        F.sum(
            F.round(
                F.col("tf").cast("double") * F.log2(F.col("tf").cast("double")), 6
            ).cast("decimal(28,6)")
        )
        .cast("double")
        .alias("s"),
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        F.round(
            F.log2(F.col("n_tokens").cast("double"))
            - F.col("s") / F.col("n_tokens").cast("double"),
            6,
        ).alias("entropy"),
    ).orderBy("doc_id")


@register(
    "mixture_js_divergence",
    oracle=(
        "WITH tok AS (SELECT source, " + _SQL_TOKENS + " AS term "
        "FROM documents), "
        "tf AS (SELECT source, term, count(*) AS tf FROM tok "
        "WHERE term <> '' GROUP BY 1, 2), "
        "st AS (SELECT source, CAST(SUM(tf) AS BIGINT) AS n, "
        "CAST(COUNT(*) AS BIGINT) AS tc FROM tf GROUP BY 1), "
        "pairs AS (SELECT a.source AS source_a, b.source AS source_b, "
        "a.n AS na, b.n AS nb, a.tc AS tca, b.tc AS tcb "
        "FROM st a JOIN st b ON a.source < b.source), "
        "shared AS (SELECT a.source AS source_a, b.source AS source_b, "
        "a.tf AS tfa, b.tf AS tfb FROM tf a "
        "JOIN tf b ON a.term = b.term AND a.source < b.source), "
        "core AS (SELECT sh.source_a, sh.source_b, "
        "CAST(COUNT(*) AS BIGINT) AS n_shared, "
        "CAST(SUM(CAST(round(CAST(sh.tfa AS DOUBLE) / CAST(pr.na AS DOUBLE), 9) "
        "AS DECIMAL(28,9))) AS DOUBLE) AS s_a, "
        "CAST(SUM(CAST(round(CAST(sh.tfb AS DOUBLE) / CAST(pr.nb AS DOUBLE), 9) "
        "AS DECIMAL(28,9))) AS DOUBLE) AS s_b, "
        "CAST(SUM(CAST(round("
        "0.5 * (CAST(sh.tfa AS DOUBLE) / CAST(pr.na AS DOUBLE)) * "
        "log2(2.0 * (CAST(sh.tfa AS DOUBLE) / CAST(pr.na AS DOUBLE)) / "
        "((CAST(sh.tfa AS DOUBLE) / CAST(pr.na AS DOUBLE)) + "
        "(CAST(sh.tfb AS DOUBLE) / CAST(pr.nb AS DOUBLE)))) + "
        "0.5 * (CAST(sh.tfb AS DOUBLE) / CAST(pr.nb AS DOUBLE)) * "
        "log2(2.0 * (CAST(sh.tfb AS DOUBLE) / CAST(pr.nb AS DOUBLE)) / "
        "((CAST(sh.tfa AS DOUBLE) / CAST(pr.na AS DOUBLE)) + "
        "(CAST(sh.tfb AS DOUBLE) / CAST(pr.nb AS DOUBLE)))), 9) "
        "AS DECIMAL(28,9))) AS DOUBLE) AS core "
        "FROM shared sh JOIN pairs pr "
        "ON sh.source_a = pr.source_a AND sh.source_b = pr.source_b "
        "GROUP BY 1, 2) "
        "SELECT pr.source_a, pr.source_b, "
        "round(0.5 * (1.0 - COALESCE(c.s_a, 0.0)) + "
        "0.5 * (1.0 - COALESCE(c.s_b, 0.0)) + COALESCE(c.core, 0.0), 6) AS jsd, "
        "pr.tca + pr.tcb - COALESCE(c.n_shared, 0) AS n_terms "
        "FROM pairs pr LEFT JOIN core c "
        "ON pr.source_a = c.source_a AND pr.source_b = c.source_b "
        "ORDER BY 1, 2"
    ),
    tags=("llm", "mixture", "vocab"),
)
def mixture_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between the unigram distributions of
    every source pair — bounded in [0, 1] under log2, symmetric, the
    standard "how far apart are these mixture components" measure for
    corpus reweighting.

    Plan shape (this is the interesting part): terms present in only
    one of the pair contribute 0.5·p·log2(2) = 0.5·p, so their total
    is available in CLOSED FORM as 0.5·(1 − Σ_shared pa) — no
    full-outer join, no union materializing every (pair, term) twice
    (the first cut did exactly that and recomputed the token
    explosion once per branch — 10 scans).  The shared-term pairs
    come from ONE extra aggregate: collect the per-term (source, tf)
    list — bounded by |mixture components|, not documents — and
    explode its ordered 2-combinations with pure array expressions,
    so the (source, term) aggregate has exactly two consumers (this
    pipeline and the tiny per-source totals, whose shuffles AQE
    plans once and reuses) instead of a self-join's two aliased
    subtrees that defeat exchange reuse.  Per-source totals ride in
    by broadcast.  Disjoint-vocabulary pairs fall out of the LEFT
    join as exactly 1.0.  The DuckDB oracle keeps the equivalent
    self-join formulation — same rows, different plan.  Float
    convention: per-term probabilities and JSD contributions use one
    identically-ordered IEEE expression on both engines, rounded to
    9 dp, summed exactly as DECIMAL; Σ_shared pa itself rides the
    same contract, so the closed-form complement is engine-identical
    too."""
    docs = load_table(spark, sf_dir, "documents")
    # empty-token guard: same contract note as text_unigram_entropy
    toks = docs.select(
        "source", F.explode(T.tokens("text")).alias("term")
    ).filter(F.col("term") != "")
    tf = toks.groupBy("source", "term").agg(F.count("*").alias("tf"))
    # per-source totals are |mixture components| rows — a bounded
    # collect (the codebook/centroid convention), so the pair table
    # is a LOCAL literal: consumed twice below at zero plan cost,
    # leaving the token-explosion subtree exactly one consumer
    st = (
        tf.groupBy("source")
        .agg(F.sum("tf").alias("n"), F.count("*").alias("tc"))
        .collect()
    )
    pairs = F.broadcast(
        tf.sparkSession.createDataFrame(
            [
                (a["source"], b["source"], a["n"], b["n"], a["tc"], b["tc"])
                for a in st
                for b in st
                if a["source"] < b["source"]
            ],
            "source_a string, source_b string, na long, nb long, "
            "tca long, tcb long",
        )
    )
    # ordered 2-combinations of each term's sources, without a
    # self-join: xs is at most |sources| long per term
    shared = (
        tf.groupBy("term")
        .agg(F.collect_list(F.struct("source", "tf")).alias("xs"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(xs, x -> "
                    "filter(transform(xs, y -> IF(x.source < y.source, "
                    "named_struct('source_a', x.source, 'source_b', y.source, "
                    "'tfa', x.tf, 'tfb', y.tf), "
                    "CAST(NULL AS STRUCT<source_a: STRING, source_b: STRING, "
                    "tfa: BIGINT, tfb: BIGINT>))), "
                    "z -> z IS NOT NULL)))"
                )
            ).alias("pr")
        )
        .select("pr.*")
    )
    half, one, two = F.lit(0.5), F.lit(1.0), F.lit(2.0)
    pa = F.col("tfa").cast("double") / F.col("na").cast("double")
    pb = F.col("tfb").cast("double") / F.col("nb").cast("double")
    core = (
        shared.join(
            F.broadcast(pairs), ["source_a", "source_b"]
        )
        .select(
            "source_a",
            "source_b",
            F.round(pa, 9).cast("decimal(28,9)").alias("pa9"),
            F.round(pb, 9).cast("decimal(28,9)").alias("pb9"),
            F.round(
                half * pa * F.log2(two * pa / (pa + pb))
                + half * pb * F.log2(two * pb / (pa + pb)),
                9,
            )
            .cast("decimal(28,9)")
            .alias("c9"),
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count("*").alias("n_shared"),
            F.sum("pa9").cast("double").alias("s_a"),
            F.sum("pb9").cast("double").alias("s_b"),
            F.sum("c9").cast("double").alias("core"),
        )
    )
    return (
        pairs.join(core, ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            F.round(
                half * (one - F.coalesce(F.col("s_a"), F.lit(0.0)))
                + half * (one - F.coalesce(F.col("s_b"), F.lit(0.0)))
                + F.coalesce(F.col("core"), F.lit(0.0)),
                6,
            ).alias("jsd"),
            (
                F.col("tca") + F.col("tcb") - F.coalesce(F.col("n_shared"), F.lit(0))
            ).alias("n_terms"),
        )
        .orderBy("source_a", "source_b")
    )


@register(
    "pearson_quantity_price",
    oracle=(
        "WITH sums AS ("
        "  SELECT l_returnflag AS grp, CAST(COUNT(*) AS DOUBLE) AS n, "
        "         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx, "
        "         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy, "
        "         CAST(SUM(CAST(l_quantity AS DECIMAL(19,2)) * "
        "                  CAST(l_extendedprice AS DECIMAL(19,2))) AS DOUBLE) AS sxy, "
        "         CAST(SUM(CAST(l_quantity AS DECIMAL(19,2)) * "
        "                  CAST(l_quantity AS DECIMAL(19,2))) AS DOUBLE) AS sxx, "
        "         CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,2)) * "
        "                  CAST(l_extendedprice AS DECIMAL(19,2))) AS DOUBLE) AS syy "
        "  FROM lineitem GROUP BY 1"
        ") "
        "SELECT grp, round((n * sxy - sx * sy) / "
        "       (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6) AS pearson_r "
        "FROM sums ORDER BY grp"
    ),
    tags=("stats", "agg"),
)
def pearson_quantity_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation per group via the five-sums identity —
    the parametric sibling of spearman_quantity_price. Every sum
    accumulates in DECIMAL (the stored doubles are exact hundredths,
    so the sums are exact and order-independent; operands are cast to
    DECIMAL(19,2) before multiplying — DuckDB multiplies (18,2) pairs
    in int64 and overflows, (19,2) forces the hugeint path); the
    final r is one identically-ordered IEEE expression on both sides,
    rounded to 6 dp. One shuffle: a plain grouped aggregate with
    map-side partials — unlike the rank-based twin there is no window
    anywhere, so this is the cheap screening pass a feature-selection
    sweep runs over hundreds of column pairs."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(19,2)")
    y = F.col("l_extendedprice").cast("decimal(19,2)")
    sums = li.groupBy(F.col("l_returnflag").alias("grp")).agg(
        F.count("*").cast("double").alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sx"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("sy"),
        F.sum(x * y).cast("double").alias("sxy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
    )
    return sums.select(
        "grp",
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (
                F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                * F.sqrt(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
            ),
            6,
        ).alias("pearson_r"),
    ).orderBy("grp")


@register(
    "quality_perplexity_bigram",
    oracle=(
        "WITH tk AS (SELECT doc_id, list_filter(regexp_split_to_array("
        "trim(text), '\\s+'), x -> x <> '') AS t FROM documents), "
        "uni AS (SELECT unnest(t) AS w FROM tk), "
        "c1 AS (SELECT w, count(*) AS c1 FROM uni GROUP BY 1), "
        "v AS (SELECT count(*) AS v FROM c1), "
        "bg AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2 "
        "FROM tk, unnest(range(1, len(t))) AS r(i)), "
        "c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2), "
        "x AS (SELECT doc_id, CAST(round(-ln((CAST(c2 AS DOUBLE) + 0.5) / "
        "(CAST(c1 AS DOUBLE) + 0.5 * CAST(v AS DOUBLE))) * 1000000.0) "
        "AS BIGINT) AS m "
        "FROM bg JOIN c2 USING (w1, w2) JOIN c1 ON c1.w = bg.w1 "
        "CROSS JOIN v) "
        "SELECT doc_id, count(*) AS n_bigrams, "
        "CAST(CAST(SUM(m) AS BIGINT) AS DOUBLE) / count(*) / 1000000.0 "
        "AS avg_neg_logprob FROM x GROUP BY 1 ORDER BY 1"
    ),
    headline=True,
    tags=("llm", "quality", "vocab"),
)
def quality_perplexity_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity filtering with a corpus-trained bigram
    LM: every document is scored by the mean negative log probability
    of its token bigrams under an add-1/2-smoothed bigram model
    estimated from the corpus itself — i.e. ln(perplexity).  High
    scores mark rare-transition soup (OCR noise, shuffled text), low
    scores boilerplate; the curation pipeline thresholds both tails.
    Steps up from ``unigram_logprob_quality``: the bigram conditional
    P(w2|w1) = (c(w1 w2) + 0.5) / (c(w1) + 0.5·|V|) sees word ORDER,
    which the unigram model is blind to.

    Scale shape: bigrams are built INSIDE the token array (a codegen
    ``transform`` over the already-split tokens — no self-join, no
    per-token shuffle to pair adjacent rows); the bigram conditional
    count is ONE count window over the hashed bigram key (the bigram
    stream shuffles exactly once, 24-byte rows); the unigram model is
    a vocabulary-sized aggregate met by one equi-join on the hashed
    unigram, with |V| attached by a single-partition count window
    over that vocab-bounded table (never a recompute).  Per-bigram
    floats follow the module's convention: identical operation order
    both engines, round 6 dp, DECIMAL-exact summation, one final
    rounded division."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.filter(T.tokens("text"), lambda t: t != "").alias("t")
    )
    # r13 optimization round (guide §2.3/§2.4): the former
    # aggregate-then-join-back shape referenced the tokenize+explode
    # subtree FOUR times (uni twice via c1's two consumers, bg twice
    # via c2 + the scored join) — 8 parquet scans in the physical
    # plan. Now (a) the bigram count is ONE count window over the
    # bigram key (bg shuffles once, no separate c2 aggregate, no
    # join-back), (b) |V| rides a single-partition count window over
    # the vocab-bounded c1 table instead of a recomputing agg+cross
    # join, and (c) unigram/bigram keys travel as xxhash64 longs, not
    # strings — counts over hashed words equal counts over words up
    # to xxhash64 collisions, the same convention as
    # `hashed_shingle_sets` (a collision would surface as an oracle
    # hash mismatch). 8 scans -> 2, 6 exchanges -> 4, ~1.0 s ->
    # ~0.6 s median at sf0.1 (plans/r13/quality_perplexity_bigram_*).
    uni = toks.select(F.explode("t").alias("w")).select(
        F.xxhash64("w").alias("h1")
    )
    c1 = uni.groupBy("h1").agg(F.count("*").alias("c1"))
    c1v = c1.withColumn("v", F.count("*").over(Window.partitionBy()))
    bg = (
        toks.filter(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1), i -> "
                    "struct(xxhash64(element_at(t, i)) AS h1, "
                    "xxhash64(element_at(t, i + 1)) AS h2))"
                )
            ).alias("b"),
        )
        .select("doc_id", "b.h1", "b.h2")
    )
    # per-term score in exact integer MICRO-units (−ln p rounded to the
    # nearest 1e-6, stored as BIGINT): summation is integer-exact and
    # the final average is pure IEEE division — no decimal round after
    # a division, so there is no rounding TIE for the engines to
    # disagree on (the r7 sf0.1 sweep caught exactly one doc whose
    # 6 dp average landed on a half: 3.4144135).
    m = F.round(
        -F.log(
            (F.col("c2").cast("double") + 0.5)
            / (F.col("c1").cast("double") + 0.5 * F.col("v").cast("double"))
        )
        * 1000000.0,
        0,
    ).cast("bigint")
    bgc = bg.withColumn(
        "c2", F.count("*").over(Window.partitionBy("h1", "h2"))
    )
    scored = bgc.join(c1v, "h1").select("doc_id", m.alias("m"))
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            (
                F.sum("m").cast("double") / F.count("*") / 1000000.0
            ).alias("avg_neg_logprob"),
        )
        .orderBy("doc_id")
    )


def _bpe_ctes_sql(k: int) -> str:
    """DuckDB CTE chain shared by the BPE trainer/encoder oracles: k
    stages, each = (pair counts over current symbolization, argmax
    pair, re-symbolize via a left-to-right list_reduce fold) — the
    exact single-node spec of the distributed loop."""
    parts = [
        "WITH w AS (SELECT unnest(list_filter(regexp_split_to_array("
        "trim(text), '\\s+'), x -> x <> '')) AS word FROM documents), "
        "wf0 AS (SELECT array_to_string(string_split(word, ''), ' ') AS s, "
        "count(*) AS wf FROM w GROUP BY 1)"
    ]
    for i in range(1, k + 1):
        prev = f"wf{i-1}"
        parts.append(
            f"p{i} AS (SELECT pr AS pair, CAST(SUM(wf) AS BIGINT) AS cnt "
            f"FROM (SELECT unnest(list_transform(range(1, len(l)), "
            f"j -> l[j] || ' ' || l[j+1])) AS pr, wf "
            f"FROM (SELECT string_split(s, ' ') AS l, wf FROM {prev})) "
            f"GROUP BY 1)"
        )
        parts.append(
            f"b{i} AS (SELECT pair, cnt FROM p{i} "
            f"ORDER BY cnt DESC, pair LIMIT 1)"
        )
        parts.append(
            f"wf{i} AS (SELECT CASE WHEN len(l) = 1 THEN s ELSE "
            f"list_reduce(l, (acc, x) -> CASE WHEN "
            f"regexp_extract(acc, '[^ ]*$') = split_part(pair, ' ', 1) "
            f"AND x = split_part(pair, ' ', 2) THEN acc || x "
            f"ELSE acc || ' ' || x END) END AS s, wf "
            f"FROM (SELECT s, string_split(s, ' ') AS l, wf FROM {prev}) "
            f"CROSS JOIN b{i})"
        )
    return ", ".join(parts)


def _bpe_oracle_sql(k: int) -> str:
    """Trainer oracle: the learned merge table off the chained CTEs."""
    return (
        _bpe_ctes_sql(k)
        + " "
        + " UNION ALL ".join(
            f"SELECT {i} AS iteration, pair, cnt AS pair_count FROM b{i}"
            for i in range(1, k + 1)
        )
        + " ORDER BY iteration"
    )


def _bpe_encode_oracle_sql(k: int) -> str:
    """Encoder oracle: symbol frequencies after applying all k merges."""
    return (
        _bpe_ctes_sql(k)
        + f" SELECT sym, CAST(SUM(wf) AS BIGINT) AS n_occurrences "
        f"FROM (SELECT unnest(string_split(s, ' ')) AS sym, wf FROM wf{k}) "
        f"GROUP BY 1 ORDER BY n_occurrences DESC, sym LIMIT 20"
    )


@register(
    "bpe_train_merges_k4",
    oracle=_bpe_oracle_sql(4),
    headline=True,
    tags=("llm", "vocab", "tokenizer", "iterative"),
)
def bpe_train_merges_k4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative BPE TRAINING (Sennrich et al.), k=4 merges: repeat
    (count adjacent symbol pairs over the word-frequency table →
    take the most frequent pair, ties broken lexicographically →
    merge every left-to-right occurrence of that pair) — the actual
    tokenizer-training loop, of which ``bpe_merge_pairs_top`` is one
    snapshot.  Output: the learned merge table (iteration, pair,
    corpus pair frequency at merge time).

    Scale shape: the corpus collapses ONCE to the word-frequency
    table (the only corpus-sized shuffle — everything after is
    vocabulary-sized, cached).  Each iteration is: pair explode +
    map-side-combined aggregate over ≤|vocab|·avg_len rows, a
    driver-bounded argmax (LIMIT 1 collect — one row), and the merge
    applied as a pure ``aggregate`` fold over each symbol sequence
    (greedy left-to-right, no Python row work, no re-shuffle: the
    fold is a narrow map over the cached table).  k is a constant,
    so plan depth is bounded; a production trainer (k≈30k) would
    localCheckpoint every ~50 merges — same loop, same operators."""
    merges, _ = _bpe_train(spark, sf_dir, 4)
    return spark.createDataFrame(
        merges, "iteration int, pair string, pair_count long"
    ).orderBy("iteration")


def _bpe_train(
    spark: SparkSession,
    sf_dir: str,
    k: int,
    *,
    checkpoint_every: int | None = 4,
    round_times: list[float] | None = None,
) -> tuple[list[tuple[int, str, int]], DataFrame]:
    """Run k BPE merge iterations; returns (merge table, final
    word-frequency DataFrame whose ``s`` column is the space-joined
    symbolization after all k merges).  The returned DataFrame is NOT
    cached (the loop's cache is released before returning — a plan
    builder must not leak cache entries); its lineage recomputes the
    one corpus-sized aggregate when next acted on.

    Lineage growth bound: each merge wraps the symbolization in
    another aggregate-fold projection, so the unchecked plan depth is
    O(k) — irrelevant at the gated k=4, but a real tokenizer run is
    k≈30k merges and Catalyst re-analysis goes quadratic long before
    that. ``checkpoint_every`` truncates lineage with an eager
    ``localCheckpoint`` every N merges (results identical — pinned at
    k=12 in tests/test_vocab_ops.py); ``None`` disables.  Each merge
    layer re-references the split column ~5x and Catalyst's
    projection collapse inlines multiplicatively, so window depth w
    costs ~5^w expression nodes PER WINDOW: the r9 k=64 depth stress
    OOM'd the JVM at w=8 (6 MiB task binaries, heap death in
    expression canonicalization) while w=4 stays ~250 KiB and flat —
    hence the default of 4."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.filter(T.tokens("text"), lambda t: t != "")).alias("word")
    )
    wf = (
        words.groupBy(
            F.array_join(
                F.filter(F.split("word", ""), lambda x: x != ""), " "
            ).alias("s")
        )
        .agg(F.count("*").alias("wf"))
        .cache()
    )
    out: list[tuple[int, str, int]] = []
    pinned = None
    try:
        cur = wf
        for it in range(1, k + 1):
            t0 = time.perf_counter() if round_times is not None else 0.0
            l = F.split("s", " ", -1)
            pairs = (
                cur.withColumn("l", l)
                .filter(F.size("l") >= 2)
                .select(
                    F.explode(
                        F.expr(
                            "transform(sequence(1, size(l) - 1), j -> "
                            "concat(element_at(l, j), ' ', element_at(l, j + 1)))"
                        )
                    ).alias("pair"),
                    "wf",
                )
                .groupBy("pair")
                .agg(F.sum("wf").alias("cnt"))
            )
            best = pairs.orderBy(F.desc("cnt"), F.asc("pair")).limit(1).collect()
            if not best:  # degenerate corpus: nothing left to merge
                break
            pair, cnt = best[0].pair, int(best[0].cnt)
            out.append((it, pair, cnt))
            a, b = pair.split(" ", 1)
            ll = F.split("s", " ", -1)
            merged = F.when(F.size(ll) == 1, F.col("s")).otherwise(
                F.aggregate(
                    F.slice(ll, F.lit(2), F.size(ll) - 1),
                    F.element_at(ll, 1),
                    lambda acc, x: F.when(
                        (F.regexp_extract(acc, "[^ ]*$", 0) == F.lit(a))
                        & (x == F.lit(b)),
                        F.concat(acc, x),
                    ).otherwise(F.concat(acc, F.lit(" "), x)),
                )
            )
            cur = cur.select(merged.alias("s"), "wf")
            if checkpoint_every and it % checkpoint_every == 0:
                cur = cur.transform(materialize)
                if pinned is not None:
                    release(pinned)
                pinned = cur
            if round_times is not None:
                # per-merge wall time for the depth-stress flatness
                # assertion (each round's one action is the best-pair
                # collect above; un-truncated lineage shows up here)
                round_times.append(time.perf_counter() - t0)
    finally:
        wf.unpersist()
    return out, cur


@register(
    "bpe_encode_vocab_top",
    oracle=_bpe_encode_oracle_sql(4),
    tags=("llm", "vocab", "tokenizer", "iterative"),
)
def bpe_encode_vocab_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODING — the apply side of ``bpe_train_merges_k4``: run
    the k=4 training loop, then re-segment the whole corpus with the
    learned merges and emit the top-20 symbols of the resulting
    vocabulary by corpus frequency.  After training, learned merges
    ('er', 'in', ...) surface as single multi-char symbols — the
    statistic a tokenizer-build pipeline checks before shipping a
    vocab (are the learned units sane, what coverage do they have).

    Scale shape: identical to the trainer (the encode is the
    trainer's final fold — zero extra shuffles over the symbolized
    word-frequency table) plus one vocabulary-sized symbol-count
    aggregate and a TakeOrdered top-20.  Encoding UNSEEN text with a
    FROZEN merge table is the same fold applied per merge in rank
    order — the loop here just happens to interleave it with
    training."""
    _, wf_final = _bpe_train(spark, sf_dir, 4)
    sym = wf_final.select(
        F.explode(F.split("s", " ", -1)).alias("sym"), "wf"
    )
    return (
        sym.groupBy("sym")
        .agg(F.sum("wf").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("sym"))
        .limit(20)
    )


@register(
    "vocab_zipf_alpha",
    oracle=(
        "WITH tok AS (SELECT unnest(list_filter(regexp_split_to_array("
        "trim(text), '\\s+'), x -> x <> '')) AS w FROM documents), "
        "f AS (SELECT w, count(*) AS f FROM tok GROUP BY 1), "
        "top AS (SELECT w, f FROM f ORDER BY f DESC, w LIMIT 100), "
        "r AS (SELECT f, row_number() OVER (ORDER BY f DESC, w) AS rk "
        "FROM top), "
        "xy AS (SELECT round(ln(CAST(rk AS DOUBLE)), 9) AS x, "
        "round(ln(CAST(f AS DOUBLE)), 9) AS y FROM r), "
        "s AS (SELECT count(*) AS n, "
        "CAST(SUM(CAST(x AS DECIMAL(38,9))) AS DOUBLE) AS sx, "
        "CAST(SUM(CAST(y AS DECIMAL(38,9))) AS DOUBLE) AS sy, "
        "CAST(SUM(CAST(round(x * y, 9) AS DECIMAL(38,9))) AS DOUBLE) AS sxy, "
        "CAST(SUM(CAST(round(x * x, 9) AS DECIMAL(38,9))) AS DOUBLE) AS sxx "
        "FROM xy) "
        "SELECT CAST(n AS BIGINT) AS n_terms, "
        "round(-((CAST(n AS DOUBLE) * sxy - sx * sy) / "
        "(CAST(n AS DOUBLE) * sxx - sx * sx)), 6) AS zipf_alpha FROM s"
    ),
    tags=("llm", "vocab", "profiling"),
)
def vocab_zipf_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf exponent of the corpus: OLS slope of log-frequency against
    log-rank over the top-100 terms — natural language sits near
    α≈1; α far below says the vocabulary is too flat (shuffled/
    synthetic soup), far above says a few tokens dominate (template
    spam).  The corpus-health number a data-mixing run tracks per
    source snapshot.

    Scale shape: one token-count aggregate (vocabulary-sized), then
    the top-100 via TakeOrdered (orderBy+limit — no global sort
    materialization), and ONLY those 100 driver-bounded rows enter
    the rank window (the classic trap — ranking the full vocabulary —
    would be a single-task global window).  Regression sums follow
    the decimal convention; the final slope is one identically-
    ordered expression."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(F.filter(T.tokens("text"), lambda t: t != "")).alias("w")
    )
    f = tok.groupBy("w").agg(F.count("*").alias("f"))
    top = f.orderBy(F.desc("f"), F.asc("w")).limit(100)
    rk = top.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.desc("f"), F.asc("w")))
    )
    xy = rk.select(
        F.round(F.log(F.col("rk").cast("double")), 9).alias("x"),
        F.round(F.log(F.col("f").cast("double")), 9).alias("y"),
    )
    s = xy.agg(
        F.count("*").alias("n"),
        F.sum(F.col("x").cast("decimal(38,9)")).cast("double").alias("sx"),
        F.sum(F.col("y").cast("decimal(38,9)")).cast("double").alias("sy"),
        F.sum(F.round(F.col("x") * F.col("y"), 9).cast("decimal(38,9)"))
        .cast("double")
        .alias("sxy"),
        F.sum(F.round(F.col("x") * F.col("x"), 9).cast("decimal(38,9)"))
        .cast("double")
        .alias("sxx"),
    )
    nd = F.col("n").cast("double")
    return s.select(
        F.col("n").alias("n_terms"),
        F.round(
            -(
                (nd * F.col("sxy") - F.col("sx") * F.col("sy"))
                / (nd * F.col("sxx") - F.col("sx") * F.col("sx"))
            ),
            6,
        ).alias("zipf_alpha"),
    )


# ---------------------------------------------------------------------------
# Corpus-growth curves over ingestion order. Documents carry no
# timestamp, so ingestion deciles come from the stable doc_id range:
# bucket = (doc_id * 10) div (max_id + 1) — integer arithmetic (no
# float rounding at bucket edges), one 1-row broadcast for the max,
# and — unlike ntile() — no global single-task window over the corpus.
# ---------------------------------------------------------------------------

_DECILE_SQL = "(doc_id * 10) // (SELECT max(doc_id) + 1 FROM documents)"


def _with_decile(docs: DataFrame) -> DataFrame:
    """Attach the ingestion-order decile: integer bucket from the
    doc_id range via a broadcast 1-row max — a pure codegen expression
    on the scan, deterministic at any scale and partitioning."""
    mx = docs.agg(F.max("doc_id").alias("_mx"))
    return docs.crossJoin(F.broadcast(mx)).withColumn(
        "bucket", F.expr("(doc_id * 10) div (_mx + 1)")
    )


@register(
    "vocab_heaps_beta",
    oracle=(
        "WITH b AS (SELECT doc_id, text, "
        f"{_DECILE_SQL} AS bucket FROM documents), "
        "tok AS (SELECT bucket, unnest(list_filter(regexp_split_to_array("
        "trim(text), '\\s+'), x -> x <> '')) AS w FROM b), "
        "tpb AS (SELECT bucket, count(*) AS n_tok FROM tok GROUP BY 1), "
        "fst AS (SELECT w, min(bucket) AS fb FROM tok GROUP BY 1), "
        "npb AS (SELECT fb AS bucket, count(*) AS n_new FROM fst GROUP BY 1), "
        "curve AS (SELECT t.bucket, "
        "CAST(SUM(t.n_tok) OVER (ORDER BY t.bucket) AS BIGINT) AS cum_tokens, "
        "CAST(SUM(coalesce(n.n_new, 0)) OVER (ORDER BY t.bucket) AS BIGINT) "
        "AS cum_vocab FROM tpb t LEFT JOIN npb n USING (bucket)), "
        "xy AS (SELECT round(ln(CAST(cum_tokens AS DOUBLE)), 9) AS x, "
        "round(ln(CAST(cum_vocab AS DOUBLE)), 9) AS y FROM curve), "
        "s AS (SELECT count(*) AS n, "
        "CAST(SUM(CAST(x AS DECIMAL(38,9))) AS DOUBLE) AS sx, "
        "CAST(SUM(CAST(y AS DECIMAL(38,9))) AS DOUBLE) AS sy, "
        "CAST(SUM(CAST(round(x * y, 9) AS DECIMAL(38,9))) AS DOUBLE) AS sxy, "
        "CAST(SUM(CAST(round(x * x, 9) AS DECIMAL(38,9))) AS DOUBLE) AS sxx "
        "FROM xy), "
        "beta AS (SELECT round((CAST(n AS DOUBLE) * sxy - sx * sy) / "
        "(CAST(n AS DOUBLE) * sxx - sx * sx), 6) AS heaps_beta FROM s) "
        "SELECT bucket, cum_tokens, cum_vocab, heaps_beta "
        "FROM curve, beta ORDER BY bucket"
    ),
    tags=("llm", "vocab", "profiling"),
)
def vocab_heaps_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth: cumulative distinct-term count
    against cumulative token count across ingestion-order deciles,
    plus the fitted exponent β (OLS on the log-log curve — natural
    corpora sit near β≈0.5; β→1 means near-zero vocabulary reuse,
    i.e. id-soup or mixed junk; β→0 means the corpus stopped bringing
    new words). The companion to `vocab_zipf_alpha` a mixing run
    tracks per snapshot: Zipf says how mass concentrates, Heaps says
    whether new data still adds vocabulary.

    Scale shape: the decile is a pure expression (broadcast 1-row
    max); per-term first-bucket and per-bucket token counts are two
    map-side-combined aggregates (vocabulary- and 10-sized exchanges);
    the cumulative window and the OLS run over exactly 10 rows.
    Float convention: per-point ln rounded to 9 dp, sums as DECIMAL
    (order-free), one identically-ordered slope expression at 6 dp."""
    docs = _with_decile(load_table(spark, sf_dir, "documents"))
    tok = docs.select(
        "bucket",
        F.explode(F.filter(T.tokens("text"), lambda t: t != "")).alias("w"),
    )
    tpb = tok.groupBy("bucket").agg(F.count("*").alias("n_tok"))
    npb = (
        tok.groupBy("w")
        .agg(F.min("bucket").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_new"))
    )
    w10 = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    curve = (
        tpb.join(npb, "bucket", "left")
        .select(
            "bucket",
            F.sum("n_tok").over(w10).cast("long").alias("cum_tokens"),
            F.sum(F.coalesce(F.col("n_new"), F.lit(0)))
            .over(w10)
            .cast("long")
            .alias("cum_vocab"),
        )
        # the curve is <= 10 rows but feeds TWO consumers (the OLS sums
        # and the output projection); without truncating lineage each
        # consumer replays the full corpus token explode — 4 scans
        # instead of 2 at 100 TB. localCheckpoint materializes the 10
        # rows once.
        .transform(materialize)
    )
    xy = curve.select(
        F.round(F.log(F.col("cum_tokens").cast("double")), 9).alias("x"),
        F.round(F.log(F.col("cum_vocab").cast("double")), 9).alias("y"),
    )
    s = xy.agg(
        F.count("*").alias("n"),
        F.sum(F.col("x").cast("decimal(38,9)")).cast("double").alias("sx"),
        F.sum(F.col("y").cast("decimal(38,9)")).cast("double").alias("sy"),
        F.sum(F.round(F.col("x") * F.col("y"), 9).cast("decimal(38,9)"))
        .cast("double")
        .alias("sxy"),
        F.sum(F.round(F.col("x") * F.col("x"), 9).cast("decimal(38,9)"))
        .cast("double")
        .alias("sxx"),
    )
    nd = F.col("n").cast("double")
    beta = s.select(
        F.round(
            (nd * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (nd * F.col("sxx") - F.col("sx") * F.col("sx")),
            6,
        ).alias("heaps_beta")
    )
    return curve.crossJoin(F.broadcast(beta)).orderBy("bucket")


def _trigram_rows(docs: DataFrame, key: str) -> DataFrame:
    """DISTINCT (key, 3-gram) pairs — the shared front-end of the
    novelty curve and the source-overlap matrix. Mirrors the
    generate_series(1, greatest(len-2, 0)) oracle expression.

    Tokens are PROJECTED to a column before the window lambda and the
    gram is one slice+concat: a captured inline tokens() inside an
    interpreted higher-order lambda re-runs the regex split per window
    position (measured 9 s → 0.6 s at sf0.1 on the consumers — the
    same fix as `_dup_span_frame`)."""
    base = docs.filter(F.trim(F.col("text")) != "").select(
        key, T.tokens("text").alias("tk")
    )
    tk = F.col("tk")
    grams = F.when(
        F.size(tk) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size(tk) - 2),
            lambda i: F.concat_ws(" ", F.slice(tk, i, 3)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return base.select(key, F.explode(grams).alias("gram")).distinct()


_TRIGRAM_SQL = (
    "SELECT DISTINCT {key}, concat_ws(' ', tk[i], tk[i+1], tk[i+2]) AS gram "
    "FROM (SELECT {key}, regexp_split_to_array(trim(text), '\\s+') AS tk "
    "FROM {src} WHERE trim(text) <> '') t, "
    "unnest(generate_series(1, greatest(len(tk) - 2, 0))) AS u(i)"
)


@register(
    "ngram_novelty_decile",
    oracle=(
        "WITH b AS (SELECT doc_id, text, "
        f"{_DECILE_SQL} AS bucket FROM documents), "
        "g AS (" + _TRIGRAM_SQL.format(key="bucket", src="b") + "), "
        "fst AS (SELECT gram, min(bucket) AS fb FROM g GROUP BY 1), "
        "tot AS (SELECT bucket, count(*) AS n_grams FROM g GROUP BY 1), "
        "new AS (SELECT fb AS bucket, count(*) AS n_new FROM fst GROUP BY 1) "
        "SELECT bucket, n_grams, "
        "CAST(coalesce(n_new, 0) AS BIGINT) AS n_new, "
        "round(CAST(coalesce(n_new, 0) AS DOUBLE) / CAST(n_grams AS DOUBLE), 6) "
        "AS novelty FROM tot LEFT JOIN new USING (bucket) ORDER BY bucket"
    ),
    tags=("llm", "vocab", "profiling"),
)
def ngram_novelty_decile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content freshness over ingestion order: per decile, the
    fraction of its distinct 3-grams never seen in an earlier decile.
    A crawl whose novelty decays to ~0 has stopped adding content
    (keep-crawling-or-stop input); a dedup regression shows up as a
    novelty CLIFF. Term-level Heaps (`vocab_heaps_beta`) can stay
    healthy while phrase-level novelty collapses — boilerplate reuses
    old words in old orders — which is why both curves exist.

    Scale shape: DISTINCT (bucket, gram) is one map-side-combined
    exchange bounded by distinct-gram cardinality × 10; the first-seen
    and per-bucket totals are two more key-bounded aggregates; the
    final join is 10 rows a side. Same decimal/rounding convention as
    the other vocab entries."""
    docs = _with_decile(load_table(spark, sf_dir, "documents"))
    g = _trigram_rows(docs, "bucket")
    # r13 optimization round (guide §2.4): the first-seen table used
    # to be a separate gram-keyed aggregate left-joined back onto the
    # per-bucket totals, evaluating the tokenize+explode+distinct
    # subtree TWICE (8 parquet scans in the before-plan). A gram is
    # "new" in its min bucket, and the distinct (bucket, gram) rows
    # contain that row exactly once — so one min-window over gram
    # marks it, and a single per-bucket aggregate emits both counts:
    # 1 subtree evaluation, no join, identical rows (a bucket with no
    # new grams yields count 0, matching the old coalesce).
    fb = F.min("bucket").over(Window.partitionBy("gram"))
    n_new = F.count(F.when(F.col("fb") == F.col("bucket"), 1)).cast("long")
    return (
        g.withColumn("fb", fb)
        .groupBy("bucket")
        .agg(F.count("*").alias("n_grams"), n_new.alias("n_new"))
        .select(
            "bucket",
            "n_grams",
            "n_new",
            F.round(
                F.col("n_new").cast("double") / F.col("n_grams").cast("double"),
                6,
            ).alias("novelty"),
        )
        .orderBy("bucket")
    )


@register(
    "source_overlap_jaccard",
    oracle=(
        "WITH g AS ("
        + _TRIGRAM_SQL.format(key="source", src="documents")
        + "), "
        "sz AS (SELECT source, count(*) AS n FROM g GROUP BY 1), "
        "inter AS (SELECT a.source AS src_a, b.source AS src_b, "
        "count(*) AS n_inter FROM g a JOIN g b USING (gram) "
        "WHERE a.source < b.source GROUP BY 1, 2) "
        "SELECT src_a, src_b, n_inter, "
        "round(CAST(n_inter AS DOUBLE) / "
        "CAST(sa.n + sb.n - n_inter AS DOUBLE), 6) AS jaccard "
        "FROM inter JOIN sz sa ON sa.source = src_a "
        "JOIN sz sb ON sb.source = src_b ORDER BY src_a, src_b"
    ),
    tags=("llm", "vocab", "dedup"),
)
def source_overlap_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cross-source content overlap: Jaccard similarity of
    each source pair's distinct 3-gram SETS. The set-overlap
    complement of `mixture_js_divergence` (distribution shape): JSD
    can be near zero while two sources literally mirror each other's
    documents — this matrix is how a mixing run finds mirror/scraped
    source pairs before weighting them as independent.

    Scale shape: the posting self-join is keyed on the gram, and each
    gram contributes at most (#sources carrying it)² pair rows —
    bounded by the SOURCE cardinality (dozens), never the corpus; the
    heavy lifting is the same DISTINCT (source, gram) exchange the
    novelty curve uses. Output is |sources|²/2 rows."""
    docs = load_table(spark, sf_dir, "documents")
    # three consumers (set sizes + both posting sides) re-ran the
    # tokenize+explode+distinct subtree — 8 parquet scans in the
    # before-plan; materialize the distinct (source, gram) rows once
    # (r13 optimization round, guide §2.4)
    g = _trigram_rows(docs, "source").transform(materialize_lazy)
    sz = g.groupBy("source").agg(F.count("*").alias("n"))
    a = g.select(F.col("source").alias("src_a"), "gram")
    b = g.select(F.col("source").alias("src_b"), "gram")
    inter = (
        a.join(b, "gram")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sz.select(F.col("source").alias("src_a"), F.col("n").alias("na"))
    sb = sz.select(F.col("source").alias("src_b"), F.col("n").alias("nb"))
    return (
        inter.join(sa, "src_a")
        .join(sb, "src_b")
        .select(
            "src_a",
            "src_b",
            "n_inter",
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_inter")).cast("double"),
                6,
            ).alias("jaccard"),
        )
        .orderBy("src_a", "src_b")
    )


@register(
    "vocab_good_turing_unseen",
    oracle=(
        "WITH toks AS (SELECT list_filter(regexp_split_to_array("
        "trim(text), '\\s+'), x -> x <> '') AS l FROM documents), "
        "grams AS (SELECT unnest(list_transform(range(1, len(l)), "
        "j -> l[j] || ' ' || l[j+1])) AS gram FROM toks WHERE len(l) >= 2), "
        "tf AS (SELECT gram, count(*) AS c FROM grams GROUP BY 1), "
        "s AS (SELECT CAST(count(*) AS BIGINT) AS n_types, "
        "CAST(SUM(c) AS BIGINT) AS n_tokens, "
        "CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_hapax, "
        "CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_dis FROM tf) "
        "SELECT n_types, n_tokens, n_hapax, n_dis, "
        "round(n_hapax / CAST(n_tokens AS DOUBLE), 9) AS unseen_mass, "
        "round(n_hapax / CAST(n_types AS DOUBLE), 9) AS hapax_type_share "
        "FROM s"
    ),
    tags=("llm", "text", "vocab"),
)
def vocab_good_turing_unseen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing unseen-mass estimate over corpus word BIGRAMS: the
    singleton fraction n₁/N estimates the probability that the NEXT
    bigram drawn is one never seen — the classic "how much of the
    language is this corpus still missing" number (Good 1953), the
    probabilistic cousin of the Heaps-curve entry.  Bigrams rather
    than unigrams because the generator's closed word vocabulary
    saturates (zero hapax unigrams would make the estimate vacuous);
    the bigram space is where novelty lives, exactly as in real
    corpora whose unigram vocab saturates long before phrase space.

    All counts are exact integers from one (gram) aggregate +
    frequency-of-frequency rollup; the two output ratios are single
    IEEE divisions.  Scale shape: the gram explode is map-side, the
    only shuffles are the gram-keyed count and the tiny
    freq-of-freq aggregate — mergeable partials all the way."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(F.explode(T.word_ngrams("text", 2)).alias("gram"))
        .groupBy("gram")
        .agg(F.count("*").alias("c"))
    )
    s = tf.agg(
        F.count("*").cast("long").alias("n_types"),
        F.sum("c").cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_hapax"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0))
        .cast("long")
        .alias("n_dis"),
    )
    return s.select(
        "n_types",
        "n_tokens",
        "n_hapax",
        "n_dis",
        F.round(
            F.col("n_hapax") / F.col("n_tokens").cast("double"), 9
        ).alias("unseen_mass"),
        F.round(
            F.col("n_hapax") / F.col("n_types").cast("double"), 9
        ).alias("hapax_type_share"),
    )


@register(
    "vocab_pmi_collocations",
    oracle=(
        "WITH toks AS (SELECT list_filter(regexp_split_to_array("
        "trim(text), '\\s+'), x -> x <> '') AS l FROM documents), "
        "uni AS (SELECT unnest(l) AS w FROM toks), "
        "uc AS (SELECT w, count(*) AS c FROM uni GROUP BY 1), "
        "bi AS (SELECT unnest(list_transform(range(1, len(l)), "
        "j -> l[j] || ' ' || l[j+1])) AS gram FROM toks "
        "WHERE len(l) >= 2), "
        "bc AS (SELECT gram, count(*) AS c_ab FROM bi GROUP BY 1), "
        "n AS (SELECT CAST(SUM(c_ab) AS BIGINT) AS n_bi FROM bc), "
        "p AS (SELECT gram, c_ab, "
        "round(ln(CAST(c_ab AS DOUBLE) * n_bi "
        "/ (ca.c * cb.c)), 6) AS pmi "
        "FROM bc CROSS JOIN n "
        "JOIN uc ca ON ca.w = split_part(gram, ' ', 1) "
        "JOIN uc cb ON cb.w = split_part(gram, ' ', 2) "
        "WHERE c_ab >= 5) "
        "SELECT gram, CAST(c_ab AS BIGINT) AS c_ab, pmi "
        "FROM p ORDER BY pmi DESC, gram LIMIT 20"
    ),
    tags=("llm", "text", "vocab", "collocation"),
)
def vocab_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise-mutual-information collocation mining (Church &
    Hanks): the top-20 adjacent word pairs whose co-occurrence beats
    the independence baseline, PMI = ln(c(ab)·N / (c(a)·c(b))), with
    a count-≥5 support floor (raw PMI is notoriously hapax-dominated
    — the floor is the standard fix).  THE classic phrase-detection
    pass before tokenizer training decides which word pairs deserve
    merged tokens — the statistical cousin of the BPE trainer's
    frequency argmax.

    Plan: two map-side-combined counts (unigram, bigram) + two
    broadcast-friendly joins from the bigram table back to unigram
    counts (the unigram side is vocab-domain-sized), one 1-row total
    broadcast, TakeOrdered top-20 on the 6-dp-rounded PMI with the
    gram tiebreak.  Only ln() is transcendental; its argument is an
    exact-integer ratio evaluated in identical op order on both
    engines."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(T.tokens("text").alias("l"))
    uc = toks.select(F.explode("l").alias("w")).groupBy("w").agg(
        F.count("*").alias("c")
    )
    bc = (
        docs.select(F.explode(T.word_ngrams("text", 2)).alias("gram"))
        .groupBy("gram")
        .agg(F.count("*").alias("c_ab"))
    )
    n = bc.agg(F.sum("c_ab").cast("long").alias("n_bi"))
    left = F.split(F.col("gram"), " ").getItem(0)
    right = F.split(F.col("gram"), " ").getItem(1)
    p = (
        bc.filter(F.col("c_ab") >= 5)
        .crossJoin(F.broadcast(n))
        .join(
            F.broadcast(uc.select(F.col("w").alias("wa"), F.col("c").alias("ca"))),
            left == F.col("wa"),
        )
        .join(
            F.broadcast(uc.select(F.col("w").alias("wb"), F.col("c").alias("cb"))),
            right == F.col("wb"),
        )
        .select(
            "gram",
            F.col("c_ab").cast("long").alias("c_ab"),
            F.round(
                F.log(
                    F.col("c_ab").cast("double")
                    * F.col("n_bi")
                    / (F.col("ca") * F.col("cb"))
                ),
                6,
            ).alias("pmi"),
        )
    )
    return p.orderBy(F.col("pmi").desc(), "gram").limit(20)


@register(
    "quality_kn_bigram_bits",
    oracle=(
        "WITH tk AS (SELECT doc_id, list_filter(regexp_split_to_array("
        "trim(text), '\\s+'), x -> x <> '') AS t FROM documents), "
        "bg AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2 "
        "FROM tk, unnest(range(1, len(t))) r(i)), "
        "c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2), "
        "c1 AS (SELECT w1, SUM(c12) AS c1, count(*) AS n1p "
        "FROM c12 GROUP BY 1), "
        "cw2 AS (SELECT w2, count(*) AS nw2 FROM c12 GROUP BY 1), "
        "nt AS (SELECT count(*) AS ntot FROM c12), "
        "p AS (SELECT bg.doc_id, CAST(round(log2("
        "(c12.c12 - 0.75) / c1.c1 + 0.75 * c1.n1p / c1.c1 "
        "* (cw2.nw2 / CAST(ntot AS DOUBLE))) * 1000000) AS BIGINT) "
        "AS lg FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1) "
        "JOIN cw2 USING (w2) CROSS JOIN nt) "
        "SELECT doc_id, count(*) AS n_bigrams, "
        "-(CAST(SUM(lg) AS DOUBLE) / count(*)) / 1000000.0 AS kn_bits "
        "FROM p GROUP BY 1 ORDER BY doc_id"
    ),
    tags=("llm", "quality", "vocab"),
)
def quality_kn_bigram_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bits-per-bigram under a Kneser-Ney smoothed
    bigram LM trained on the corpus — the BETTER-smoothed sibling of
    `quality_perplexity_bigram` (add-k): absolute discount D=0.75
    with the continuation-probability backoff
    P(w₂|w₁) = (c(w₁w₂)−D)/c(w₁·) + D·N₁₊(w₁·)/c(w₁·) · N₁₊(·w₂)/N₁₊(··),
    the smoothing every n-gram-LM quality filter actually ships
    (CCNet's LM gate lineage).  Scoring on training data keeps every
    bigram count ≥ 1, so no zero-probability branch is needed.

    Exactness: every count (c₁₂, row-wise c₁, continuation type
    counts) is an exact integer; P is one fixed-parenthesization IEEE
    expression over them, its log2 rounds to integer micro-units per
    bigram, the per-doc sum is exact BIGINT, and bits re-emerge as
    two IEEE divisions (the tie-proof emission convention).

    Scale shape: ONE bigram-vocab-sized c12 aggregate carries all
    three model statistics as windows over its own (w₁- and
    w₂-partitioned) key space — no per-statistic join-back, no
    re-evaluation of the bigram explode; the global type count stays
    a tree-reduced aggregate; the corpus crosses the wire once as
    (doc, w₁, w₂) hashed triples and meets the model in one
    equi-join."""
    docs = load_table(spark, sf_dir, "documents")
    tk = docs.select(
        "doc_id", F.filter(T.tokens("text"), lambda x: x != "").alias("t")
    )
    # r13 optimization round (guide §2.3/§2.4): the former shape
    # planned FIVE parquet scans — c12's aggregate subtree (tokenize +
    # bigram explode + agg) re-evaluated for each of c1/cw2/nt plus
    # the join side. Now the three model statistics ride windows over
    # the ONE c12 table (sum/count over w1-partitions, count over
    # w2-partitions — vocab-bounded partitions, no join-back, no
    # recompute); ntot stays a tree-reduced aggregate (a global count
    # must not become a single-partition window at bigram-vocab
    # cardinality); bigram keys travel as xxhash64 longs (the
    # hashed_shingle_sets convention). 5 scans -> 3, the three model
    # joins collapse to one.
    bg = tk.filter(F.size("t") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1), i -> "
                "struct(xxhash64(element_at(t, i)) AS w1, "
                "xxhash64(element_at(t, i + 1)) AS w2))"
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    c12 = bg.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    c12t = (
        c12.withColumn("c1", F.sum("c12").over(Window.partitionBy("w1")))
        .withColumn("n1p", F.count("*").over(Window.partitionBy("w1")))
        .withColumn("nw2", F.count("*").over(Window.partitionBy("w2")))
    )
    nt = c12.agg(F.count("*").alias("ntot"))
    prob = (
        (F.col("c12") - F.lit(0.75)) / F.col("c1")
        + F.lit(0.75) * F.col("n1p") / F.col("c1")
        * (F.col("nw2") / F.col("ntot").cast("double"))
    )
    p = (
        bg.join(c12t, ["w1", "w2"])
        .crossJoin(F.broadcast(nt))
        .select(
            "doc_id",
            F.round(F.log2(prob) * F.lit(1_000_000))
            .cast("long")
            .alias("lg"),
        )
    )
    return (
        p.groupBy("doc_id")
        .agg(F.count("*").alias("n_bigrams"), F.sum("lg").alias("slg"))
        .select(
            "doc_id",
            "n_bigrams",
            (
                -(F.col("slg").cast("double") / F.col("n_bigrams"))
                / F.lit(1.0e6)
            ).alias("kn_bits"),
        )
        .orderBy("doc_id")
    )


# KMV/theta SQL fragments for the sketched overlap entry (shared
# twins in operators/sketches.py; this file only binds the key expr)
_KMV_GRAM_HASH_SQL = _kmv_hash_sql("gram")
_KMV_TH128 = (
    "CASE WHEN len({sk}) >= 128 THEN CAST({sk}[128] AS DOUBLE) "
    "ELSE " + _KMV_SPACE_SQL + " END"
)


@register(
    "source_overlap_theta_checked",
    oracle=(
        "WITH g AS ("
        + _TRIGRAM_SQL.format(key="source", src="documents")
        + "), "
        f"hx AS (SELECT DISTINCT source, {_KMV_GRAM_HASH_SQL} AS h FROM g), "
        "sz AS (SELECT source, count(*) AS n FROM g GROUP BY 1), "
        "sk AS (SELECT source, (list(h ORDER BY h))[1:128] AS kmv "
        "FROM hx GROUP BY source), "
        "inter AS (SELECT a.source AS src_a, b.source AS src_b, "
        "count(*) AS n_inter FROM g a JOIN g b USING (gram) "
        "WHERE a.source < b.source GROUP BY 1, 2), "
        "pairs AS (SELECT i.src_a, i.src_b, i.n_inter, sa.n AS na, "
        "sb.n AS nb, ka.kmv AS kmv_a, kb.kmv AS kmv_b "
        "FROM inter i JOIN sz sa ON sa.source = i.src_a "
        "JOIN sz sb ON sb.source = i.src_b "
        "JOIN sk ka ON ka.source = i.src_a "
        "JOIN sk kb ON kb.source = i.src_b), "
        "p2 AS (SELECT *, "
        f"least({_KMV_TH128.format(sk='kmv_a')}, "
        f"{_KMV_TH128.format(sk='kmv_b')}) AS th, "
        "list_sort(list_distinct(list_cat(kmv_a, kmv_b)))[1:128] AS kmv_u "
        "FROM pairs), "
        "p3 AS (SELECT src_a, src_b, n_inter, na, nb, "
        "CAST(len(list_filter(kmv_a, x -> CAST(x AS DOUBLE) < th "
        "AND list_contains(kmv_b, x))) AS DOUBLE) "
        f"* {_KMV_SPACE_SQL} / th AS est_inter, "
        "CASE WHEN len(kmv_u) < 128 THEN CAST(len(kmv_u) AS DOUBLE) "
        f"ELSE CAST(127 AS DOUBLE) * {_KMV_SPACE_SQL} / "
        "CAST(kmv_u[128] AS DOUBLE) END AS est_union "
        "FROM p2) "
        "SELECT src_a, src_b, CAST(n_inter AS BIGINT) AS n_inter, "
        "round(CAST(n_inter AS DOUBLE) / "
        "CAST(na + nb - n_inter AS DOUBLE), 6) AS jaccard, "
        "est_inter, est_inter / est_union AS est_jaccard, "
        "TRUE AS within_bound "
        "FROM p3 ORDER BY src_a, src_b"
    ),
    tags=("llm", "vocab", "dedup", "sketch", "approx", "checked"),
)
def source_overlap_theta_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketched scale path for `source_overlap_jaccard`: pairwise
    cross-source 3-gram overlap estimated from one k=128 KMV sketch
    per source (operators/sketches.py) instead of the gram-keyed
    posting self-join. The exact matrix's exchange carries every
    DISTINCT (source, gram) row — fine while sources are dozens, but
    corpus-vs-corpus questions ("how much of crawl A is already in
    crawl B") have BOTH sides huge; the theta-framework answer
    intersects two KB-sized summaries and never rescans either side.
    This entry runs both and certifies the sketch against the exact
    twin pair-by-pair:

    - the EXACT n_inter/jaccard columns and the sketch ESTIMATES are
      all hash-gated (the estimator is plain SQL arithmetic, so the
      oracle recomputes the estimates exactly — stronger than the
      bracket-only HLL/CMS gates);
    - ``within_bound`` (oracle-pinned TRUE) asserts every one of the
      190 pairs' |est_inter - n_inter| <= max(16, 0.3·|A∪B|) AND
      |est_jaccard - jaccard| <= 0.3. Corpus-measured: worst observed
      err/|union| across sf0.001/0.01/0.1 is 0.088 and worst jaccard
      error 0.0795 (both at sf0.1, the max over 190 deterministic
      pairs), so 0.3 carries a 3.4× margin at ~3.4σ of the k=128
      estimator — same measured-slack device as the NCD brackets.

    Scale shape: the sketch side is one DISTINCT-gram exchange into a
    per-source aggregate whose partials are k values, then a
    |sources|² broadcast self-join of KB-sized rows. The exact side
    rides only as the certification twin."""
    from ..operators.sketches import (
        KMV_SPACE,
        kmv_estimate,
        kmv_hash,
        kmv_theta,
        theta_combine_estimate,
    )

    k = 128
    docs = load_table(spark, sf_dir, "documents")
    # four consumers (sizes, KMV sketch, both posting sides) — same
    # materialize-once fix as the exact twin (r13, guide §2.4)
    g = _trigram_rows(docs, "source").transform(materialize_lazy)
    sz = g.groupBy("source").agg(F.count("*").alias("n"))
    sk = (
        g.select("source", kmv_hash("gram").alias("h"))
        .groupBy("source")
        .agg(F.slice(F.sort_array(F.collect_set("h")), 1, k).alias("kmv"))
    )
    a = g.select(F.col("source").alias("src_a"), "gram")
    b = g.select(F.col("source").alias("src_b"), "gram")
    inter = (
        a.join(b, "gram")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("n_inter"))
    )
    pairs = (
        inter.join(
            F.broadcast(sz.select(F.col("source").alias("src_a"),
                                  F.col("n").alias("na"))), "src_a")
        .join(
            F.broadcast(sz.select(F.col("source").alias("src_b"),
                                  F.col("n").alias("nb"))), "src_b")
        .join(
            F.broadcast(sk.select(F.col("source").alias("src_a"),
                                  F.col("kmv").alias("kmv_a"))), "src_a")
        .join(
            F.broadcast(sk.select(F.col("source").alias("src_b"),
                                  F.col("kmv").alias("kmv_b"))), "src_b")
    )
    ka, kb = F.col("kmv_a"), F.col("kmv_b")
    est_inter = theta_combine_estimate(ka, kb, k, "intersect")
    est_union = theta_combine_estimate(ka, kb, k, "union")
    union_exact = (F.col("na") + F.col("nb") - F.col("n_inter")).cast(
        "double"
    )
    jacc_raw = F.col("n_inter").cast("double") / union_exact
    wide = pairs.select(
        "src_a",
        "src_b",
        F.col("n_inter").cast("long").alias("n_inter"),
        F.round(jacc_raw, 6).alias("jaccard"),
        est_inter.alias("est_inter"),
        (est_inter / est_union).alias("est_jaccard"),
        (
            (
                F.abs(est_inter - F.col("n_inter"))
                <= F.greatest(F.lit(16.0), F.lit(0.3) * union_exact)
            )
            & (F.abs(est_inter / est_union - jacc_raw) <= F.lit(0.3))
        ).alias("within_bound"),
    )
    return wide.orderBy("src_a", "src_b")
