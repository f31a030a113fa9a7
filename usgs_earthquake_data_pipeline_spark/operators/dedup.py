"""Deduplication operators for a large-scale training-data pipeline.

Four tiers, all shuffle-minimal and expressed over built-in functions
(JVM-side; zero Python UDFs):

- exact: hash-groupBy on content (or an explicit key). One shuffle on
  the dedup key; with AQE the post-shuffle partitions track the
  number of *distinct* keys, not input rows.
- latest-wins: per-key window rank — the canonical-record picker.
- MinHash-LSH near-dup: shingle → minhash signature → band → bucket
  self-join → exact-Jaccard verify. The join key is the band bucket,
  so candidate generation never goes all-pairs: cost is
  O(sum of bucket² sizes), the textbook LSH bound.
- SimHash: 64-bit sign-of-weighted-bit-sums fingerprint; near-dups
  are fingerprints within a small Hamming distance.

At 100 TB: every stage is a narrow map over the documents scan plus
exactly one shuffle (on fingerprint, key, or band bucket). Skewed
buckets (boilerplate shingles) are handled by AQE skew-split; the
``max_bucket`` guard drops degenerate buckets outright, which is also
what production LSH dedup does (a bucket with 10k docs is boilerplate,
not near-duplication signal).
"""

from __future__ import annotations

import time

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..materialize import materialize, materialize_lazy, release


def _widen(df: DataFrame) -> DataFrame:
    """Widen a CPU-bound narrow stage to the cluster's parallelism.

    A small-on-disk input (one parquet file) scans as one partition,
    serializing shingle/fingerprint computation onto a single core. If
    the scan produced fewer partitions than ``defaultParallelism``,
    repartition up — the shuffle moves only the raw rows (cheap)
    while the expensive per-row expressions then run on every core.
    At real scale the input has plenty of partitions and this is a
    no-op, so it never adds a shuffle to the 100 TB plan.

    The width probe is ``df.inputFiles()`` (catalog metadata, no job)
    rather than ``df.rdd.getNumPartitions()`` — touching ``.rdd``
    forces a full analysis + RDD conversion of the plan just to count
    partitions, a planner hiccup at 100 TB plan sizes. File count
    lower-bounds scan partitions (large files SPLIT into more via
    ``maxPartitionBytes``, never fewer), so the only false positive is
    repartitioning a few-big-files scan that was already wide — a
    cheap raw-row shuffle.

    ``inputFiles()`` reports the LEAF scan's files even for plans that
    already shuffled above it (an aggregated or joined input is
    already at ``shuffle.partitions`` width regardless of how few
    files its leaves had), so widening additionally requires the
    analyzed plan to be scan-shaped — project/filter over a relation,
    no width-setting operator in between. The probe reads the
    analyzed logical plan (analysis only; no RDD conversion, no
    job)."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    nfiles = len(df.inputFiles())
    if not (0 < nfiles < target):
        return df
    plan = df._jdf.queryExecution().analyzed().toString()
    width_setting = (
        "Aggregate",
        "Join",
        "Window",
        "Sort",
        "Repartition",
        "Deduplicate",
        "Distinct",
    )
    if any(op in plan for op in width_setting):
        return df
    return df.repartition(target)


def exact_dedup(df: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """Exact dedup: first row per key set (all columns when None).

    ``dropDuplicates`` compiles to a hash aggregate on the keys — one
    shuffle, map-side partial dedup first.
    """
    return df.dropDuplicates(keys) if keys else df.dropDuplicates()


def latest_wins_dedup(
    df: DataFrame, key_cols: list[str], order_col: str, tiebreak_col: str | None = None
) -> DataFrame:
    """Keep the newest row per key (row_number over desc order).

    Single shuffle on ``key_cols``; no global sort.
    """
    order = [F.col(order_col).desc()]
    if tiebreak_col:
        order.append(F.col(tiebreak_col).desc())
    w = Window.partitionBy(*key_cols).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct word ``n``-gram shingles of a text column.

    Pure expression: split → sliding window via transform(sequence) →
    array_distinct — no explode, no shuffle.

    The token array is LET-BOUND via a single-element outer transform
    (``transform(array(tokens), tk -> ...)``): higher-order lambdas
    evaluate interpreted with no common-subexpression elimination, so
    a directly captured ``tokens(col)`` re-runs the regex split once
    per window position — 2.8 s vs 0.5 s at sf0.1 for this one
    expression. A lambda VARIABLE is an evaluated value, so binding
    the array once makes every window slice O(n) instead of
    O(split + n)."""
    toks = tokens(col)

    def bound(tk: Column) -> Column:
        k = F.size(tk)
        grams = F.when(k < n, F.array().cast("array<string>")).otherwise(
            F.transform(
                F.sequence(F.lit(1), k - n + 1),
                lambda i: F.concat_ws(" ", F.slice(tk, i, n)),
            )
        )
        return F.array_distinct(grams)

    return F.element_at(F.transform(F.array(toks), bound), 1)


def shingle_hashes(shingle_col: Column) -> Column:
    """Hash each shingle string to a long exactly once (the base for
    every MinHash family). Materialize this as its own projection —
    higher-order lambdas evaluate interpreted without subexpression
    elimination, so inlining it under the per-family loop would redo
    the string hashing ``num_hashes`` times."""
    return F.transform(shingle_col, lambda s: F.xxhash64(s))


def gram_hashes(tokens_col: Column | str, n: int = 3) -> Column:
    """Distinct hashed word n-grams of a token array column, as a
    chained ``zip_with`` over ``n`` shifted slices of the array.

    Why this exact shape: higher-order lambdas re-evaluate any
    *captured* expression tree per element (no subexpression
    elimination), so indexing the token array inside the lambda
    (``element_at(toks, i+j)``) re-tokenizes the document for every
    gram. Here the shifted slices are plain function ARGUMENTS —
    evaluated once per row — and the lambdas touch only their scalar
    elements, folding the gram hash incrementally:
    ``h_j = xxhash64(h_{j-1}, tok_{i+j})``. Per gram: n hash calls,
    zero array lookups, zero string building.
    """
    t = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    k = F.size(t)
    m = k - n + 1  # gram count (only used when k >= n)

    def chain(cur: Column, j: int) -> Column:
        return F.zip_with(
            cur, F.slice(t, j + 1, m), lambda h, x: F.xxhash64(h, x)
        )

    hashed = F.transform(F.slice(t, 1, m), lambda x: F.xxhash64(x))
    for j in range(1, n):
        hashed = chain(hashed, j)
    grams = F.when(k < n, F.array().cast("array<bigint>")).otherwise(hashed)
    return F.array_distinct(grams)


def _tokenized(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, toks) projection with the token array materialized, so
    downstream gram lambdas index it instead of re-splitting."""
    return _widen(df).select(
        F.col(id_col).alias("id"), tokens(text_col).alias("toks")
    )


def hashed_shingle_sets(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, *, persist: bool = True
) -> DataFrame:
    """(id, hs) projection: each document's distinct word ``n``-gram
    shingles as 64-bit hashes, ascending-sorted (the global canonical
    order prefix filtering needs; set-semantic consumers don't care) —
    the shared front end of every shingle-based operator (Jaccard
    pairs, MinHash, prefix/PPJoin, decontamination).

    Joining/comparing on longs instead of gram strings keeps shuffle
    rows narrow and equality cheap; set relations over hashed grams
    equal the string-gram ones up to xxhash64 collisions (negligible
    at real shingle-set sizes, and the oracle gate would surface one).
    Empty-gram docs are dropped. With ``persist=True`` the projection
    is cached — callers invariably scan it more than once, and
    re-evaluating the interpreted gram lambdas per branch dominates
    runtime otherwise — but ONLY if the cache manager doesn't already
    hold this plan (repeated catalog runs over the same table used to
    re-persist per call, leaking one pinned projection per run and
    spamming `CacheManager: already cached` warnings). The cache is
    plan-keyed and SHARED: concurrent callers over the same input get
    the same pin, so ``unpersist()`` is only safe for a caller that
    knows it is the sole user (it would drop the cache out from under
    anyone else mid-scan — Spark keeps no reference count). In a
    single-owner pipeline, ``unpersist()`` the returned frame once the
    derived results are materialized; in shared/service contexts leave
    the pin to the session's cache manager (or ``persist=False`` to
    keep the pipeline fully streaming — the right call when the caller
    scans it exactly once)."""
    out = (
        _tokenized(df, id_col, text_col)
        # ascending canonical order: every consumer is set-semantic
        # (posting explode, MinHash minima, membership joins), so the
        # sort is free to them — and prefix filtering REQUIRES a
        # global canonical order, so sorting once here lets the
        # PPJoin path share this cache instead of re-sorting per
        # branch (4 branches at one point cost ~0.8 s/call at sf0.1)
        .select("id", F.array_sort(gram_hashes("toks", n)).alias("hs"))
        .filter(F.size("hs") > 0)
    )
    if not persist:
        return out
    lvl = out.storageLevel
    if lvl.useMemory or lvl.useDisk:
        return out  # same plan already cached — reuse, don't re-pin
    return out.persist()


def minhash_signature_udf(num_hashes: int = 32):
    """Arrow-batched vectorized MinHash: the ``num_hashes`` family
    minima computed in one numpy broadcast over the pre-hashed shingle
    longs (multiply-shift universal hashing on uint64, wrap-around
    multiplication — the classic a*h+b family).

    This is the sanctioned Pandas-UDF fast path: the string→long
    hashing stays JVM-side (one xxhash64 per shingle); only the
    (family × shingle) min-reduction — which Spark's interpreted
    higher-order lambdas make ~100× slower — crosses to numpy. The
    family constants derive from a counter hash (deterministic across
    runs and executors, no RNG state)."""
    import hashlib

    import numpy as np
    from pyspark.sql.functions import pandas_udf

    def _const(tag: str, i: int) -> int:
        return int.from_bytes(
            hashlib.md5(f"minhash-{tag}:{i}".encode()).digest()[:8], "big"
        )

    a = np.array(
        [_const("a", i) | 1 for i in range(num_hashes)], dtype=np.uint64
    )  # odd multipliers
    b = np.array([_const("b", i) for i in range(num_hashes)], dtype=np.uint64)

    @pandas_udf("array<bigint>")
    def _sig(hs: pd.Series) -> pd.Series:
        out = []
        with np.errstate(over="ignore"):
            for arr in hs:
                h = np.asarray(arr, dtype=np.int64).view(np.uint64)
                v = a[:, None] * h[None, :] + b[:, None]  # (families, shingles)
                out.append(v.min(axis=1).view(np.int64).tolist())
        return pd.Series(out)

    return _sig


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two (distinct-element) arrays."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n_shingle: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    max_bucket: int = 1000,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + LSH banding.

    Returns (id_a, id_b, jaccard) with id_a < id_b and
    jaccard >= threshold (exact Jaccard on shingle sets, verified
    after candidate generation — LSH only proposes).

    Plan shape: scan → shingle/signature (narrow) → explode bands →
    shuffle on (band, bucket) → within-bucket self-join → verify.
    ``max_bucket`` drops boilerplate buckets to bound the quadratic
    term at scale.
    """
    rows_per_band = num_hashes // bands
    assert rows_per_band * bands == num_hashes, "bands must divide num_hashes"

    # three consumers read the hashed-gram projection (signature,
    # verify-a, verify-b) — hashed_shingle_sets persists it so the
    # tokenize+gram expressions evaluate once, not per branch.
    docs = hashed_shingle_sets(df, id_col, text_col, n_shingle)
    sigs = docs.withColumn("sig", minhash_signature_udf(num_hashes)(F.col("hs")))

    # band explode carries ONLY (id, band, bucket) — never the shingle
    # arrays, which would multiply shuffle volume by ~2×bands; shingles
    # are joined back exactly once per side for the verify step.
    banded = sigs.select(
        "id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.xxhash64(
                    F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band)
                ),
            )
        ).alias("band", "bucket"),
    )

    # prune degenerate (boilerplate) buckets before the self-join
    bucket_sizes = banded.groupBy("band", "bucket").agg(F.count("*").alias("n"))
    banded = banded.join(
        bucket_sizes.filter(F.col("n").between(2, max_bucket)).select("band", "bucket"),
        ["band", "bucket"],
    )

    left = banded.select("band", "bucket", F.col("id").alias("id_a"))
    right = banded.select("band", "bucket", F.col("id").alias("id_b"))
    candidates = (
        left.join(right, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )

    # verify on the hashed shingle sets: Jaccard over 64-bit hashes
    # equals string-set Jaccard up to xxhash64 collisions (negligible
    # at these set sizes) and compares longs instead of strings
    verified = (
        candidates.join(
            docs.select(F.col("id").alias("id_a"), F.col("hs").alias("sh_a")),
            "id_a",
        )
        .join(
            docs.select(F.col("id").alias("id_b"), F.col("hs").alias("sh_b")),
            "id_b",
        )
        .withColumn("jaccard", jaccard(F.col("sh_a"), F.col("sh_b")))
    )
    return (
        verified.filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n_shingle: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram-Jaccard near-dup pairs via an inverted shingle
    index (no LSH approximation; no all-pairs cross join either).

    Explode shingles → self-join on shingle (the inverted index) →
    count shared shingles per pair → Jaccard from
    |A∩B| / (|A| + |B| - |A∩B|). Quadratic only within identical
    shingles — the exact analogue of a posting-list intersection.
    Use MinHash-LSH above when shingle frequency is skewed.
    """
    # four consumers read `docs` (posting a/b, sizes a/b) —
    # hashed_shingle_sets persists the small (id, hashed-gram-set)
    # projection so the tokenize+gram expressions evaluate once per
    # document, not once per branch.
    docs = hashed_shingle_sets(df, id_col, text_col, n_shingle).withColumnRenamed(
        "hs", "sh"
    )
    # posting rows carry ONLY (id, shingle) — the narrowest inverted
    # index. Set sizes join back AFTER the pair aggregation: |pairs|
    # is far smaller than the posting-join output, so the size lookup
    # touches the small side of the plan instead of widening every
    # posting row (and every joined row) through both shuffles. The
    # posting key is the 64-bit gram hash (Jaccard over hashed grams
    # equals string-gram Jaccard up to xxhash64 collisions). The
    # shingling expression still evaluates once: sizes reads the same
    # `docs` projection, and AQE broadcasts it when small.
    posting = docs.select("id", F.explode("sh").alias("shingle"))
    sizes = docs.select("id", F.size("sh").alias("n_sh"))

    a = posting.select(F.col("id").alias("id_a"), "shingle")
    b = posting.select(F.col("id").alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter.join(
            sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a")),
            "id_a",
        )
        .join(
            sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b")),
            "id_b",
        )
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def ngram_jaccard_prefix_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n_shingle: int = 3,
    threshold: float = 0.5,
    broadcast_verify: bool = False,
) -> DataFrame:
    """Exact n-gram-Jaccard pairs via prefix filtering — the
    all-pairs/PPJoin family (Bayardo et al. WWW'07, Xiao et al.
    WWW'08), the standard scale path for exact set-similarity joins.

    Instead of indexing EVERY shingle (``ngram_jaccard_pairs``), each
    document indexes only its first ``|d| - ceil(t*|d|) + 1`` shingles
    under a global canonical order (ascending 64-bit gram hash): two
    sets with Jaccard >= t must overlap in at least
    ``ceil(t*max(|a|,|b|))`` elements, so their prefixes provably
    share at least one — any pair the prefix join misses cannot reach
    the threshold. Candidates are then verified exactly with one
    JVM-side ``array_intersect`` over the full sorted sets.

    Scale shape: the posting self-join (the quadratic-risk stage)
    shrinks by ~t (t=0.8 → 5x fewer posting rows and ~25x fewer
    probe pairs), a length filter (``t*|a| <= |b| <= |a|/t``) and
    PPJoin's positional filter prune candidates before the distinct,
    and verification touches only |candidates| rows. The shingle sets
    come pre-sorted from ``hashed_shingle_sets`` (one shared cached
    projection — no per-branch re-sort, no second pin).
    ``broadcast_verify=True`` broadcasts the (id, sorted-set)
    projection into the two verification joins — two exchanges and
    their AQE stage boundaries disappear; correct whenever the
    deduped CORPUS projection fits an executor (bench scale), while
    the default leaves the build side to AQE (the 100 TB setting —
    candidates, not the corpus, are the small side there). Exactness
    vs the inverted-index twin is asserted in tests at multiple
    thresholds; the oracle gate hashes it against the same plain-SQL
    Jaccard.

    REGIME BOUNDARY (round-12 sf10 rung, EXPLAIN.md): prefix filtering
    delays but does not remove the posting self-join's Σ len² term.
    On corpora whose feature frequencies are near-UNIFORM (the
    vocab-capped test corpus: gram df 800-1085 at 500k docs), posting
    lists densify linearly with corpus size and this operator goes
    quadratic one rung after the inverted index (51x at the 10x
    sf1→sf10 step) — and ascending-df canonical order, the textbook
    fix, provably cannot help there (rarest ≈ average). PPJoin is the
    right tier for ZIPFIAN feature distributions (real text), where
    prefixes are genuinely rare; for dense-uniform corpora the 100 TB
    path is ``minhash_lsh_pairs`` (banded buckets stay flat: max
    bucket 14, candidates linear at sf10) with exact verification.
    """
    docs = hashed_shingle_sets(df, id_col, text_col, n_shingle).select(
        "id", F.col("hs").alias("sh"), F.size("hs").alias("n_sh")
    )
    # canonical-order prefix: |d| - ceil(t*|d|) + 1 elements. slice()
    # tolerates lengths past the end, and length >= 1 always holds.
    p_len = (
        F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + F.lit(1)
    ).cast("int")
    posting = docs.select(
        "id",
        "n_sh",
        F.posexplode(F.slice("sh", F.lit(1), p_len)).alias("pos", "shingle"),
    )
    a = posting.select(
        F.col("id").alias("id_a"),
        F.col("n_sh").alias("n_a"),
        F.col("pos").alias("pa"),
        "shingle",
    )
    b = posting.select(
        F.col("id").alias("id_b"),
        F.col("n_sh").alias("n_b"),
        F.col("pos").alias("pb"),
        "shingle",
    )
    # J >= t forces |a∩b| >= alpha := ceil(t*(|a|+|b|)/(1+t))
    alpha = F.ceil(
        F.lit(threshold) / F.lit(1.0 + threshold) * (F.col("n_a") + F.col("n_b"))
    )
    cand = (
        a.join(b, "shingle")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            # length filter: J >= t forces t*max(|a|,|b|) <= min(|a|,|b|)
            # — sizes more than 1/t apart cannot pass; drop the pair
            # before the distinct-shuffle.
            & (F.col("n_a") * F.lit(threshold) <= F.col("n_b"))
            & (F.col("n_b") * F.lit(threshold) <= F.col("n_a"))
            # positional filter (PPJoin, Xiao et al. WWW'08): with the
            # arrays in one canonical order, a match at 0-based
            # positions (pa, pb) caps the overlap at
            # min(|a|-pa, |b|-pb); for a true pair the bound holds at
            # its FIRST common element (nothing smaller is shared), so
            # requiring it to reach alpha never loses a result. Cuts
            # candidates ~2.5x on the bench corpus.
            & (
                F.least(F.col("n_a") - F.col("pa"), F.col("n_b") - F.col("pb"))
                >= alpha
            )
        )
        # NO distinct here: a pair sharing k prefix elements appears k
        # times, but the positional filter keeps the duplication factor
        # ~1 (71.7k raw vs 68.6k distinct on the bench corpus), so
        # verifying duplicates is far cheaper than a dedicated
        # (id_a, id_b) exchange + AQE stage just to dedup them —
        # duplicates collapse in the final distinct over the
        # threshold-surviving rows (a few hundred), where the shuffle
        # is free. Same-pair re-verification is deterministic, so the
        # late dedup is exact.
        .select("id_a", "id_b")
    )
    full = docs.select("id", "sh", "n_sh")
    fa = full.select(
        F.col("id").alias("id_a"),
        F.col("sh").alias("sh_a"),
        F.col("n_sh").alias("n_a"),
    )
    fb = full.select(
        F.col("id").alias("id_b"),
        F.col("sh").alias("sh_b"),
        F.col("n_sh").alias("n_b"),
    )
    if broadcast_verify:
        fa, fb = F.broadcast(fa), F.broadcast(fb)
    return (
        cand.join(fa, "id_a")
        .join(fb, "id_b")
        .withColumn("n_inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
        .distinct()
    )


def resolve_dup_clusters(
    pairs: DataFrame,
    *,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 50,
    round_times: list[float] | None = None,
) -> DataFrame:
    """Near-dup pair list → connected components → (id, canonical_id).

    Iterative min-label propagation: every node repeatedly adopts the
    smallest label among itself and its neighbors until a full
    iteration changes nothing. Each iteration is one join + one
    aggregate (shuffles on id) — the standard Spark connected-
    components shape; iterations needed = graph diameter, which for
    near-dup clusters (dense blobs) is tiny. Canonical id = min doc id
    in the cluster, matching exact-dedup's keep-min convention.

    Raises RuntimeError if the graph hasn't converged after
    ``max_iterations`` (a silent partial result would emit multiple
    canonical ids for one component); pathological long-chain graphs
    need a higher bound, never a quiet wrong answer.

    Pointer-jumping (path halving: label(x) <- label(label(x)), one
    extra self-join per round) was evaluated in round 8 and REJECTED:
    on the sf0.1 DBSCAN core graph it cut the round count as expected
    but per-round wall time grew ~2.5x per round from round ~16
    onward — under localCheckpoint AND reliable checkpoint alike,
    with row counts, plan size, and partitioning all measured
    constant — an accumulating JVM pathology (codegen/broadcast/GC)
    that ends in driver OOM at default heap. The flat one-join loop
    holds a constant ~0.65 s/round indefinitely. At true 100 TB
    component scale the answer is the large-star/small-star algorithm
    (Kiveris et al.) on a GraphFrames-class runtime, not more joins
    in this loop.
    """
    # materialize the symmetric edge set ONCE: it is re-joined every
    # iteration (plus the label init), and an un-checkpointed edges
    # frame re-executes the whole upstream PAIR GENERATION per round —
    # for the catalog's cluster entries that is the full prefix-join
    # plan, diameter+1 times (r13 optimization round, guide §2.4).
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(
            pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
        )
        .distinct()
        .transform(materialize)
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
    )
    converged = False
    mat = None
    for _ in range(max_iterations):
        t0 = time.perf_counter() if round_times is not None else 0.0
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        new_label = F.least(
            F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
        )
        updated = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                new_label.alias("label"),
                (new_label < F.col("label")).alias("__changed"),
            )
        )
        # ONE materialization per round: the checkpoint both truncates
        # lineage and serves the convergence probe — a separate
        # changed-count action would re-run the join a second time.
        prev, mat = mat, updated.transform(materialize)
        if prev is not None:
            release(prev)
        changed = mat.filter(F.col("__changed")).limit(1).count()
        labels = mat.drop("__changed")
        if round_times is not None:
            # per-round wall time, for the depth-stress test's
            # flatness assertion (lineage blow-up shows up here)
            round_times.append(time.perf_counter() - t0)
        if changed == 0:
            converged = True
            break
    # the labels read only the last round's eager pin: the edge set is
    # read by nothing more
    release(edges)
    if not converged:
        raise RuntimeError(
            f"resolve_dup_clusters did not converge in {max_iterations} "
            "iterations; raise max_iterations (graph diameter exceeds it)"
        )
    return labels.select("id", F.col("label").alias("canonical_id"))


def simhash_col(df: DataFrame, text_col: str, out_col: str = "simhash") -> DataFrame:
    """Add a 64-bit SimHash fingerprint column.

    SQL-expression form (shiftright by a *column* amount isn't
    reachable from the Python Column DSL, so the per-bit loop is a
    SQL lambda — still fully JVM-side/codegen).
    """
    bits = 64
    expr = f"""
    aggregate(
      transform(
        CASE WHEN trim(`{text_col}`) = '' THEN array()
             ELSE split(trim(`{text_col}`), '\\\\s+') END,
        t -> xxhash64(t)),
      transform(sequence(0, {bits - 1}), i -> 0L),
      (acc, h) -> zip_with(acc, sequence(0, {bits - 1}),
                           (a, i) -> a + CASE WHEN shiftright(h, CAST(i AS INT)) % 2 != 0 THEN 1L ELSE -1L END),
      acc -> aggregate(zip_with(acc, sequence(0, {bits - 1}),
                                (a, i) -> CASE WHEN a > 0 THEN shiftleft(1L, CAST(i AS INT)) ELSE 0L END),
                       0L, (s, x) -> s | x)
    )
    """
    return df.withColumn(out_col, F.expr(expr))


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit fingerprints."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_hamming: int = 3,
    band_bits: int = 16,
    fp_df: DataFrame | None = None,
) -> DataFrame:
    """SimHash near-dup pairs: block on ``64/band_bits`` fingerprint
    bands (pigeonhole: any pair within ``max_hamming`` shares at least
    one exact band when bands > max_hamming), then verify Hamming
    distance. Same ban-the-cross-join shape as MinHash-LSH.

    ``fp_df``: optional precomputed ``(id, simhash)`` frame — callers
    that also consume the fingerprints elsewhere (the gate entries'
    brute-force twin) pass one shared materialized frame so the
    per-document SimHash fold is computed once, not once per branch.
    When absent, the fold is lazily localCheckpoint-ed here for the
    same reason: ``banded`` is referenced twice (left/right sides of
    the band self-join) and an un-materialized fp would re-run the
    O(tokens·64) fold per reference (r13 optimization round)."""
    n_bands = 64 // band_bits
    assert n_bands > max_hamming, "need more bands than allowed bit flips"
    if fp_df is not None:
        fp = fp_df.select("id", "simhash")
    else:
        fp = simhash_col(
            _widen(df).select(F.col(id_col).alias("id"), text_col), text_col
        ).select("id", "simhash").transform(materialize_lazy)
    banded = fp.select(
        "id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("simhash"), i * band_bits).bitwiseAND(
                        F.lit((1 << band_bits) - 1)
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("band", "key"),
    )
    left = banded.select(
        "band", "key", F.col("id").alias("id_a"), F.col("simhash").alias("fp_a")
    )
    right = banded.select(
        "band", "key", F.col("id").alias("id_b"), F.col("simhash").alias("fp_b")
    )
    return (
        left.join(right, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", hamming64(F.col("fp_a"), F.col("fp_b")))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n_shingle: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """ASYMMETRIC near-dup pairs by shingle CONTAINMENT — the signal
    Jaccard is structurally blind to: a 50-shingle excerpt quoted
    inside a 5000-shingle document has Jaccard ≈ 0.01 (invisible at
    any usable threshold) but containment 1.0.  Containment
    C(A→B) = |A∩B| / |A| with A the smaller set; emitted as
    (contained_id, container_id, containment ≥ threshold) — the
    quote/excerpt/boilerplate-inclusion detector a training-corpus
    dedup pass runs AFTER symmetric near-dup removal.

    Same inverted-posting plan as ``ngram_jaccard_pairs`` (identical
    shuffle profile, sizes joined back after the pair aggregation);
    only the verification formula and the direction assignment
    differ — smaller set is the contained side, ties broken toward
    the smaller id so output is deterministic."""
    docs = hashed_shingle_sets(df, id_col, text_col, n_shingle).withColumnRenamed(
        "hs", "sh"
    )
    posting = docs.select("id", F.explode("sh").alias("shingle"))
    sizes = docs.select("id", F.size("sh").alias("n_sh"))
    a = posting.select(F.col("id").alias("id_a"), "shingle")
    b = posting.select(F.col("id").alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    joined = inter.join(
        sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a")),
        "id_a",
    ).join(
        sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b")),
        "id_b",
    )
    containment = F.col("n_inter") / F.least("n_a", "n_b")
    return (
        joined.filter(containment >= threshold)
        .select(
            F.when(F.col("n_a") <= F.col("n_b"), F.col("id_a"))
            .otherwise(F.col("id_b"))
            .alias("contained_id"),
            F.when(F.col("n_a") <= F.col("n_b"), F.col("id_b"))
            .otherwise(F.col("id_a"))
            .alias("container_id"),
            F.round(containment, 6).alias("containment"),
        )
    )


def two_phase_components(
    pairs: DataFrame,
    *,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_rounds: int = 64,
    round_times: list[float] | None = None,
) -> DataFrame:
    """Connected components by large-star/small-star alternation
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — the O(log² n)-round general-graph algorithm
    :func:`resolve_dup_clusters`'s docstring defers to for true
    100 TB component scale. Label propagation needs graph-DIAMETER
    rounds (fine for near-dup blobs, hopeless for long chains);
    the star operations contract arbitrary topology in a
    polylogarithmic number of rounds, each round two key-bounded
    aggregate+join passes over the edge set, state = the edge set
    itself (no separate label table).

    The edge set is kept as a canonical undirected (hi, lo) DISTINCT
    table between phases; convergence = the canonical set reaches a
    fixed point (checked exactly via symmetric exceptAll — at real
    scale you'd fingerprint instead, same as the convergence note on
    resolve_dup_clusters). At the fixed point every component is a
    star centered at its minimum id, so the final labeling is one
    neighbor-min aggregate. Output schema and semantics are
    IDENTICAL to resolve_dup_clusters — (id, canonical_id), canonical
    = component-min — which is exactly what the catalog entry's
    shared recursive-CTE oracle certifies.

    Raises RuntimeError if not converged after ``max_rounds``
    rather than mislabeling quietly. Measured round law on the
    adversarial topology (a pure chain): 21 rounds at 10⁶ nodes,
    ~log₂ n + 1 — so the default 64 covers any corpus that fits in
    an address space, with the paper's O(log² n) as the worst-case
    ceiling."""
    import time

    canon = (
        pairs.select(
            F.greatest(F.col(id_a), F.col(id_b)).alias("hi"),
            F.least(F.col(id_a), F.col(id_b)).alias("lo"),
        )
        .filter(F.col("hi") != F.col("lo"))
        .distinct()
        .transform(materialize)
    )

    def _sym(c: DataFrame) -> DataFrame:
        return c.select(F.col("hi").alias("src"), F.col("lo").alias("dst")).unionByName(
            c.select(F.col("lo").alias("src"), F.col("hi").alias("dst"))
        )

    def _norm(e: DataFrame) -> DataFrame:
        return (
            e.select(
                F.greatest(F.col("src"), F.col("dst")).alias("hi"),
                F.least(F.col("src"), F.col("dst")).alias("lo"),
            )
            .filter(F.col("hi") != F.col("lo"))
            .distinct()
        )

    for _ in range(max_rounds):
        t0 = time.monotonic()
        # large-star: every node connects its LARGER neighbors to its
        # neighborhood minimum (incl. itself)
        sym = _sym(canon)
        mins = sym.groupBy("src").agg(F.min("dst").alias("mn"))
        mins = mins.select(
            "src", F.least(F.col("src"), F.col("mn")).alias("m")
        )
        large = (
            sym.join(mins, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        )
        after_large = _norm(large).transform(materialize)
        # small-star: orient (hi → lo); every node connects its
        # smaller neighbors (and itself) to the smallest of them
        smins = after_large.groupBy("hi").agg(F.min("lo").alias("m"))
        joined = after_large.join(smins, "hi")
        small = (
            joined.filter(F.col("lo") != F.col("m"))
            .select(F.col("lo").alias("src"), F.col("m").alias("dst"))
            .unionByName(
                smins.select(
                    F.col("hi").alias("src"), F.col("m").alias("dst")
                )
            )
        )
        new_canon = _norm(small).transform(materialize)
        release(after_large)
        if round_times is not None:
            round_times.append(time.monotonic() - t0)
        changed = (
            new_canon.exceptAll(canon).unionAll(canon.exceptAll(new_canon))
        ).limit(1).count()
        release(canon)
        canon = new_canon
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"two_phase_components: no fixed point in {max_rounds} rounds"
        )
    # fixed point = stars at component minima: label every node with
    # min(self, neighbors); nodes = every id in the ORIGINAL pairs
    # (contraction removes leaf-leaf edges, never nodes' reachability)
    nodes = (
        pairs.select(F.col(id_a).alias("id"))
        .unionByName(pairs.select(F.col(id_b).alias("id")))
        .distinct()
    )
    nbr_min = (
        _sym(canon)
        .groupBy(F.col("src").alias("id"))
        .agg(F.min("dst").alias("nm"))
    )
    return nodes.join(nbr_min, "id", "left").select(
        "id",
        F.least(F.col("id"), F.coalesce(F.col("nm"), F.col("id"))).alias(
            "canonical_id"
        ),
    )
