"""Text-analysis column functions for a training-data pipeline:
tokenization, token counting, quality scoring, language ID, document
fingerprinting.

Everything here is a pure Column expression over built-in
``pyspark.sql.functions`` — no Python UDFs — so at 100 TB the work
stays inside whole-stage codegen on the executors, pipelined with the
parquet scan (no shuffle is introduced by any function in this
module).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Minimal per-language stopword marker sets for the heuristic
# language ID. Deliberately tiny: at pipeline scale the point is the
# *shape* (pure-expression n-gram/stopword scoring); richer lists drop
# in without changing the plan.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "les", "et", "est"),
    "es": ("el", "la", "los", "y", "es"),
}

_WORD_RE = r"\s+"
# BPE-ish pre-tokenizer: word pieces or single non-space punctuation,
# the usual pre-split a byte-pair encoder sees.
_BPE_RE = r"[A-Za-z0-9_]+|[^A-Za-z0-9_\s]"


def tokens(col: Column | str) -> Column:
    """Whitespace tokens of trimmed text (empty text → empty array)."""
    c = F.col(col) if isinstance(col, str) else col
    trimmed = F.trim(c)
    return F.when(trimmed == "", F.array().cast("array<string>")).otherwise(
        F.split(trimmed, _WORD_RE)
    )


def token_count(col: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(tokens(col))


def bpe_token_count(col: Column | str) -> Column:
    """Count of BPE-ish pre-tokens (word pieces + punctuation marks)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(_BPE_RE))


def stopword_ratio(col: Column | str, stopwords: tuple[str, ...]) -> Column:
    """Fraction of tokens that are stopwords (0.0 for empty text)."""
    toks = tokens(F.lower(F.col(col) if isinstance(col, str) else col))
    sw = F.array(*[F.lit(s) for s in stopwords])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return F.when(F.size(toks) > 0, hits / F.size(toks)).otherwise(F.lit(0.0))


def punctuation_ratio(col: Column | str) -> Column:
    """Fraction of non-space characters that are punctuation."""
    c = F.col(col) if isinstance(col, str) else col
    nonspace = F.length(F.regexp_replace(c, r"\s", ""))
    punct = F.regexp_count(c, F.lit(r"[^A-Za-z0-9_\s]"))
    return F.when(nonspace > 0, punct / nonspace).otherwise(F.lit(0.0))


# Quality-gate thresholds — the single source for both the Spark
# predicate (quality_gate) and the DuckDB oracle fragments below.
QUALITY_MIN_TOKENS = 20
QUALITY_MIN_STOPWORD_RATIO = 0.05
QUALITY_MAX_PUNCT_RATIO = 0.2

#: DuckDB SQL: the gate's input columns, computed over a `text` column
QUALITY_COLS_SQL = (
    "len(regexp_split_to_array(trim(text), '\\s+')) AS n_tok, "
    "len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), "
    "    x -> x IN ('the','a','of','and','is'))) AS sw_hits, "
    "length(regexp_replace(text, '\\s', '', 'g')) AS nonspace, "
    "len(regexp_extract_all(text, '[^A-Za-z0-9_\\s]')) AS punct"
)

#: DuckDB SQL: the gate predicate over QUALITY_COLS_SQL's columns
QUALITY_WHERE_SQL = (
    f"n_tok >= {QUALITY_MIN_TOKENS} "
    f"AND sw_hits / n_tok >= {QUALITY_MIN_STOPWORD_RATIO} "
    f"AND punct / greatest(nonspace, 1) <= {QUALITY_MAX_PUNCT_RATIO}"
)


def quality_gate(col: Column | str) -> Column:
    """The boolean quality gate (Spark twin of QUALITY_WHERE_SQL):
    token-count, stopword-ratio and punctuation-ratio thresholds."""
    return (
        (token_count(col) >= QUALITY_MIN_TOKENS)
        & (stopword_ratio(col, LANG_STOPWORDS["en"]) >= QUALITY_MIN_STOPWORD_RATIO)
        & (punctuation_ratio(col) <= QUALITY_MAX_PUNCT_RATIO)
    )


# ---------------------------------------------------------------------------
# Linear quality classifier (the fastText-shaped scoring stage real
# curation pipelines run after the heuristic gates): token-length
# bucket features × literal trained-style weights → logit. The
# featurizer is deliberately the SQL-twin-able one (token length
# capped at QUALITY_CLF_DIM, not a hash — DuckDB has no xxhash64), the
# same trade rag_index's featurizer makes; swapping in hashed n-gram
# features changes only the bucket expression, not the plan shape
# (broadcast-free: weights are literals folded into codegen). Weights
# are DECIMAL STRINGS so both engines accumulate the dot product in
# exact decimal arithmetic and cast the identical value to double.
QUALITY_CLF_DIM = 16
QUALITY_CLF_BIAS = "-0.550000"
#: weight per token-length bucket 1..16 (length capped at 16); shaped
#: like a real LM-quality probe: penalize 1-char noise tokens and very
#: long unbroken strings, reward mid-length vocabulary
QUALITY_CLF_WEIGHTS = (
    "-0.080000",  # 1
    "-0.020000",  # 2
    "0.010000",  # 3
    "0.015000",  # 4
    "0.020000",  # 5
    "0.010000",  # 6
    "0.005000",  # 7
    "-0.030000",  # 8
    "-0.040000",  # 9
    "-0.050000",  # 10
    "-0.060000",  # 11
    "-0.070000",  # 12
    "-0.080000",  # 13
    "-0.090000",  # 14
    "-0.100000",  # 15
    "-0.120000",  # 16+
)


def quality_clf_logit(col: Column | str) -> Column:
    """Exact-decimal logit of the linear quality classifier: bias +
    Σ_j w_j · |{tokens of capped length j}|. Pure Column expressions —
    the 16 bucket counts are ``size(filter(...))`` over one token
    array, the weights fold as decimal literals, so the whole score
    pipelines inside the scan stage with no shuffle and no Python."""
    toks = tokens(col)

    # closure factory, NOT a default-arg lambda: PySpark reads a
    # two-parameter lambda as the (value, index) form of the
    # higher-order function, which would shadow the captured bucket
    def bucket_eq(j: int):
        return lambda t: F.least(F.length(t), F.lit(QUALITY_CLF_DIM)) == j

    # let-bind the token array so the 16 interpreted filter passes
    # each read an evaluated value — a directly captured tokens(col)
    # re-runs the regex split once per bucket (16 splits/row; see
    # operators/dedup.shingles for the pattern)
    def bound(tk: Column) -> Column:
        logit: Column = F.lit(QUALITY_CLF_BIAS).cast("decimal(12,6)")
        for j, w in enumerate(QUALITY_CLF_WEIGHTS, start=1):
            cnt = F.size(F.filter(tk, bucket_eq(j))).cast("long")
            logit = logit + F.lit(w).cast("decimal(12,6)") * cnt
        return logit

    return F.element_at(F.transform(F.array(toks), bound), 1)


def quality_clf_logit_sql(text_expr: str = "text") -> str:
    """DuckDB twin of ``quality_clf_logit`` — built from the SAME
    weight literals, so the two engines compute the identical exact
    decimal before any double cast."""
    terms = [f"CAST('{QUALITY_CLF_BIAS}' AS DECIMAL(12,6))"]
    for j, w in enumerate(QUALITY_CLF_WEIGHTS, start=1):
        terms.append(
            f"CAST('{w}' AS DECIMAL(12,6)) * "
            f"len(list_filter(regexp_split_to_array(trim({text_expr}), "
            f"'\\s+'), t -> least(length(t), {QUALITY_CLF_DIM}) = {j}))"
        )
    return " + ".join(terms)


def lang_id(col: Column | str) -> Column:
    """Heuristic language guess: argmax of per-language stopword hit
    counts; 'und' (undetermined) when nothing matches.

    A real pipeline swaps in character-n-gram profiles; the plan shape
    (pure expression, no shuffle, no UDF) is identical.
    """
    toks = tokens(F.lower(F.col(col) if isinstance(col, str) else col))

    def _hits(stopwords: tuple[str, ...]) -> Column:
        sw_arr = F.array(*[F.lit(s) for s in stopwords])
        return F.size(F.filter(toks, lambda t: F.array_contains(sw_arr, t)))

    scored = F.array(
        *[
            F.struct(_hits(sw).alias("hits"), F.lit(lang).alias("lang"))
            for lang, sw in LANG_STOPWORDS.items()
        ]
    )
    best = F.array_max(scored)
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


def fingerprint_md5(col: Column | str) -> Column:
    """Exact-content fingerprint (hex MD5) — the exact-dedup key."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(c)


def word_ngrams(col: Column | str, n: int = 2) -> Column:
    """Overlapping word ``n``-grams as space-joined strings (empty
    array when the text has fewer than ``n`` tokens). Pure expression:
    one ``transform`` over an index ``sequence`` — no explode, no
    shuffle, so repetition stats pipeline with the scan."""
    toks = tokens(col)

    # let-bind the token array through a single-element transform so
    # the interpreted window lambda slices an evaluated VALUE instead
    # of re-running the split per window (see operators/dedup.shingles
    # for the measured 5x)
    def bound(tk: Column) -> Column:
        # stop clamped to >=1 so the sequence never runs descending;
        # the outer when() discards the junk gram for short texts.
        stop = F.greatest(F.size(tk) - (n - 1), F.lit(1))
        grams = F.transform(
            F.sequence(F.lit(1), stop),
            lambda i: F.concat_ws(" ", F.slice(tk, i, n)),
        )
        return F.when(F.size(tk) >= n, grams).otherwise(
            F.array().cast("array<string>")
        )

    return F.element_at(F.transform(F.array(toks), bound), 1)


def duplicate_fraction(arr: Column) -> Column:
    """Fraction of array elements that are repeats of an earlier
    element: ``1 - distinct/total`` (0.0 for an empty array)."""
    return F.when(
        F.size(arr) > 0,
        F.round(
            F.lit(1.0) - F.size(F.array_distinct(arr)) / F.size(arr), 6
        ),
    ).otherwise(F.lit(0.0))


# PII patterns — deliberately RE2-compatible (no backrefs, no
# lookaround) so the identical pattern runs in Spark (Java regex) and
# the DuckDB oracle (RE2) with the same matches.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def redact_pii(col: Column | str) -> Column:
    """Replace emails then IPv4 literals with typed placeholder tokens
    — the standard pre-training scrub pass. Order matters and is
    fixed: the email pattern can consume a dotted host, so it runs
    first; placeholders contain no digits/@ so passes don't re-match."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.regexp_replace(c, EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(out, IPV4_RE, "<IP>")


def normalize_ascii(col: Column | str) -> Column:
    """Canonical ASCII form for fuzzy-exact dedup: lowercase, strip
    every character outside ``[a-z0-9 ]``, collapse space runs, trim.
    Deliberately ASCII-only RE2-safe regexes so Spark (Java regex) and
    DuckDB (RE2 with the ``'g'`` flag) produce identical bytes; the
    DuckDB twin lives in the ``dedup_normalized_text`` oracle."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(c), "[^a-z0-9 ]", ""), " +", " "
        )
    )


def hashed_bow(col: Column | str, dim: int = 16) -> Column:
    """Feature-hashing document vector (the hashing trick, Weinberger
    et al. ICML'09): each token hashes to one of ``dim`` buckets with
    a hash-derived ±1 sign, the signed counts are L2-normalized.

    A real, trainable-model-free featurizer — not a stub: cosine over
    these vectors approximates token-overlap similarity, which is all
    a coarse retrieval index needs. Pure JVM expressions: one
    xxhash64 per (token, purpose) and a dim-length fold; no
    vocabulary, no driver state, embarrassingly parallel. For big
    ``dim`` the per-row cost is dim×|tokens| interpreted lambda steps
    — at that point vectorize in a pandas UDF like the MinHash
    signature does; dim≲32 stays cheap JVM-side.

    Zero-vector documents (no tokens) return the zero vector rather
    than NaN.
    """
    c = F.col(col) if isinstance(col, str) else col
    toks = tokens(c)

    # let-bind the token array (single-element outer transform) so the
    # per-dimension folds walk an evaluated value instead of
    # re-splitting the text once per dimension (dim x split otherwise;
    # see operators/dedup.shingles)
    def bound(tk: Column) -> Column:
        return F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda d: F.aggregate(
                tk,
                F.lit(0.0),
                lambda acc, t: acc
                + F.when(
                    F.pmod(F.xxhash64(t), F.lit(dim)) == d,
                    F.when(F.pmod(F.xxhash64(t, F.lit(1)), F.lit(2)) == 0, 1.0)
                    .otherwise(-1.0),
                ).otherwise(0.0),
            ),
        )

    signed = F.element_at(F.transform(F.array(toks), bound), 1)
    norm = F.sqrt(
        F.aggregate(signed, F.lit(0.0), lambda acc, v: acc + v * v)
    )
    return F.when(norm > 0, F.transform(signed, lambda v: v / norm)).otherwise(
        signed
    )


def cdc_chunks(col: Column | str, hex_prefixes: str = "0") -> Column:
    """Content-defined chunking over whitespace tokens: split the
    token stream into chunks whose boundary falls AFTER any token
    whose md5 hex digest starts with one of ``hex_prefixes``
    (single characters; one char ≈ expected chunk length 16 tokens,
    two ≈ 8, ...). Returns ``array<string>`` of space-joined chunks.

    Because the boundary test is a pure function of the token itself,
    an edit to a document perturbs only the chunks it touches —
    downstream chunk identities are stable under insertion/deletion
    (the FastCDC/rsync property), which is what makes chunk-hash
    dedup shift-robust where fixed-offset windows are not.

    The whole walk is ONE ``aggregate`` fold over the token array —
    O(tokens) per row, evaluated JVM-side, no explode/window/shuffle.
    """
    c = F.col(col) if isinstance(col, str) else col
    toks = F.filter(c, lambda x: x != "")
    prefixes = F.array(*[F.lit(p) for p in hex_prefixes])
    init = F.struct(
        F.array().cast("array<string>").alias("chunks"),
        F.lit("").alias("cur"),
    )

    def step(acc: Column, x: Column) -> Column:
        joined = F.when(acc["cur"] == "", x).otherwise(
            F.concat(acc["cur"], F.lit(" "), x)
        )
        is_boundary = F.array_contains(prefixes, F.substring(F.md5(x), 1, 1))
        return F.struct(
            F.when(is_boundary, F.concat(acc["chunks"], F.array(joined)))
            .otherwise(acc["chunks"])
            .alias("chunks"),
            F.when(is_boundary, F.lit("")).otherwise(joined).alias("cur"),
        )

    def finish(acc: Column) -> Column:
        return F.when(acc["cur"] == "", acc["chunks"]).otherwise(
            F.concat(acc["chunks"], F.array(acc["cur"]))
        )

    return F.aggregate(toks, init, step, finish)
