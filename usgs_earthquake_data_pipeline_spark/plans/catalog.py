"""The named-query catalog.

Each entry pairs an idiomatic-PySpark callable ``(spark, sf_dir) ->
DataFrame`` with the equivalent ANSI SQL that DuckDB runs on the same
parquet tables (the driver's correctness oracle). Entries without
oracle SQL get a weaker rows-only check (genuinely non-SQL-expressible
ops: LSH bucketing, streaming, multimodal plumbing).

Alignment rules (the driver hash-compares collected values after
sorting columns by name, order-insensitively):

- Every computed column is aliased identically on both sides.
- Integer-kind columns are cast so Spark/DuckDB widths agree
  (DuckDB ``year()``/``row_number()`` return BIGINT; Spark returns INT
  — the SQL side carries the cast).
- Timestamps are projected as ``epoch_us`` BIGINT (Spark
  ``unix_micros``) or ISO strings: never raw timestamp values, whose
  tz-awareness differs between the engines' client layers.
- Double aggregates are computed exactly: cast each term to DECIMAL
  before SUM (deterministic, order-independent) and cast the final
  result back to DOUBLE on both sides. Raw stored doubles (min/max,
  pass-through projections) compare exactly without this.
- NEGATIVE ZERO: a final ``round(x, k)`` whose input is a tiny
  negative double yields ``-0.0`` in DuckDB but ``+0.0`` in Spark
  (BigDecimal HALF_UP has no signed zero) — repr-sensitive hash
  compares then see different rows. Any rounded output column that
  can land exactly on zero must append ``+ 0.0`` on BOTH sides
  (see ``embedding_covariance_upper``, caught by the r7 sf0.01
  sweep).
- ROUNDING TIES: ``round(sum/count, k)`` diverges when the quotient
  lands exactly on a half at scale k (Spark HALF_UP on the double's
  exact expansion vs DuckDB's scaled-double round — the r7 sf0.1
  sweep hit one doc at 3.4144135). Remedy: keep per-term values as
  exact INTEGER micro-units (round(x*1e6) AS BIGINT), sum exactly,
  and emit the average as pure IEEE division with NO decimal round
  after the division (see ``quality_perplexity_bigram``).

Reference parity map (SURVEY.md §2): the driver's ``events`` table
stands in for the USGS events fact table — ``event_type = 'error'``
plays the ``tsunami = 1`` flag (F1), ``year(ts)``/``month(ts)`` play
the derived partition columns (P5/P6/F2), and the A1-A5 aggregation
shapes mirror /root/reference/usgs_tsunami_count_fact_silver.py:31-55,
116-124.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table


@dataclass(frozen=True)
class CatalogEntry:
    name: str
    spark_fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None  # DuckDB SQL; None => rows-only check
    headline: bool = False  # included in bench.py
    tags: tuple[str, ...] = field(default=())


CATALOG: dict[str, CatalogEntry] = {}


def register(
    name: str,
    oracle: str | None = None,
    headline: bool = False,
    tags: tuple[str, ...] = (),
):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        CATALOG[name] = CatalogEntry(name, fn, oracle, headline, tags)
        return fn

    return deco


# Driver-gate ordering: the driver records correctness rows for the
# FIRST ~50 names in queries() dict order, so ``DRIVER_WINDOW_FIRST``
# pins the front of the dict.  The tuple body is GENERATED by
# tools/gen_driver_window.py from the CORRECTNESS_r*.json history
# (never hand-edit): never-checked oracle entries lead in registration
# order, then every other oracle entry stalest-first; rows-only entries
# sort last.  Re-run the tool after registering a new oracle entry (or
# when a new correctness file lands) so it enters the window;
# tests/test_driver_window.py pins the result.
DRIVER_WINDOW_ROUNDS: tuple[int, ...] = (1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13)  # -- GENERATED: correctness rounds the rotation was computed from --
DRIVER_WINDOW_FIRST: tuple[str, ...] = (
    # -- BEGIN GENERATED (tools/gen_driver_window.py) --
    "dedup_resolve_clusters_lsh",
    "dedup_dup_spans",
    "dedup_dup_span_removal",
    "embedding_sq8_error_checked",
    "dedup_jaccard_threshold_sweep",
    "rag_maxsim_topk",
    "knn_graph_mutual",
    "embedding_jl_distortion_checked",
    "preference_bradley_terry_mm",
    "bloom_prefilter_semi_join",
    "dp_noisy_counts_by_type",
    "l_diversity_audit",
    "drift_ks_two_sample",
    "seasonal_decompose_weekly",
    "survival_kaplan_meier_daily",
    "anomaly_cusum_daily",
    "changepoint_binary_seg_daily",
    "trend_theil_sen_daily",
    "skyline_parts_per_brand",
    "curation_quality_score",
    "curation_corpus_pipeline_scored",
    "quality_median_by_source",
    "curation_gate_bitmask",
    "sample_quality_curriculum",
    "split_cluster_safe",
    "split_contamination_report",
    "feature_woe_value_bins",
    "mixture_token_budget_waterfill",
    "docs_chunk_cdc",
    "zorder_curve_events",
    "bpe_merge_pairs_top",
    "text_unigram_entropy",
    "mixture_js_divergence",
    "pearson_quantity_price",
    "quality_perplexity_bigram",
    "bpe_train_merges_k4",
    "bpe_encode_vocab_top",
    "vocab_zipf_alpha",
    "vocab_heaps_beta",
    "ngram_novelty_decile",
    "source_overlap_jaccard",
    "dedup_ngram_jaccard",
    "dedup_jaccard_prefix",
    "dedup_resolve_clusters",
    "ann_brute_force",
    "text_token_stats",
    "text_fingerprint",
    "text_lang_guess",
    "text_quality_filter",
    "multimodal_image_meta",
    "multimodal_frame_counts",
    "multimodal_resize_meta",
    "multimodal_image_features",
    "text_repetition_gopher",
    "text_redact_pii",
    "dedup_repeated_chunks",
    "embedding_pca_power_checked",
    "rag_eval_ndcg_bm25",
    "rag_eval_ranker_shootout",
    "lang_id_confusion_matrix",
    "lang_id_cohens_kappa",
    "embedding_label_centroid_dist",
    "attribution_time_decay",
    "er_blocking_quality",
    "k_anon_generalize_ladder",
    "rfm_user_segments",
    "drift_chi_square_type",
    "drift_mann_whitney_value",
    "trend_mann_kendall_daily",
    "forecast_holt_linear_daily",
    "changepoint_segmented_fit",
    "survival_km_by_type",
    "survival_logrank_purchase_vs_error",
    "survival_rmst_14d",
    "blocklist_phrase_audit",
    "quality_percentile_by_source",
    "curation_calibration_bins",
    "sample_weighted_reservoir",
    "gini_length_by_source",
    "tokenizer_fertility_by_lang",
    "diversity_distinct_ngrams",
    "dsir_importance_resample",
    "corpus_datasheet",
    "pack_bucketed_batching_waste",
    "tail_index_hill_length",
    "spatial_grid_heatmap",
    "spatial_dbscan_cores_250km",
    "spatial_dbscan_clusters",
    "vocab_good_turing_unseen",
    "vocab_pmi_collocations",
    "quality_kn_bigram_bits",
    "f1_flag_filter",
    "o1_sort_eventtime",
    "agg_minmax_by_type",
    "kmeans_refine_centroids",
    "near_dedup_keep_one",
    "unigram_logprob_quality",
    "rag_index_ivf_hashed",
    "embedding_pca_label_profile",
    "dedup_method_agreement",
    "pivot_event_counts",
    "string_funcs_customers",
    "date_funcs_orders",
    "salted_aggregate_by_type",
    "percentile_quantity",
    "agg_grouping_sets",
    "pandas_grouped_mad",
    "window_analytics_suite",
    "join_salted_skew",
    "bootstrap_mean_ci_value",
    "forecast_mase_holdout",
    "q4_priority_late_ship",
    "q9_profit_nation_year",
    "q13_customer_distribution",
    "q14_promo_revenue",
    "q18_large_volume_orders",
    "q19_disjunctive_revenue",
    "q22_idle_rich_customers",
    "window_rolling_revenue",
    "q8_market_share",
    "q11_part_value_concentration",
    "q15_top_supplier",
    "q16_supplier_diversity",
    "q17_small_quantity_revenue",
    "q20_excess_suppliers",
    "q21_waiting_orders",
    "conformal_quality_threshold",
    "sample_hash_10pct",
    "sample_stratified_events",
    "streaming_url_dedup",
    "url_canonicalize_dedup",
    "domain_doc_rollup_capped",
    "domain_blocklist_filter",
    "url_path_prefix_block",
    "geojson_flatten",
    "decontaminate_ngram_overlap",
    "dedup_incremental_new_batch",
    "corpus_shuffle_deterministic",
    "mixture_downsample_uniform",
    "dedup_normalized_text",
    "mixture_sqrt_temperature",
    "dedup_cluster_size_histogram",
    "embedding_l2_normalize_arrow",
    "multimodal_audio_stats",
    "agg_regression_per_type",
    "winsorize_value_stats",
    "audit_referential_integrity",
    "funnel_view_click_purchase",
    "orders_retention_cohort",
    "json_props_stats",
    "join_full_outer_click_purchase",
    "pagerank_supplier_influence",
    "lateral_top_spenders_per_nation",
    "variant_props_buckets",
    "unpivot_type_metrics",
    "pandas_udaf_weighted_mean",
    "spearman_quantity_price",
    "k_anonymity_audit",
    "asof_join_last_error",
    "range_join_error_purchase",
    "sessionize_gap_10min",
    "time_bucket_rollup_hourly",
    "session_window_builtin",
    "window_range_frame_30min",
    "asof_join_tolerance_10min",
    "timeseries_gapfill_locf",
    "twap_value_per_type",
    "q12_status_priority",
    "curation_corpus_pipeline",
    "profile_documents_table",
    "heavy_hitters_misra_gries",
    "split_train_val_test",
    "dp_discrete_geometric_counts",
    "streaming_daily_rollup",
    "streaming_conversion_join",
    "streaming_dedup_user_type",
    "streaming_left_outer_join",
    "streaming_static_enrich",
    "streaming_sessionize_gap",
    "split_leakage_safe_by_domain",
    "pack_sequences_2048",
    "tfidf_top_terms",
    "quality_stratified_filter",
    "docs_chunk_fixed",
    "token_budget_selection",
    "vocab_js_divergence_terms",
    "quality_quantile_normalize_by_source",
    "spatial_radius_join_100km",
    "spatial_nearest_purchase",
    "merge_upsert_customer_balance",
    "cdc_diff_user_value",
    "q1_pricing_summary",
    "q3_top_orders",
    "dedup_keep_best_in_cluster",
    "ann_ivf",
    "ann_ivf_probe_sweep",
    "ann_ivf_incremental_append",
    "dedup_minhash_lsh",
    "dedup_minhash_estimate_checked",
    "dedup_simhash",
    "dedup_embedding_cosine",
    "ann_ivf_fullprobe",
    "ann_lsh_bucketed",
    "embedding_norm_stats",
    "docs_length_histogram",
    "ann_pq_adc",
    "ann_ivf_pq",
    "dedup_semantic_semdedup",
    "hard_negative_mining",
    "setop_bag_semantics",
    "graph_triangle_count",
    "markov_event_transitions",
    "recursive_referral_depth",
    "pipe_syntax_error_hotspots",
    "try_arithmetic_safety",
    "hof_user_value_trend",
    "listagg_user_types",
    "agg_mode_median_per_user",
    "join_null_safe_eq",
    "window_ntile_quartiles",
    "setop_union_by_name_evolution",
    "ab_test_conversion_lift",
    "map_type_counts",
    "format_roundtrip_xml_csv",
    "format_roundtrip_orc",
    "crypto_roundtrip_aes",
    "fuzzy_part_name_pairs",
    "assoc_rules_event_pairs",
    "ab_test_cuped_adjustment",
    "benford_totalprice_audit",
    "drift_psi_value_bins",
    "sketch_join_cardinality_checked",
    "sample_nucleus_by_source",
    "mv_incremental_daily_rollup",
    "a1_count_year_filter",
    "a2_count_by_year",
    "a3_fact_yearly",
    "a4_fact_monthly",
    "a5_row_count",
    "f2_time_filter_daily",
    "o2_clustering_sort",
    "o4_limit_offset",
    "s6_projection",
    "q5_region_revenue",
    "q6_forecast_revenue",
    "q10_returned_revenue",
    "q2_cheapest_per_brand",
    "q7_volume_shipping",
    "join_semi_nations",
    "join_anti_customers",
    "window_topn_per_type",
    "distinct_users_by_type",
    "ann_ivf_persisted_index",
    "multimodal_video_meta",
    "text_compression_ratio",
    "source_ncd_matrix",
    "ab_test_jackknife_buckets",
    "new_vs_returning_daily",
    "events_since_last_purchase",
    "attribution_first_last_touch",
    "dq_quarantine_events",
    "churn_inactive_users",
    "session_conversion_rate",
    "ewma_daily_value_recursive",
    "scd2_user_type_history",
    "sliding_window_counts",
    "sketch_distinct_users",
    "sketch_value_quantiles",
    "sketch_point_freq_cms",
    "sketch_hll_union_daily",
    "sketch_approx_topk_types",
    "dq_validate_events",
    "bitmap_distinct_users_daily",
    "sketch_histogram_numeric",
    "sketch_hll_distinct_checked",
    "sketch_cms_freq_checked",
    "sketch_quantiles_checked",
    "weighted_sample_by_length",
    "cap_docs_per_source",
    "kfold_assignment",
    "streaming_full_outer_join",
    "streaming_left_semi_join",
    "streaming_sliding_rollup",
    "streaming_anti_blocklist",
    "agg_rollup_by_type",
    "setop_except_users",
    "dedup_exact_fingerprint",
    "dedup_latest_per_user",
    "dedup_components_two_phase",
    "ann_ivf_delete_compact",
    "dedup_minhash_checked",
    "dedup_simhash_checked",
    "multimodal_image_dims",
    "multimodal_image_dims_legacy",
    "multimodal_audio_flac_meta",
    "ann_pq_adc_checked",
    "ann_ivf_pq_fullprobe",
    "dedup_semdedup_exact",
    "rag_index_ivf_fullprobe",
    "dedup_embedding_cosine_exact",
    "ann_lsh_fullprobe",
    "decontaminate_embedding_cosine",
    "pack_sequences_ctx4k",
    "rag_bm25_topk",
    "vocab_top_terms_coverage",
    "rag_hybrid_rrf",
    "dedup_sorted_neighborhood",
    "embedding_covariance_upper",
    "dedup_snm_multipass",
    "dedup_containment_excerpts",
    "embedding_matryoshka_fidelity",
    "als_implicit_rank2_step",
    "setop_union_counts",
    "setop_intersect_users",
    "agg_cube_type_day",
    "agg_having_hot_users",
    "subquery_scalar_acctbal",
    "subquery_exists_orders",
    "join_full_outer_nation_profile",
    "skew_hot_key_rollup",
    "pit_join_state_at_purchase",
    "acf_daily_value_lags",
    "anomaly_zscore_daily",
    "sketch_hll_union_checked",
    "sketch_histogram_checked",
    "sketch_theta_setops_checked",
    "target_encode_kfold",
    "streaming_mv_incremental_fold",
    "streaming_theta_daily",
    "decontaminate_substring",
    "mixture_temperature_sample",
    "merge_upsert_last_wins",
    "mv_join_incremental",
    "source_overlap_theta_checked",
    # -- END GENERATED --
)


def _driver_order() -> list[str]:
    prio = {n: i for i, n in enumerate(DRIVER_WINDOW_FIRST)}
    names = list(CATALOG)
    reg = {n: i for i, n in enumerate(names)}

    def key(name: str):
        if name in prio:
            return (0, prio[name])
        if CATALOG[name].oracle is not None:
            return (1, reg[name])
        return (2, reg[name])

    return sorted(names, key=key)


def query_map() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: CATALOG[name].spark_fn for name in _driver_order()}


def oracle_map() -> dict[str, str]:
    return {
        name: CATALOG[name].oracle
        for name in _driver_order()
        if CATALOG[name].oracle is not None
    }


# helper: exact, order-independent SUM over doubles (see module docstring)
def _dsum(col, scale: int = 2):
    return F.sum(col.cast(f"decimal(18,{scale})")).cast("double")


def _sort_bounded(df: DataFrame, *cols) -> DataFrame:
    """ORDER BY for a key-bounded aggregate: one task sorts it, with no
    range-sampling job and no range shuffle.

    Use it only on an aggregate whose row count is bounded by the fixed
    domain of its group keys (flags, statuses, date parts, the 25
    nations or 5 regions), never by the input, and whose final
    aggregate is fed by an exchange. ``coalesce`` is narrow, so only
    the final aggregate's stage, after that exchange, collapses to one
    task; the scan and the partial aggregate keep their parallelism at
    any scale."""
    return df.coalesce(1).sortWithinPartitions(*cols)


# ---------------------------------------------------------------------------
# Reference parity: aggregations A1-A5
# (/root/reference/usgs_tsunami_count_fact_silver.py:31-55,116-124)
# ---------------------------------------------------------------------------


@register(
    "a1_count_year_filter",
    oracle="SELECT count(*) AS cnt FROM events WHERE year(ts) = 2024",
    headline=True,
    tags=("parity", "A1"),
)
def a1_count_year_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: ungrouped count under a year-equality filter (partition-prunable)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.filter(F.year("ts") == 2024).agg(F.count("*").alias("cnt"))


@register(
    "a2_count_by_year",
    oracle=(
        "SELECT CAST(year(ts) AS INT) AS year, count(*) AS cnt "
        "FROM events GROUP BY 1 ORDER BY 1"
    ),
    tags=("parity", "A2"),
)
def a2_count_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: count grouped by derived year."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.year("ts").alias("year"))
        .agg(F.count("*").alias("cnt"))
        .transform(_sort_bounded, "year")
    )


@register(
    "a3_fact_yearly",
    oracle=(
        "SELECT CAST(year(ts) AS INT) AS year, count(*) AS yearly_count "
        "FROM events WHERE event_type = 'error' GROUP BY 1 ORDER BY 1"
    ),
    headline=True,
    tags=("parity", "A3"),
)
def a3_fact_yearly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: the yearly 'tsunami' fact — flag filter + year group + count.

    Mirrors fact_tsunami_yearly
    (/root/reference/usgs_tsunami_count_fact_silver.py:47-55).
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type") == "error")
        .groupBy(F.year("ts").alias("year"))
        .agg(F.count("*").alias("yearly_count"))
        .transform(_sort_bounded, "year")
    )


@register(
    "a4_fact_monthly",
    oracle=(
        "SELECT CAST(year(ts) AS INT) AS year, CAST(month(ts) AS INT) AS month, "
        "count(*) AS monthly_count "
        "FROM events WHERE event_type = 'error' GROUP BY 1, 2 ORDER BY 1, 2"
    ),
    headline=True,
    tags=("parity", "A4", "O3"),
)
def a4_fact_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/O3: the monthly 'tsunami' fact with result ORDER BY.

    Mirrors fact_tsunami_monthly
    (/root/reference/usgs_tsunami_count_fact_silver.py:116-124).
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type") == "error")
        .groupBy(F.year("ts").alias("year"), F.month("ts").alias("month"))
        .agg(F.count("*").alias("monthly_count"))
        .transform(_sort_bounded, "year", "month")
    )


@register(
    "a5_row_count",
    oracle="SELECT count(*) AS cnt FROM events",
    tags=("parity", "A5"),
)
def a5_row_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: bare row count."""
    ev = load_table(spark, sf_dir, "events")
    return ev.agg(F.count("*").alias("cnt"))


# ---------------------------------------------------------------------------
# Reference parity: filters F1/F2, sorts O1/O2/O4, projection S6
# ---------------------------------------------------------------------------


@register(
    "f1_flag_filter",
    oracle=(
        "SELECT event_id, user_id, epoch_us(ts) AS ts_us, value, props "
        "FROM events WHERE event_type = 'error'"
    ),
    tags=("parity", "F1"),
)
def f1_flag_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1: equality filter on the flag column, full-row projection.

    Mirrors WHERE tsunami = 1
    (/root/reference/usgs_tsunami_count_fact_silver.py:52).
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us"), "value", "props"
    )


@register(
    "f2_time_filter_daily",
    oracle=(
        "SELECT CAST(day(ts) AS INT) AS day, count(*) AS cnt FROM events "
        "WHERE year(ts) = 2024 AND month(ts) = 1 AND day(ts) <= 7 "
        "GROUP BY 1 ORDER BY 1"
    ),
    tags=("parity", "F2"),
)
def f2_time_filter_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2: filter on the derived partition columns (year, month) —
    the predicate Catalyst prunes to matching partitions on a
    partitioned layout (mirrors WHERE year=2010,
    /root/reference/usgs_duckdb_s3.py:96-97)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter(
            (F.year("ts") == 2024) & (F.month("ts") == 1) & (F.dayofmonth("ts") <= 7)
        )
        .groupBy(F.dayofmonth("ts").alias("day"))
        .agg(F.count("*").alias("cnt"))
        .transform(_sort_bounded, "day")
    )


@register(
    "o1_sort_eventtime",
    oracle=(
        "SELECT event_id, epoch_us(ts) AS ts_us FROM events "
        "ORDER BY ts, event_id LIMIT 100"
    ),
    tags=("parity", "O1"),
)
def o1_sort_eventtime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1: single-column time sort (+ unique tie-break), top 100.

    Mirrors dataframe.sort(["eventtime"])
    (/root/reference/usgs-earthquake-data-ingest-dynamic-dev.py:289).
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.orderBy("ts", "event_id")
        .select("event_id", F.unix_micros("ts").alias("ts_us"))
        .limit(100)
    )


@register(
    "o2_clustering_sort",
    oracle=(
        "SELECT event_id, event_type, value FROM events "
        "ORDER BY event_type, value DESC, event_id LIMIT 100"
    ),
    tags=("parity", "O2"),
)
def o2_clustering_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2: multi-column clustering sort (the reference's 'z-order'
    proxy, /root/reference/usgs-earthquake-data-ingest-dynamic-dev.py:290-292)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.orderBy(F.col("event_type"), F.col("value").desc(), F.col("event_id"))
        .select("event_id", "event_type", "value")
        .limit(100)
    )


@register(
    "o4_limit_offset",
    oracle=(
        "SELECT event_id, user_id, event_type FROM events "
        "ORDER BY event_id LIMIT 100 OFFSET 500"
    ),
    tags=("parity", "O4"),
)
def o4_limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4: LIMIT/OFFSET pagination (the reference pages the REST source
    this way; relationally it's offset+limit,
    /root/reference/usgs-earthquake-data-ingestion-prod.py:392-437)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.orderBy("event_id")
        .select("event_id", "user_id", "event_type")
        .offset(500)
        .limit(100)
    )


@register(
    "s6_projection",
    oracle="SELECT l_orderkey, l_quantity, l_extendedprice FROM lineitem",
    headline=True,
    tags=("parity", "S6"),
)
def s6_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6: explicit column projection — Catalyst prunes the parquet
    scan to exactly these columns (mirrors pl.read_delta(columns=[...]),
    /root/reference/usgs_read_polars.py:47-60)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select("l_orderkey", "l_quantity", "l_extendedprice")


# ---------------------------------------------------------------------------
# Beyond-parity relational coverage: joins, windows, distinct, set ops,
# rollup. The reference has none of these (SURVEY.md §2.4/2.6/2.8); the
# engine gets them from Spark and they must hold at 100 TB: dims are
# broadcast, facts shuffle on join keys only.
# ---------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    oracle=(
        "SELECT l_returnflag, l_linestatus, "
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, "
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price, "
        "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)"
        " AS sum_disc_price, "
        "count(*) AS count_order "
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02' "
        "GROUP BY 1, 2 ORDER BY 1, 2"
    ),
    headline=True,
    tags=("tpch", "agg"),
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped pricing summary: scan-heavy partial-agg
    benchmark. Map-side combine makes the shuffle 6 rows regardless of
    input scale."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(F.col("l_quantity")).alias("sum_qty"),
            _dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            _dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), scale=4
            ).alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
        .transform(_sort_bounded, "l_returnflag", "l_linestatus")
    )


@register(
    "q3_top_orders",
    oracle=(
        "SELECT o_orderkey, "
        "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)"
        " AS revenue "
        "FROM customer JOIN orders ON c_custkey = o_custkey "
        "JOIN lineitem ON l_orderkey = o_orderkey "
        "WHERE c_mktsegment = 'BUILDING' "
        "AND o_orderdate < TIMESTAMP '1998-01-01' "
        "AND l_shipdate > TIMESTAMP '1998-01-01' "
        "GROUP BY 1 ORDER BY revenue DESC, o_orderkey LIMIT 10"
    ),
    headline=True,
    tags=("tpch", "join", "topk"),
)
def q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3-shaped top-k revenue. No forced broadcasts: customer
    scales with SF, so the segment-filtered customer side and the
    lineitem⋈orders fact-fact join are both left to AQE — at bench
    scale both convert to runtime broadcasts, at 100 TB they degrade
    gracefully to shuffle joins on the join keys instead of OOMing a
    forced broadcast. Top-10 compiles to TakeOrderedAndProject (no
    global sort materialization)."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey")
        .agg(
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), scale=4).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), "o_orderkey")
        .limit(10)
    )


@register(
    "q5_region_revenue",
    oracle=(
        "SELECT r_name, "
        "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)"
        " AS revenue "
        "FROM region JOIN nation ON n_regionkey = r_regionkey "
        "JOIN customer ON c_nationkey = n_nationkey "
        "JOIN orders ON o_custkey = c_custkey "
        "JOIN lineitem ON l_orderkey = o_orderkey "
        "WHERE o_orderdate >= TIMESTAMP '1997-01-01' "
        "AND o_orderdate < TIMESTAMP '1998-01-01' "
        "GROUP BY 1 ORDER BY 1"
    ),
    headline=True,
    tags=("tpch", "join"),
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5-shaped star join. The provably-small dims
    (nation/region: fixed 25/5 rows) are broadcast into customer; the
    customer-scaled (c_custkey, r_name) side is deliberately NOT
    broadcast-hinted — |customer| grows with SF (TPC-H: 150k x SF), so
    a forced broadcast is a driver/executor OOM at the 100 TB design
    point. AQE sizes it at runtime: broadcast at bench scale, graceful
    shuffle-hash/sort-merge on the join key at scale. Fact-fact
    (orders⋈lineitem) shuffles on the join key."""
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    dims = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), F.col("n_regionkey") == region.r_regionkey)
        .select("c_custkey", "r_name")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(dims, orders.o_custkey == F.col("c_custkey"))
        .groupBy("r_name")
        .agg(
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), scale=4).alias(
                "revenue"
            )
        )
        .transform(_sort_bounded, "r_name")
    )


@register(
    "q6_forecast_revenue",
    oracle=(
        "SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) "
        "AS DOUBLE) AS revenue, count(*) AS n "
        "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01' "
        "AND l_shipdate < TIMESTAMP '1998-01-01' "
        "AND l_discount BETWEEN 0.02 AND 0.04 AND l_quantity < 24"
    ),
    tags=("tpch", "agg"),
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q6-shaped forecast revenue: pure scan + multi-predicate
    filter + ungrouped sum — every predicate pushes to the parquet
    scan, zero shuffles beyond the final single-row agg."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.02, 0.04)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            _dsum(F.col("l_extendedprice") * F.col("l_discount"), scale=4).alias(
                "revenue"
            ),
            F.count("*").alias("n"),
        )
    )


@register(
    "q10_returned_revenue",
    oracle=(
        "SELECT c_custkey, c_name, "
        "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) "
        "AS DOUBLE) AS revenue "
        "FROM customer JOIN orders ON c_custkey = o_custkey "
        "JOIN lineitem ON l_orderkey = o_orderkey "
        "WHERE l_returnflag = 'R' "
        "AND o_orderdate >= TIMESTAMP '1997-01-01' "
        "AND o_orderdate < TIMESTAMP '1997-07-01' "
        "GROUP BY 1, 2 ORDER BY revenue DESC, c_custkey LIMIT 20"
    ),
    tags=("tpch", "join", "topk"),
)
def q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q10-shaped returned-item report: top-20 customers by
    returned revenue in a quarter. Customer scales with SF, so its
    join carries no broadcast hint — AQE broadcasts it at bench scale
    and falls back to a key shuffle at 100 TB."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), scale=4).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@register(
    "q2_cheapest_per_brand",
    oracle=(
        "SELECT p_partkey, p_brand, p_retailprice FROM part p "
        "WHERE p_retailprice = (SELECT min(p2.p_retailprice) FROM part p2 "
        "WHERE p2.p_brand = p.p_brand) ORDER BY p_brand, p_partkey"
    ),
    tags=("tpch", "subquery", "window"),
)
def q2_cheapest_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q2-shaped correlated-min: parts priced at their brand's
    minimum. The correlated subquery is expressed as a min-over-window
    — one shuffle on the correlation key instead of a re-scan per
    row."""
    part = load_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand")
    return (
        part.withColumn("__min_price", F.min("p_retailprice").over(w))
        .filter(F.col("p_retailprice") == F.col("__min_price"))
        .select("p_partkey", "p_brand", "p_retailprice")
        .orderBy("p_brand", "p_partkey")
    )


@register(
    "q7_volume_shipping",
    oracle=(
        "SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, "
        "CAST(year(l_shipdate) AS INT) AS l_year, "
        "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) "
        "AS DOUBLE) AS revenue "
        "FROM lineitem "
        "JOIN supplier ON s_suppkey = l_suppkey "
        "JOIN orders ON o_orderkey = l_orderkey "
        "JOIN customer ON c_custkey = o_custkey "
        "JOIN nation n1 ON n1.n_nationkey = s_nationkey "
        "JOIN nation n2 ON n2.n_nationkey = c_nationkey "
        "WHERE n1.n_name IN ('NATION_0', 'NATION_1') "
        "AND n2.n_name IN ('NATION_2', 'NATION_3') "
        "GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"
    ),
    tags=("tpch", "join"),
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q7-shaped nation-pair trade volume: the fact joins both a
    supplier-side and a customer-side dimension chain. Only the
    fixed-size nation slices carry broadcast hints; supplier/customer
    scale with SF, so their joins are left to AQE (runtime broadcast
    at bench scale, key shuffle at 100 TB). The only mandatory shuffle
    partners lineitem with orders."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.filter(F.col("n_name").isin("NATION_0", "NATION_1")).select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.filter(F.col("n_name").isin("NATION_2", "NATION_3")).select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    supp_dim = supp.join(F.broadcast(n1), supp.s_nationkey == F.col("n1_key")).select(
        "s_suppkey", "supp_nation"
    )
    cust_dim = cust.join(F.broadcast(n2), cust.c_nationkey == F.col("n2_key")).select(
        "c_custkey", "cust_nation"
    )
    return (
        li.join(supp_dim, li.l_suppkey == F.col("s_suppkey"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust_dim, orders.o_custkey == F.col("c_custkey"))
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), scale=4).alias(
                "revenue"
            )
        )
        .transform(_sort_bounded, "supp_nation", "cust_nation", "l_year")
    )


@register(
    "join_semi_nations",
    oracle=(
        "SELECT n_nationkey, n_name FROM nation "
        "WHERE n_nationkey IN "
        "(SELECT s_nationkey FROM supplier WHERE s_acctbal > 4000) "
        "ORDER BY n_nationkey"
    ),
    tags=("join", "semi"),
)
def join_semi_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: nations having a well-funded supplier."""
    nation = load_table(spark, sf_dir, "nation")
    supp = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > 4000)
    return (
        nation.join(
            F.broadcast(supp), nation.n_nationkey == supp.s_nationkey, "left_semi"
        )
        .select("n_nationkey", "n_name")
        .orderBy("n_nationkey")
    )


@register(
    "join_anti_customers",
    oracle=(
        "SELECT c_custkey FROM customer c WHERE NOT EXISTS "
        "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey "
        "AND o.o_orderdate < TIMESTAMP '1996-01-01')"
    ),
    tags=("join", "anti"),
)
def join_anti_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers with no orders before 1996."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp")
    )
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey")


@register(
    "window_topn_per_type",
    oracle=(
        "SELECT event_type, event_id, value, rn FROM ("
        "SELECT event_type, event_id, value, "
        "CAST(row_number() OVER "
        "(PARTITION BY event_type ORDER BY value DESC, event_id) AS INT) AS rn "
        "FROM events) t WHERE rn <= 3 ORDER BY event_type, rn"
    ),
    tags=("window", "topk"),
)
def window_topn_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window: top-3 events by value per type. One shuffle on
    the partition key; no global sort."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("event_type", "event_id", "value", "rn")
        .orderBy("event_type", "rn")
    )


@register(
    "distinct_users_by_type",
    oracle=(
        "SELECT event_type, count(DISTINCT user_id) AS n_users, "
        "count(*) AS n_events FROM events GROUP BY 1 ORDER BY 1"
    ),
    tags=("agg", "distinct"),
)
def distinct_users_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT DISTINCT alongside a plain count (expand + two-phase agg)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count("*").alias("n_events"),
        )
        .transform(_sort_bounded, "event_type")
    )


@register(
    "agg_minmax_by_type",
    oracle=(
        "SELECT event_type, min(value) AS min_value, max(value) AS max_value, "
        "min(epoch_us(ts)) AS first_ts_us, max(epoch_us(ts)) AS last_ts_us "
        "FROM events GROUP BY 1 ORDER BY 1"
    ),
    tags=("agg",),
)
def agg_minmax_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min/max aggregates (exact on stored doubles — no FP-order risk)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            F.min(F.unix_micros("ts")).alias("first_ts_us"),
            F.max(F.unix_micros("ts")).alias("last_ts_us"),
        )
        .transform(_sort_bounded, "event_type")
    )


@register(
    "agg_rollup_by_type",
    oracle=(
        "SELECT event_type, count(*) AS cnt FROM events "
        "GROUP BY ROLLUP(event_type) ORDER BY event_type NULLS FIRST"
    ),
    tags=("agg", "rollup"),
)
def agg_rollup_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping set: per-type counts plus the grand total."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.rollup("event_type")
        .agg(F.count("*").alias("cnt"))
        .transform(_sort_bounded, F.col("event_type").asc_nulls_first())
    )


@register(
    "setop_except_users",
    oracle=(
        "SELECT DISTINCT user_id FROM events "
        "WHERE event_type = 'click' AND value > 400 "
        "EXCEPT "
        "SELECT DISTINCT user_id FROM events "
        "WHERE event_type = 'purchase' AND value > 400"
    ),
    tags=("setop",),
)
def setop_except_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT set operation: high-value clickers who never made a
    high-value purchase."""
    ev = load_table(spark, sf_dir, "events")
    clickers = (
        ev.filter((F.col("event_type") == "click") & (F.col("value") > 400))
        .select("user_id")
        .distinct()
    )
    purchasers = (
        ev.filter((F.col("event_type") == "purchase") & (F.col("value") > 400))
        .select("user_id")
        .distinct()
    )
    return clickers.subtract(purchasers)
