"""Plan-shape regression tests: the physical plans the engine must
keep producing at any scale — pushed filters, pruned scans, broadcast
dims, no accidental cartesian products."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from usgs_earthquake_data_pipeline_spark.plans.catalog import CATALOG
from usgs_earthquake_data_pipeline_spark.operators.skew import (
    salted_aggregate,
    salted_join,
)
from usgs_earthquake_data_pipeline_spark.sources.tables import load_table
from quakebench.catalog_headline import HEADLINERS


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


#: queries that intentionally contain a (bounded, broadcast) cross join
_CROSS_OK: set[str] = set()


@pytest.mark.parametrize(
    "name",
    [e.name for e in CATALOG.values() if e.oracle is not None],
)
def test_no_accidental_cartesian(name, spark, sf_dir):
    if name in _CROSS_OK:
        pytest.skip("intentional broadcast cross join (bounded query side)")
    plan = _plan(CATALOG[name].spark_fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, name


def test_warm_headliner_planning_launches_no_job(spark, sf_dir):
    """Building a catalog_headline entry's plan (no action) over table
    files already loaded once launches no Spark job: the loader serves
    each file's memoized schema instead of re-running footer inference
    (one job per table reference, 10 over these 8 entries, without it)."""
    for name in HEADLINERS:
        CATALOG[name].spark_fn(spark, sf_dir)
    sc = spark.sparkContext
    sc.setJobGroup("warm_headliner_plans", "warm_headliner_plans")
    try:
        for name in HEADLINERS:
            CATALOG[name].spark_fn(spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert sc.statusTracker().getJobIdsForGroup("warm_headliner_plans") == []


#: warm noop-forced Spark jobs per catalog_headline entry; each AQE
#: query stage is its own job (q1: the partial-aggregate map stage and
#: the one-task final aggregate + sort)
_HEADLINER_JOBS = {
    "a1_count_year_filter": 2,
    "a3_fact_yearly": 2,
    "a4_fact_monthly": 2,
    "s6_projection": 1,
    "q1_pricing_summary": 2,
    "q3_top_orders": 4,
    "dedup_exact_fingerprint": 2,
    "text_token_stats": 1,
}


def test_headliner_job_budget(spark, sf_dir):
    """A warm noop force of each catalog_headline entry, in its own job
    group, launches exactly its budgeted jobs: 16 per pass."""
    assert set(_HEADLINER_JOBS) == set(HEADLINERS)
    sc = spark.sparkContext
    got = {}
    for name in HEADLINERS:
        fn = CATALOG[name].spark_fn
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        group = f"headliner_jobs_{name}"
        sc.setJobGroup(group, group)
        try:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        got[name] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert got == _HEADLINER_JOBS
    assert sum(got.values()) == 16


#: entries ordered by ``catalog._sort_bounded``: key-bounded aggregates
_SORT_BOUNDED = (
    "a2_count_by_year",
    "a3_fact_yearly",
    "a4_fact_monthly",
    "f2_time_filter_daily",
    "q1_pricing_summary",
    "q5_region_revenue",
    "q7_volume_shipping",
    "distinct_users_by_type",
    "agg_minmax_by_type",
    "agg_rollup_by_type",
    "q4_priority_late_ship",
    "q8_market_share",
    "q9_profit_nation_year",
    "q12_status_priority",
    "q22_idle_rich_customers",
)


def _nodes(plan):
    """Pre-order walk of a JVM SparkPlan."""
    yield plan
    children = plan.children()
    for i in range(children.size()):
        yield from _nodes(children.apply(i))


@pytest.mark.parametrize("name", _SORT_BOUNDED)
def test_sort_bounded_entries_sort_without_range_exchange(name, spark, sf_dir):
    """A key-bounded aggregate is sorted in one task: no range
    partitioning anywhere in its plan, and its final aggregate reads an
    exchange, so the one-task coalesce never reaches a join or scan
    stage."""
    plan = CATALOG[name].spark_fn(spark, sf_dir)._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    assert "rangepartitioning" not in plan.toString()
    final_agg = next(p for p in _nodes(plan) if p.nodeName() == "HashAggregate")
    assert final_agg.children().apply(0).nodeName() == "Exchange", name


def test_q1_filter_pushed_and_columns_pruned(spark, sf_dir):
    plan = _plan(CATALOG["q1_pricing_summary"].spark_fn(spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # scan must read only the 6 needed columns, not all 11
    assert "l_comment" not in plan
    read = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "l_returnflag" in read and "l_orderkey" not in read


def test_q5_dims_broadcast(spark, sf_dir):
    """nation/region broadcast statically (hinted, fixed-size); the
    unhinted customer-scaled side converts to a runtime broadcast via
    AQE at this scale — assert on the FINAL adaptive plan, post-run."""
    df = CATALOG["q5_region_revenue"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 2  # nation + region hints
    df.collect()
    final = _plan(df)
    assert "isFinalPlan=true" in final
    # the adaptive toString appends the initial plan; judge the final only
    final = final.split("== Initial Plan ==", 1)[0]
    assert final.count("BroadcastHashJoin") >= 3  # AQE converted custkey
    assert "SortMergeJoin" not in final  # nothing stays shuffled at test scale


def test_q5_customer_join_degrades_without_broadcast(spark, sf_dir):
    """The customer-scaled (c_custkey, r_name) side must NOT be
    broadcast-hinted: |customer| grows with SF, so at 100 TB a forced
    broadcast OOMs. With the auto-broadcast threshold forced to -1
    (simulating 'too big to broadcast'), the custkey join has to
    degrade to a shuffle join; only the hinted fixed-size nation and
    region dims may still broadcast. A reintroduced F.broadcast(dims)
    would keep a BroadcastHashJoin on c_custkey here and fail."""
    keys_ = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    old = {}
    for key in keys_:
        try:
            old[key] = spark.conf.get(key)
        except Exception:
            old[key] = None
        spark.conf.set(key, "-1")
    try:
        plan = _plan(CATALOG["q5_region_revenue"].spark_fn(spark, sf_dir))
    finally:
        for key, value in old.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)
    # custkey join must fall back to a shuffle strategy…
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
    # …and no BroadcastHashJoin may key on the customer join column.
    import re

    for m in re.finditer(r"BroadcastHashJoin \[([^\]]*)\]", plan):
        assert "c_custkey" not in m.group(1), (
            f"customer-scaled side still force-broadcast: {m.group(0)}"
        )


def test_s6_reads_exactly_three_columns(spark, sf_dir):
    plan = _plan(CATALOG["s6_projection"].spark_fn(spark, sf_dir))
    read = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert read.count(":") == 3  # three fields in the struct


def test_lsh_join_is_hash_not_cartesian(spark, sf_dir):
    # the raw production operator: since round 11 the CATALOG entry
    # bundles its accuracy-contract verification joins (the exact-pair
    # anti-join), so plan-shape assertions target the operator itself
    from usgs_earthquake_data_pipeline_spark.operators.dedup import (
        minhash_lsh_pairs,
    )
    from usgs_earthquake_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = _plan(minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.3))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_brute_force_ann_shuffles_candidates_not_pairs(spark, sf_dir):
    """Exact ANN must not materialize |queries|x|corpus| pairs: the
    corpus is scored by one Arrow-batched MapInPandas emitting
    per-batch top-k, and the only hash exchange is the final exact
    ranking on query_id (round-2 review: the previous plan shuffled
    every scored pair through that window)."""
    plan = _plan(CATALOG["ann_brute_force"].spark_fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "MapInPandas" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_ivf_corpus_assignment_does_not_shuffle(spark, sf_dir):
    """IVF list assignment must be a pure projection: the corpus is
    never hash-partitioned on its own id (round-2 review finding); the
    only hash exchange in the whole plan is the final top-k window on
    query_id."""
    # raw operator (the round-11 CATALOG entry adds verification joins)
    from pyspark.sql import functions as F

    from usgs_earthquake_data_pipeline_spark.operators.similarity import (
        ivf_topk,
    )
    from usgs_earthquake_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    plan = _plan(ivf_topk(emb, queries, k=5, n_lists=16, n_probe=4))
    assert "hashpartitioning(vec_id" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_ivf_fullprobe_keeps_ivf_plan_shape(spark, sf_dir):
    """The oracle-gated full-probe entry must certify the IVF
    MACHINERY, not silently degenerate: corpus never hash-partitioned
    on its own id, assignment stays a projection, and the only hash
    exchange is the final top-k window on query_id."""
    plan = _plan(CATALOG["ann_ivf_fullprobe"].spark_fn(spark, sf_dir))
    assert "hashpartitioning(vec_id" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_substring_decontamination_broadcasts_needles(spark, sf_dir):
    """Exact-substring decontamination must be a broadcast hash join
    on the gram hash — the corpus posting list never shuffles to meet
    the needle set, and nothing nested-loops over text."""
    plan = _plan(CATALOG["decontaminate_substring"].spark_fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    # the posting side must not be exchanged to reach the join: the
    # only hash exchanges are the two-phase countDistinct on doc_id
    # (never on the gram hash g)
    assert plan.count("Exchange hashpartitioning") == 2
    assert "hashpartitioning(g#" not in plan


def test_salted_aggregate_matches_plain(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    plain = {
        (r.event_type, r.n)
        for r in ev.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    salted = {
        (r.event_type, r.n)
        for r in salted_aggregate(
            ev, ["event_type"], {"n": ("count", "event_id")}, salt_col="event_id"
        ).collect()
    }
    assert salted == plain


def test_salted_join_matches_plain(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    users = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_total"))
    )
    plain = set(
        (r.event_id, r.n_total) for r in ev.join(users, "user_id").collect()
    )
    salted = set(
        (r.event_id, r.n_total)
        for r in salted_join(ev, users, "user_id", n_salts=4).collect()
    )
    assert salted == plain


def test_salted_aggregate_rejects_non_algebraic(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    with pytest.raises(ValueError, match="non-algebraic"):
        salted_aggregate(ev, ["event_type"], {"a": ("avg", "value")})


def test_repetition_signals_are_zero_shuffle(spark, sf_dir):
    """The Gopher repetition stats and the PII scrub must stay pure
    projections — any Exchange here means n-gram work stopped
    pipelining with the scan."""
    for name in ("text_repetition_gopher", "text_redact_pii"):
        plan = _plan(CATALOG[name].spark_fn(spark, sf_dir))
        assert "Exchange" not in plan, name
        assert "Generate" not in plan, name  # no explode either


def test_kmeans_exchanges_bounded_by_k(spark, sf_dir):
    """Two Lloyd rounds must cost two k-bounded aggregation exchanges;
    the corpus itself is never hash-partitioned (assignment is the
    broadcast-argmin expression, not a join/window on corpus rows)."""
    plan = _plan(CATALOG["kmeans_refine_centroids"].spark_fn(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 2
    assert "hashpartitioning(id" not in plan
    assert "SortMergeJoin" not in plan


def test_decontaminate_benchmark_side_broadcasts(spark, sf_dir):
    """The benchmark n-gram set must broadcast — the training corpus
    may never shuffle its shingles to meet it."""
    plan = _plan(
        CATALOG["decontaminate_ngram_overlap"].spark_fn(spark, sf_dir)
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_incremental_dedup_is_anti_join(spark, sf_dir):
    plan = _plan(
        CATALOG["dedup_incremental_new_batch"].spark_fn(spark, sf_dir)
    )
    assert "LeftAnti" in plan


def test_corpus_shuffle_sorts_per_shard_not_globally(spark, sf_dir):
    """The epoch shuffle must be N independent shard-local sorts (hash
    exchange on shard), not one global range sort of the corpus. The
    only rangepartitioning allowed is the final result ORDER BY."""
    plan = _plan(
        CATALOG["corpus_shuffle_deterministic"].spark_fn(spark, sf_dir)
    )
    assert "hashpartitioning(shard" in plan
    assert "Exchange SinglePartition" not in plan


def test_pack_sequences_window_is_partitioned(spark, sf_dir):
    """Sequence packing must use the two-level cumsum: the corpus-wide
    window hash-partitions on range_id; only the tiny per-range totals
    may pass through a single-partition exchange; offsets come back
    via broadcast."""
    plan = _plan(CATALOG["pack_sequences_2048"].spark_fn(spark, sf_dir))
    assert "hashpartitioning(range_id" in plan
    assert "BroadcastHashJoin" in plan
    # exactly one single-partition exchange: the |ranges|-row offsets
    # window (the final ORDER BY compiles to rangepartitioning)
    assert plan.count("Exchange SinglePartition") == 1


def test_mixture_rate_table_broadcasts(spark, sf_dir):
    """Per-source acceptance rates are a |sources|-row table: they
    broadcast back onto the scan; the corpus never shuffles to join
    them."""
    plan = _plan(
        CATALOG["mixture_downsample_uniform"].spark_fn(spark, sf_dir)
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_length_histogram_prunes_to_n_chars(spark, sf_dir):
    """The histogram must never read text: ReadSchema is exactly the
    one bigint column. Another test module caches the documents table
    session-wide, which would substitute an InMemoryRelation for the
    file scan and hide the pruning — clear it so the assertion sees
    the real scan."""
    spark.catalog.clearCache()
    plan = _plan(CATALOG["docs_length_histogram"].spark_fn(spark, sf_dir))
    read = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "struct<n_chars:bigint>" in read


def test_prefix_jaccard_posting_join_is_hash(spark, sf_dir):
    """The prefix posting self-join must stay an equi-join on the
    shingle hash; verification joins are id-keyed — nothing quadratic,
    nothing nested-loop."""
    plan = _plan(CATALOG["dedup_jaccard_prefix"].spark_fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_unigram_freq_join_not_nested_loop(spark, sf_dir):
    """The token->frequency join is an equi-join; the only nested-loop
    allowed is the 1-row global-count broadcast."""
    plan = _plan(CATALOG["unigram_logprob_quality"].spark_fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_audit_orphan_checks_are_anti_joins(spark, sf_dir):
    plan = _plan(
        CATALOG["audit_referential_integrity"].spark_fn(spark, sf_dir)
    )
    assert plan.count("LeftAnti") == 3
    assert "CartesianProduct" not in plan


def test_funnel_steps_are_equi_joins(spark, sf_dir):
    plan = _plan(
        CATALOG["funnel_view_click_purchase"].spark_fn(spark, sf_dir)
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pq_adc_corpus_never_hash_partitioned_on_id(spark, sf_dir):
    """PQ encode + ADC scoring are pure projections over the broadcast
    query side: the only hash exchange is the final top-k window on
    query_id."""
    # raw operator (the round-11 CATALOG entry adds verification joins)
    from pyspark.sql import functions as F

    from usgs_earthquake_data_pipeline_spark.operators import pq as PQ
    from usgs_earthquake_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    books = PQ.train_pq_codebooks(emb, m=8, k_codes=16, dim=64, iterations=1)
    queries = emb.filter(F.col("vec_id") < 10)
    plan = _plan(PQ.pq_adc_topk(emb, queries, books, k=5))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "hashpartitioning(vec_id" not in plan


def test_variant_column_parquet_round_trip(spark, tmp_path):
    """Spark 4 VARIANT survives a parquet write/read cycle (the
    storage story behind variant_props_buckets: encode once at
    ingest, typed-extract forever after without re-parsing text)."""
    from pyspark.sql import functions as F

    df = spark.range(5).select(
        F.col("id"),
        F.parse_json(
            F.concat(F.lit('{"k": '), F.col("id").cast("string"), F.lit("}"))
        ).alias("v"),
    )
    path = str(tmp_path / "variant_rt")
    df.write.parquet(path)
    back = spark.read.parquet(path)
    assert dict(back.dtypes)["v"] == "variant"
    got = sorted(
        r["k"] for r in back.select(
            F.variant_get("v", "$.k", "bigint").alias("k")
        ).collect()
    )
    assert got == [0, 1, 2, 3, 4]


def test_topn_window_uses_group_limit_pushdown(spark, sf_dir):
    """rank<=k filters must plan as WindowGroupLimit (per-partition
    top-k retained BEFORE the window shuffle) — at 100 TB this is the
    difference between shuffling every row and shuffling k rows per
    group per partition."""
    from usgs_earthquake_data_pipeline_spark.plans.catalog import CATALOG

    df = CATALOG["window_topn_per_type"].spark_fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan[:2000]


def test_expectations_operator_counts_violations(spark):
    from usgs_earthquake_data_pipeline_spark.operators.expectations import (
        Rule,
        validate,
    )

    df = spark.createDataFrame(
        [(1, 5.0, "a"), (2, -1.0, "b"), (2, 50.0, None), (3, None, "zz")],
        "id long, v double, tag string",
    )
    out = {
        r["rule"]: (r["violations"], r["ok"])
        for r in validate(
            df,
            [
                Rule("not_null", "v"),
                Rule("in_range", "v", lo=0.0, hi=10.0),
                Rule("in_set", "tag", values=("a", "b")),
                Rule("matches", "tag", pattern="^[ab]$"),
                Rule("unique", "id"),
            ],
        ).collect()
    }
    assert out["not_null:v"] == (1, 0)
    assert out["in_range:v"] == (3, 0)  # -1 below, 50 above, NULL
    assert out["in_set:tag"] == (2, 0)  # NULL + 'zz'
    assert out["matches:tag"] == (2, 0)
    assert out["unique:id"] == (1, 0)  # id=2 twice


def test_expectations_all_green(spark):
    from usgs_earthquake_data_pipeline_spark.operators.expectations import (
        Rule,
        validate,
    )

    df = spark.range(10).selectExpr("id", "CAST(id AS DOUBLE) AS v")
    out = validate(df, [Rule("not_null", "v"), Rule("unique", "id")]).collect()
    assert all(r["ok"] == 1 and r["violations"] == 0 for r in out)


def test_parameterized_sql_matches_literal(spark, sf_dir):
    """Named parameter markers (spark.sql(..., args={...})) — the
    injection-safe form of dynamic filtering — must plan and return
    exactly what the literal query does."""
    from usgs_earthquake_data_pipeline_spark.sources.tables import load_table

    load_table(spark, sf_dir, "events").createOrReplaceTempView("__param_ev")
    got = spark.sql(
        "SELECT event_type, count(*) AS n FROM __param_ev "
        "WHERE event_type = :etype AND value > :floor GROUP BY 1",
        args={"etype": "error", "floor": 50.0},
    ).collect()
    want = spark.sql(
        "SELECT event_type, count(*) AS n FROM __param_ev "
        "WHERE event_type = 'error' AND value > 50.0 GROUP BY 1"
    ).collect()
    assert got == want and len(got) == 1


def test_spearman_rank_windows_are_bucket_partitioned(spark, sf_dir):
    """The rank windows over raw lineitem must partition by
    (grp, range-bucket), never by grp alone — a grp-only sort puts a
    whole group in one task (the r4 verdict's scale killer). The only
    grp-partitioned window allowed is the per-bucket offset cumsum
    over the tiny |grp| x B counts table (its frame is rowsBetween,
    distinguishable by the preceding-row frame in the spec)."""
    import re

    plan = _plan(CATALOG["spearman_quantity_price"].spark_fn(spark, sf_dir))
    win_specs = re.findall(r"Window \[([^\]]*)\], \[([^\]]*)\]", plan)
    # partition specs that rank raw rows (rank/count over value order)
    rank_parts = [
        parts for expr, parts in win_specs if "rank(" in expr
    ]
    assert rank_parts, "expected rank() windows in the spearman plan"
    for parts in rank_parts:
        assert "__b" in parts, (
            f"rank window partitioned by {parts!r} — whole group in one task"
        )


def test_skew_hot_key_rollup_exchanges_are_salted(spark, sf_dir):
    """The skew headliner's RAW-ROW exchanges must carry the salt —
    never a bare-hk/tier hash partitioning of fact rows, which would
    put the 50%-hot key back on one reducer. Asserted with broadcasts
    OFF so the join must exchange both sides (the broadcast plan hides
    the fact-side shuffle entirely and made the old assertion vacuous
    — a regression to an unsalted join passed it). Allowed unsalted:
    exactly one bare-hk exchange (the dim distinct, bounded by key
    cardinality) and the final tier combine (<= n_salts rows/group)."""
    import re

    keys_ = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    old = {}
    for key in keys_:
        try:
            old[key] = spark.conf.get(key)
        except Exception:
            old[key] = None
        spark.conf.set(key, "-1")
    try:
        plan = _plan(CATALOG["skew_hot_key_rollup"].spark_fn(spark, sf_dir))
    finally:
        for key, value in old.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)
    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    salted_hk = [e for e in exchanges if "hk#" in e and "__salt" in e]
    bare_hk = [e for e in exchanges if "hk#" in e and "__salt" not in e]
    # both join sides shuffle on (hk, __salt); an unsalted join would
    # add bare-hk fact/dim exchanges beyond the single distinct
    assert len(salted_hk) >= 2, f"join sides not salted: {exchanges}"
    assert len(bare_hk) <= 1, (
        f"raw-row exchange on bare hk — hot key on one reducer: {bare_hk}"
    )
    # the partial rollup groups with the salt; the final combine may
    # key on tier alone
    assert re.search(r"HashAggregate\(keys=\[tier[^\]]*__salt", plan), (
        "partial aggregate not salted"
    )
    assert any(
        "tier" in e and "__salt" in e for e in exchanges
    ), f"rollup partial exchange not salted: {exchanges}"


def test_cdc_chunking_is_zero_shuffle_before_agg(spark, sf_dir):
    """Content-defined chunking happens inside the row (one array
    fold): the plan's only exchanges belong to the chunk-hash
    aggregate (partial distinct + final), and there is no join and no
    window anywhere."""
    plan = _plan(CATALOG["docs_chunk_cdc"].spark_fn(spark, sf_dir))
    assert plan.count("Exchange") == 2, plan
    assert "Join" not in plan and "Window" not in plan


def test_snm_single_window_pass(spark, sf_dir):
    """Sorted-neighborhood must evaluate ONE window over ONE scan —
    the union-of-two-lead-branches formulation silently doubles both
    (Catalyst does not dedupe common subplans)."""
    plan = _plan(CATALOG["dedup_sorted_neighborhood"].spark_fn(spark, sf_dir))
    assert plan.count("Window") == 1, plan
    assert plan.count("Scan parquet") == 1, plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_bigram_model_tables_join_by_hash(spark, sf_dir):
    """The bigram LM (r13 window form): the bigram conditional count
    is a count window over the hashed bigram key — no join-back, no
    separate c2 aggregate — and the unigram model table meets the
    stream in exactly ONE equi-join (broadcast at test scale,
    shuffle-hash/SMJ at cluster scale). No nested loop anywhere (the
    former one-row |V| broadcast BNLJ is now a single-partition count
    window over the vocab-bounded c1 table), and the tokenize+explode
    subtree evaluates once per stream: exactly 2 parquet scans (the
    pre-r13 agg+join-back shape planned 8)."""
    plan = _plan(CATALOG["quality_perplexity_bigram"].spark_fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") + plan.count("SortMergeJoin") + plan.count(
        "ShuffledHashJoin"
    ) == 1, plan
    assert plan.count("Scan parquet") == 2, plan


def test_dynamic_partition_pruning_on_partitioned_join(spark, sf_dir, tmp_path):
    """Joining a partitioned fact to a FILTERED dim must plan a
    dynamic-partition-pruning subquery on the fact scan — at 100 TB
    this is the difference between scanning one partition and all of
    them when the partition keys to read are only known at runtime."""
    from usgs_earthquake_data_pipeline_spark.sinks import (
        read_partitioned_table,
        save_partitioned_table,
    )

    ev = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "dpp_events")
    save_partitioned_table(ev, path, partition_cols=["event_type"])
    fact = read_partitioned_table(spark, path)
    dim = spark.createDataFrame(
        [("purchase", 1.0), ("click", 0.1), ("view", 0.05)],
        "event_type string, weight double",
    ).filter(F.col("weight") > 0.5)  # runtime-pruning filter
    joined = fact.join(dim, "event_type").groupBy("event_type").count()
    plan = joined._jdf.queryExecution().executedPlan().toString().lower()
    assert "dynamicpruning" in plan, plan[:2000]


def test_dup_spans_plan_shape(spark, sf_dir):
    """Span detection must stay key-bounded: the gram count window
    and the per-doc island window are the only hash exchanges (r13:
    the duplicated-gram filter is a count window over the gram key —
    one evaluation of the tokenize+explode subtree, one scan — where
    the former aggregate+join-back planned two of each), and the
    stride-1 window explode must never become a cartesian."""
    plan = _plan(CATALOG["dedup_dup_spans"].spark_fn(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 2
    assert plan.count("Scan parquet") == 1, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sq8_is_pure_projection(spark, sf_dir):
    """The SQ8 certificate's range pass runs at entry construction
    (one wide agg, collected); the returned plan must be scan →
    codegen projection → sort — zero joins, zero aggregates, zero
    hash exchanges at query time."""
    plan = _plan(CATALOG["embedding_sq8_error_checked"].spark_fn(spark, sf_dir))
    assert "Exchange hashpartitioning" not in plan
    assert "Join" not in plan
    assert "HashAggregate" not in plan


def test_source_overlap_posting_join_is_hash_keyed(spark, sf_dir):
    """The pairwise source-overlap self-join must meet on the gram
    key (hash or broadcast), never via nested-loop over text."""
    plan = _plan(CATALOG["source_overlap_jaccard"].spark_fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_heaps_curve_lineage_is_truncated(spark, sf_dir):
    """vocab_heaps_beta's 10-row curve feeds two consumers; the
    localCheckpoint must keep the corpus token explode out of the
    final plan (no Generate downstream of the checkpoint)."""
    plan = _plan(CATALOG["vocab_heaps_beta"].spark_fn(spark, sf_dir))
    assert "Generate" not in plan
    assert "Scan ExistingRDD" in plan or "LocalTableScan" in plan


def test_waterfill_runs_on_broadcast_totals(spark, sf_dir):
    # the waterfilling recursion must live on broadcast 1-row/domain
    # frames — no shuffle beyond the (source) aggregate
    plan = _plan(
        CATALOG["mixture_token_budget_waterfill"].spark_fn(spark, sf_dir)
    )
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_ks_window_runs_after_value_aggregate(spark, sf_dir):
    # the corpus collapses to the value grid BEFORE the cumulative
    # window: a hash aggregate on value must precede the single-
    # partition window exchange
    plan = _plan(CATALOG["drift_ks_two_sample"].spark_fn(spark, sf_dir))
    agg_pos = plan.index("hashpartitioning(value")
    win_pos = plan.index("Window")
    assert agg_pos > win_pos  # executedPlan prints top-down: window
    # consumes the aggregate, so the aggregate's exchange appears
    # BELOW (later in the string than) the Window node


def test_pmi_unigram_sides_broadcast(spark, sf_dir):
    # both unigram-count joins and the 1-row total must broadcast —
    # the bigram table is the only corpus-sized side
    plan = _plan(CATALOG["vocab_pmi_collocations"].spark_fn(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "TakeOrderedAndProject" in plan


def test_gate_bitmask_single_fingerprint_shuffle(spark, sf_dir):
    # one hash exchange on the content fingerprint — the same single
    # shuffle as the curation pipeline, everything else map-side
    plan = _plan(CATALOG["curation_gate_bitmask"].spark_fn(spark, sf_dir))
    assert plan.count("hashpartitioning(fp") == 1


def test_time_decay_attribution_rides_equi_join(spark, sf_dir):
    # the 7-day lookback must ride the user_id equi-join (range as a
    # residual condition), never a nested-loop or cartesian
    plan = _plan(CATALOG["attribution_time_decay"].spark_fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan) or ("BroadcastHashJoin" in plan)


def test_bradley_terry_step2_scores_broadcast(spark, sf_dir):
    # step-2 MM terms join the (type-domain) step-1 scores by
    # broadcast; the only corpus-shuffles are the (user,type) decimal
    # totals and the user-keyed comparison join
    plan = _plan(
        CATALOG["preference_bradley_terry_mm"].spark_fn(spark, sf_dir)
    )
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_kaplan_meier_window_on_day_domain(spark, sf_dir):
    # the KM recursion's window runs AFTER the per-user and per-day
    # aggregates — the window input is the bounded day domain
    plan = _plan(
        CATALOG["survival_kaplan_meier_daily"].spark_fn(spark, sf_dir)
    )
    assert plan.count("Window") >= 1
    assert "hashpartitioning(user_id" in plan  # corpus collapse first


def test_token_budget_window_is_bucket_partitioned(spark, sf_dir):
    """The selection's only window must run partitioned on the
    boundary-bucket key — a regression to the oracle's global ordered
    window (empty partition spec = whole corpus on one reducer) is the
    scale-killer this entry exists to avoid."""
    import re

    plan = _plan(CATALOG["token_budget_selection"].spark_fn(spark, sf_dir))
    windows = re.findall(
        r"Window \[[^\]]*\], \[([^\]]*)\], \[[^\]]*\]", plan
    )
    assert windows, "expected the boundary-bucket window in the plan"
    for part in windows:
        assert "q#" in part, f"window not partitioned on the bucket key: [{part}]"
