"""Streaming catalog entry: a real Structured Streaming query whose
final result is oracle-checked.

The callable runs a bounded streaming job (availableNow trigger over
the events parquet) computing a daily windowed rollup into a memory
sink, then returns the sink's content as a batch DataFrame. The
DuckDB oracle computes the same rollup with date_trunc — so the
streaming engine's windowing itself is under the hash-equality gate,
not just its batch twin.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sketches import kmv_hash_sql as _kmv_hash_sql
from ..session import configure_runtime
from ..sources.tables import normalize_timestamp_col, read_parquet
from .catalog import register


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded file-stream over the events table, shared by the
    streaming catalog entries. The file-stream source wants a
    directory, so the sf_dir is streamed with a glob pinned to the
    events file; the ts normalization mirrors the batch loader
    (bigint nanos / TIMESTAMP_NTZ / TIMESTAMP → session-TZ TIMESTAMP,
    dispatching on the batch-read schema, taken from the loader's
    schema memo)."""
    configure_runtime(spark)
    schema = read_parquet(spark, os.path.join(sf_dir, "events.parquet")).schema
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_timestamp_col(raw, "ts")


def _run_available_now(stream_df, name: str, output_mode: str, timeout: int = 300):
    """Run a bounded availableNow query into a memory sink; raise if it
    does not terminate within ``timeout`` seconds — a partial sink must
    never feed the correctness gate silently."""
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            stream_df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            if not q.awaitTermination(timeout):
                raise TimeoutError(
                    f"{name}: streaming run still active after {timeout}s"
                )
        finally:
            if q.isActive:  # pragma: no cover - timeout path
                q.stop()


@register(
    "streaming_daily_rollup",
    oracle=(
        "SELECT epoch_us(date_trunc('day', ts)) AS day_start_us, "
        "count(*) AS n, "
        "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value "
        "FROM events GROUP BY 1 ORDER BY 1"
    ),
    tags=("streaming", "window"),
)
def streaming_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily tumbling-window rollup computed BY THE STREAMING ENGINE
    (availableNow over the events parquet, complete-mode memory sink).
    Window boundaries are UTC days — identical to date_trunc('day')
    in the oracle because the session timezone is pinned UTC."""
    ev = _events_stream(spark, sf_dir)
    counts = (
        ev.groupBy(F.window("ts", "1 day").alias("win"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
                "sum_value"
            ),
        )
        .select(
            F.unix_micros(F.col("win.start")).alias("day_start_us"),
            "n",
            "sum_value",
        )
    )
    name = "streaming_daily_rollup_sink"
    _run_available_now(counts, name, "complete")
    return spark.table(name).orderBy("day_start_us")


@register(
    "streaming_conversion_join",
    oracle=(
        "SELECT c.user_id, epoch_us(c.ts) AS click_us, epoch_us(p.ts) AS purchase_us "
        "FROM (SELECT user_id, ts FROM events WHERE event_type = 'click') c "
        "JOIN (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p "
        "ON c.user_id = p.user_id AND p.ts >= c.ts "
        "AND p.ts <= c.ts + INTERVAL 10 MINUTE "
        "ORDER BY 1, 2, 3"
    ),
    tags=("streaming", "join"),
)
def streaming_conversion_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream self-join BY THE STREAMING ENGINE: purchases
    attributed to a click by the same user within the preceding 10
    minutes. Watermarks on both sides + the event-time range condition
    bound the join state to one hour per side — the property that lets
    this run forever at production rates. Inner-join matches emit
    immediately (watermark only evicts state), so the bounded
    availableNow run produces exactly the batch answer the DuckDB
    oracle computes."""
    ev = _events_stream(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("purchase_ts"))
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 10 MINUTES")),
    ).select(
        "user_id",
        F.unix_micros("click_ts").alias("click_us"),
        F.unix_micros("purchase_ts").alias("purchase_us"),
    )
    name = "streaming_conversion_join_sink"
    _run_available_now(joined, name, "append")
    return spark.table(name).orderBy("user_id", "click_us", "purchase_us")

@register(
    "streaming_dedup_user_type",
    oracle=(
        "SELECT DISTINCT user_id, event_type FROM events"
    ),
    tags=("streaming", "dedup"),
)
def streaming_dedup_user_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once streaming dedup: first (user_id, event_type)
    occurrence wins, duplicates dropped BY THE STREAMING ENGINE
    (dropDuplicatesWithinWatermark — the idempotent-ingest primitive;
    plain dropDuplicates without the event-time key would hold state
    forever). The watermark bounds dedup state to O(keys seen within
    the delay), not O(stream). On the bounded availableNow run nothing
    is evicted mid-batch, so the result is exactly the batch
    DISTINCT."""
    ev = _events_stream(spark, sf_dir)
    deduped = (
        ev.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    name = "streaming_dedup_sink"
    _run_available_now(deduped, name, "append")
    return spark.table(name).orderBy("user_id", "event_type")


@register(
    "streaming_left_outer_join",
    oracle=(
        "WITH wm AS (SELECT least("
        "(SELECT max(ts) FROM events WHERE event_type = 'click'), "
        "(SELECT max(ts) FROM events WHERE event_type = 'purchase')) "
        "- INTERVAL 1 HOUR AS w), "
        "c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'), "
        "p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'), "
        "j AS (SELECT c.user_id, c.ts AS cts, p.ts AS pts FROM c LEFT JOIN p "
        "ON c.user_id = p.user_id AND p.ts >= c.ts "
        "AND p.ts <= c.ts + INTERVAL 10 MINUTE) "
        "SELECT user_id, epoch_us(cts) AS click_us, epoch_us(pts) AS purchase_us "
        "FROM j, wm WHERE pts IS NOT NULL OR cts + INTERVAL 10 MINUTE < w "
        "ORDER BY 1, 2, 3"
    ),
    tags=("streaming", "join"),
)
def streaming_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join BY THE STREAMING ENGINE — the
    attribution query that must also emit never-converted clicks.
    Null-extended results are produced by watermark EVICTION, not by
    matching: an unmatched click emits only once the global watermark
    (min over both sides of max-event-time − 1 h delay) passes the end
    of its match window (click_ts + 10 min). The bounded availableNow
    run therefore retains the trailing clicks forever in state and
    never null-emits them — and the oracle encodes exactly that
    semantics (the WHERE clause), so the hash gate verifies Spark's
    documented eviction rule, not just the happy path. At production
    rates the same plan runs continuously with state bounded to ~1 h
    per side."""
    ev = _events_stream(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("purchase_ts"))
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 10 MINUTES")),
        "left_outer",
    ).select(
        "user_id",
        F.unix_micros("click_ts").alias("click_us"),
        F.unix_micros("purchase_ts").alias("purchase_us"),
    )
    name = "streaming_left_outer_join_sink"
    _run_available_now(joined, name, "append")
    return spark.table(name).orderBy("user_id", "click_us", "purchase_us")


@register(
    "streaming_static_enrich",
    oracle=(
        "SELECT c_mktsegment, count(*) AS n, "
        "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value "
        "FROM events e JOIN customer c ON e.user_id = c.c_custkey "
        "GROUP BY 1 ORDER BY 1"
    ),
    tags=("streaming", "join"),
)
def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the event stream joins a static
    dimension (customer) INSIDE the streaming engine, then aggregates
    per market segment — the standard "enrich the stream with a dim
    table" shape.

    The stream-static inner join is stateless (no watermark, no join
    state): each micro-batch re-plans the join against the static
    side, so at scale state size is zero. The projected customer dim
    carries no broadcast hint — |customer| scales with SF, so AQE
    broadcasts it per-batch while it fits and degrades to a key
    shuffle when it doesn't. Aggregation runs complete-mode into the
    bounded memory sink, same harness as the other streaming entries.
    """
    from ..sources.tables import load_table

    ev = _events_stream(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    enriched = ev.join(
        cust, ev.user_id == cust.c_custkey
    )
    agg = (
        enriched.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
                "sum_value"
            ),
        )
    )
    name = "streaming_static_enrich_sink"
    _run_available_now(agg, name, "complete")
    return spark.table(name).orderBy("c_mktsegment")


@register(
    "streaming_sessionize_gap",
    oracle=(
        # batch sessionize (strict > gap); a session emits if EITHER a
        # later in-batch event of its user broke the gap (rn > 1) OR
        # the final watermark (max event time - 1 h) passed its
        # end + gap, firing the event-time state timeout in the
        # closing availableNow batch.
        "WITH wm AS (SELECT epoch_us(max(ts)) - 3600000000 AS w FROM events), "
        "g AS (SELECT user_id, ts, "
        "CASE WHEN lag(ts) OVER w IS NULL "
        "OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 600000000 "
        "THEN 1 ELSE 0 END AS new_s FROM events "
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts)), "
        "s AS (SELECT user_id, ts, SUM(new_s) OVER "
        "(PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid "
        "FROM g), "
        "agg AS (SELECT user_id, sid, epoch_us(min(ts)) AS session_start_us, "
        "epoch_us(max(ts)) AS session_end_us, CAST(count(*) AS INT) AS n_events "
        "FROM s GROUP BY user_id, sid), "
        "r AS (SELECT *, row_number() OVER (PARTITION BY user_id "
        "ORDER BY session_start_us DESC) AS rn FROM agg) "
        "SELECT user_id, session_start_us, session_end_us, n_events "
        "FROM r, wm WHERE rn > 1 OR session_end_us + 600000000 < w "
        "ORDER BY user_id, session_start_us"
    ),
    tags=("streaming", "session", "stateful"),
)
def streaming_sessionize_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CUSTOM stateful operator under the hash gate: gap
    sessionization by ``applyInPandasWithState``
    (streaming/sessionize.py) over the bounded event stream. The
    events parquet is one file, so availableNow runs one data batch:
    sessions close when a later in-batch event of the same user
    exceeds the 10-minute gap, plus — in the run's closing batch —
    when the event-time timeout fires for state the final watermark
    (max event time − 1 h) has passed. The oracle is the batch
    lag+cumsum sessionization filtered by exactly that emission rule,
    so the state machine's gap logic AND its timeout/eviction rule are
    hash-verified, not just its batch twin.
    ``sum_value`` is deliberately not emitted: the state update sums
    floats in event order while SQL sums in scan order — bit equality
    is only guaranteed for the integer/timestamp columns."""
    from ..streaming.sessionize import sessionize_stream

    ev = _events_stream(spark, sf_dir).select("user_id", "ts", "value")
    sessions = sessionize_stream(ev, gap_seconds=600, watermark="1 hour")
    name = "streaming_sessionize_gap_sink"
    _run_available_now(sessions, name, "append")
    return (
        spark.table(name)
        .select(
            "user_id",
            F.unix_micros("session_start").alias("session_start_us"),
            F.unix_micros("session_end").alias("session_end_us"),
            "n_events",
        )
        .orderBy("user_id", "session_start_us")
    )


@register(
    "streaming_full_outer_join",
    oracle=(
        "WITH wm AS (SELECT least("
        "(SELECT max(ts) FROM events WHERE event_type = 'click'), "
        "(SELECT max(ts) FROM events WHERE event_type = 'purchase')) "
        "- INTERVAL 1 HOUR AS w), "
        "c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'), "
        "p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'), "
        "j AS (SELECT COALESCE(c.user_id, p.user_id) AS user_id, "
        "c.ts AS cts, p.ts AS pts FROM c FULL JOIN p "
        "ON c.user_id = p.user_id AND p.ts >= c.ts "
        "AND p.ts <= c.ts + INTERVAL 10 MINUTE) "
        "SELECT user_id, epoch_us(cts) AS click_us, epoch_us(pts) AS purchase_us "
        "FROM j, wm WHERE (cts IS NOT NULL AND pts IS NOT NULL) "
        "OR (pts IS NULL AND cts + INTERVAL 10 MINUTE < w) "
        "OR (cts IS NULL AND pts < w) "
        "ORDER BY 1, 2, 3"
    ),
    tags=("streaming", "join"),
)
def streaming_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER join — completes the streaming join
    matrix (inner / left-outer / full-outer / stream-static). Both
    unmatched sides null-emit by watermark eviction: a click once the
    watermark passes the end of its match window (click_ts + 10 min),
    a purchase once the watermark passes its own event time (no
    earlier-or-equal click can still arrive). The oracle's WHERE
    encodes BOTH eviction rules, so the hash gate pins the engine's
    documented two-sided state-removal semantics; trailing rows
    inside the watermark correctly never emit in the bounded run."""
    ev = _events_stream(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("purchase_ts"))
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 10 MINUTES")),
        "full_outer",
    ).select(
        F.coalesce("user_id", "p_user").alias("user_id"),
        F.unix_micros("click_ts").alias("click_us"),
        F.unix_micros("purchase_ts").alias("purchase_us"),
    )
    name = "streaming_full_outer_join_sink"
    _run_available_now(joined, name, "append")
    return spark.table(name).orderBy("user_id", "click_us", "purchase_us")


@register(
    "streaming_left_semi_join",
    oracle=(
        "SELECT DISTINCT c.user_id, epoch_us(c.ts) AS click_us "
        "FROM events c WHERE c.event_type = 'click' AND EXISTS ("
        "SELECT 1 FROM events p WHERE p.event_type = 'purchase' "
        "AND p.user_id = c.user_id AND p.ts >= c.ts "
        "AND p.ts <= c.ts + INTERVAL 10 MINUTE) "
        "ORDER BY 1, 2"
    ),
    tags=("streaming", "join"),
)
def streaming_left_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT SEMI join: converted clicks, emitted once
    regardless of how many purchases matched (the existence form of
    attribution — no fan-out). A semi row emits when its first match
    arrives, so the bounded run needs no eviction clause in the
    oracle: EXISTS over the same interval condition is the exact
    batch twin. State stays watermark-bounded like the inner join's."""
    ev = _events_stream(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("purchase_ts"))
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 10 MINUTES")),
        "left_semi",
    ).select("user_id", F.unix_micros("click_ts").alias("click_us"))
    name = "streaming_left_semi_join_sink"
    _run_available_now(joined, name, "append")
    return spark.table(name).distinct().orderBy("user_id", "click_us")


@register(
    "streaming_sliding_rollup",
    oracle=(
        "WITH b AS (SELECT CAST(floor(epoch_us(ts) / 1800000000) "
        "* 1800000000 AS BIGINT) AS s30, value FROM events), "
        "w AS (SELECT s30 AS win_start_us, value FROM b "
        "UNION ALL SELECT s30 - 1800000000, value FROM b) "
        "SELECT win_start_us, count(*) AS n, "
        "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value "
        "FROM w GROUP BY 1 ORDER BY 1"
    ),
    tags=("streaming", "window", "sliding"),
)
def streaming_sliding_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) windows BY THE STREAMING ENGINE — the SLA
    rollup (1 h windows every 30 min) as a stream, sharing its oracle
    with the batch twin ``sliding_window_counts``: complete-mode
    output makes the bounded availableNow run the exact batch answer.
    The Expand fan-out (dur/slide = 2) happens pre-shuffle in the
    stream exactly as in batch; state is windows × groups, watermark-
    expirable under append mode in production."""
    ev = _events_stream(spark, sf_dir)
    counts = (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
                "sum_value"
            ),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("win_start_us"),
            "n",
            "sum_value",
        )
    )
    name = "streaming_sliding_rollup_sink"
    _run_available_now(counts, name, "complete")
    return spark.table(name).orderBy("win_start_us")


@register(
    "streaming_anti_blocklist",
    oracle=(
        "SELECT epoch_us(ts) AS ts_us, user_id, event_type "
        "FROM events WHERE user_id NOT IN ("
        "SELECT c_custkey FROM customer WHERE c_acctbal < 0) "
        "ORDER BY 1, 2, 3"
    ),
    tags=("streaming", "join", "governance"),
)
def streaming_anti_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static LEFT ANTI join: events from blocklisted users
    (negative-balance accounts) dropped IN-STREAM — the streaming
    form of opt-out/compliance filtering, and the anti cell of the
    stream-static join matrix (enrich=inner/left, exists=semi, this).
    The static side broadcasts; stateless per-batch filtering, no
    watermark state at all."""
    from ..sources.tables import load_table

    ev = _events_stream(spark, sf_dir)
    blocked = load_table(spark, sf_dir, "customer").filter(
        F.col("c_acctbal") < 0
    ).select(F.col("c_custkey").alias("user_id"))
    clean = ev.join(F.broadcast(blocked), "user_id", "left_anti").select(
        F.unix_micros("ts").alias("ts_us"), "user_id", "event_type"
    )
    name = "streaming_anti_blocklist_sink"
    _run_available_now(clean, name, "append")
    return spark.table(name).orderBy("ts_us", "user_id", "event_type")


@register(
    "streaming_mv_incremental_fold",
    oracle=(
        "SELECT CAST(day(ts) AS INT) AS day, event_type, "
        "CAST(COUNT(*) AS BIGINT) AS cnt, "
        "CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value "
        "FROM events GROUP BY 1, 2 ORDER BY 1, 2"
    ),
    tags=("streaming", "warehouse", "matview"),
)
def streaming_mv_incremental_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental materialized-view maintenance under the
    driver hash gate: a foreachBatch stream folds per-micro-batch
    partial aggregates (day × event_type: count + decimal sum) onto a
    versioned view table via the algebraic merge, and the finished
    view must hash-equal the oracle's from-scratch whole-table
    aggregate — incremental == full recompute, certified by the
    driver, with the query-scoped applied-batch marker making the
    fold exactly-once. The streaming twin of
    ``mv_incremental_daily_rollup`` (which proves the same identity
    for a batch delta): per fold, work is batch + view-cardinality,
    never history. The finished view (|days| × |types| rows) is
    collected and re-localized so the returned frame outlives the
    temp table dirs."""
    import shutil

    from ..sinks import read_versioned_table
    from ..streaming.matview import stream_update_matview

    ev = _events_stream(spark, sf_dir)

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.dayofmonth("ts").alias("day"), F.col("event_type")
        ).agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("sum_value"),
        )

    view = tempfile.mkdtemp(prefix="usgs_mv_fold_view_")
    ckpt = tempfile.mkdtemp(prefix="usgs_mv_fold_ckpt_")
    try:
        q = stream_update_matview(
            ev,
            view,
            ckpt,
            partial,
            keys=["day", "event_type"],
            merges={"cnt": "count", "sum_value": "sum"},
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError(
                "streaming_mv_incremental_fold: stream did not drain in 300s"
            )
        out = read_versioned_table(spark, view).select(
            "day",
            "event_type",
            "cnt",
            F.col("sum_value").cast("double").alias("sum_value"),
        )
        rows = out.collect()  # bounded: |days| x |event types|
        schema = out.schema
    finally:
        shutil.rmtree(view, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.createDataFrame(rows, schema).orderBy("day", "event_type")


@register(
    "streaming_url_dedup",
    oracle=None,  # replaced below — needs web_ops' CTE strings
    tags=("streaming", "dedup", "web"),
)
def streaming_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL dedup BY THE STREAMING ENGINE — the ingest-time
    form of ``url_canonicalize_dedup``: raw URLs (synthesized from
    event_id, which carries the event-time column a watermark needs)
    canonicalize inside the stream and the first occurrence of each
    canonical URL wins via dropDuplicatesWithinWatermark, so dedup
    state is bounded to O(canonical keys within the 1 h delay), not
    O(stream). On the bounded availableNow run nothing is evicted
    mid-batch, so the result is exactly the batch DISTINCT the oracle
    computes with the shared synthesis + canonicalization CTEs."""
    from ..functions.web import canonicalize_url
    from .web_ops import _synth_url

    ev = _events_stream(spark, sf_dir)
    c = ev.select(
        "ts", canonicalize_url(_synth_url("event_id")).alias("canonical_url")
    )
    deduped = (
        c.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["canonical_url"])
        .select("canonical_url")
    )
    name = "streaming_url_dedup_sink"
    _run_available_now(deduped, name, "append")
    return spark.table(name).orderBy("canonical_url")


def _wire_streaming_url_dedup_oracle() -> None:
    """The oracle reuses web_ops' synthesis/canonicalization CTE
    strings; assigning post-hoc avoids importing web_ops before the
    registry decorator runs (plans/__init__ imports this module
    first)."""
    from .catalog import CATALOG, CatalogEntry
    from .web_ops import _CANON_SQL, _SYNTH_EVENTS_SQL

    e = CATALOG["streaming_url_dedup"]
    CATALOG["streaming_url_dedup"] = CatalogEntry(
        e.name,
        e.spark_fn,
        f"WITH {_SYNTH_EVENTS_SQL}, {_CANON_SQL} "
        "SELECT DISTINCT canonical_url FROM canon ORDER BY 1",
        e.headline,
        e.tags,
    )


_wire_streaming_url_dedup_oracle()


_KMV_EVENT_HASH_SQL = _kmv_hash_sql("CAST(event_id AS VARCHAR)")


@register(
    "streaming_theta_daily",
    oracle=(
        "WITH h AS (SELECT DISTINCT date_trunc('day', ts) AS d, "
        f"{_KMV_EVENT_HASH_SQL} AS h FROM events), "
        "sk AS (SELECT d, (list(h ORDER BY h))[1:256] AS kmv "
        "FROM h GROUP BY d), "
        "ex AS (SELECT date_trunc('day', ts) AS d, count(*) AS n_rows, "
        "count(DISTINCT event_id) AS exact_distinct FROM events GROUP BY 1) "
        "SELECT epoch_us(d) AS day_start_us, "
        "CAST(n_rows AS BIGINT) AS n_rows, "
        "CAST(exact_distinct AS BIGINT) AS exact_distinct, "
        "CASE WHEN len(kmv) < 256 THEN CAST(len(kmv) AS DOUBLE) "
        "ELSE CAST(255 AS DOUBLE) * CAST(281474976710656 AS DOUBLE) / "
        "CAST(kmv[256] AS DOUBLE) END AS est_distinct, "
        "TRUE AS within_bound "
        "FROM sk JOIN ex USING (d) ORDER BY day_start_us"
    ),
    tags=("streaming", "sketch", "approx", "checked"),
)
def streaming_theta_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct counting INSIDE the streaming engine via a per-window
    KMV sketch (round 13) — the pattern Structured Streaming forces at
    scale, because exact streaming distinct is unsupported
    (countDistinct in a streaming agg raises) and dropDuplicates
    state grows with key cardinality. The stream maintains k=256
    minimum hashes per UTC day (collect_set → sort → slice inside the
    windowed agg, so state per window is bounded by k regardless of
    daily cardinality); the batch side then certifies the streamed
    sketch: exact per-day distincts join on, the estimate is the
    same (k-1)/theta arithmetic as the batch theta entries (so the
    oracle hash-gates the ESTIMATE exactly), and ``within_bound``
    (oracle-pinned TRUE) asserts |est - exact| <= max(16, 0.5·exact)
    per day. The 0.5 slack is deliberate: per-day sets are small
    (3.2-3.5k at sf0.1), so the pinned bound is max-of-30-days of an
    σ≈6.3% estimator — measured worst 0.153 at sf0.1 (3.3× margin on
    this corpus, ~8σ under any reseed; k=128 measured worst 0.269,
    which is why this entry runs k=256). At 100 TB the
    same query needs only k longs per live window of state, and
    yesterday's sketch unions/intersects with any other via the
    theta algebra."""
    from ..operators.sketches import kmv_estimate, kmv_hash

    k = 256
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.groupBy(F.window("ts", "1 day").alias("win"))
        .agg(
            F.slice(
                F.sort_array(F.collect_set(kmv_hash("event_id"))), 1, k
            ).alias("kmv"),
            F.count("*").alias("n_rows"),
        )
        .select(
            F.unix_micros(F.col("win.start")).alias("day_start_us"),
            "kmv",
            "n_rows",
        )
    )
    name = "streaming_theta_daily_sink"
    _run_available_now(agg, name, "complete")
    streamed = spark.table(name)
    from ..sources.tables import load_table

    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").alias("d"))
        .agg(F.countDistinct("event_id").alias("exact_distinct"))
        .select(
            F.unix_micros(F.col("d")).alias("day_start_us"), "exact_distinct"
        )
    )
    est = kmv_estimate(F.col("kmv"), k)
    return (
        streamed.join(exact, "day_start_us")
        .select(
            "day_start_us",
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("exact_distinct").cast("long").alias("exact_distinct"),
            est.alias("est_distinct"),
            (
                F.abs(est - F.col("exact_distinct"))
                <= F.greatest(
                    F.lit(16.0), F.col("exact_distinct") * F.lit(0.5)
                )
            ).alias("within_bound"),
        )
        .orderBy("day_start_us")
    )
