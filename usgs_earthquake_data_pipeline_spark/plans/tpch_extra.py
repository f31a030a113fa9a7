"""Extended TPC-H-shaped relational coverage — with plans/catalog.py's
Q1/Q2/Q3/Q5/Q6/Q7/Q10, every one of the 22 TPC-H query shapes
(Q4/Q8/Q9/Q11-Q22 here) — plus frame-spec window analytics.

The driver's star schema is a simplified TPC-H (no partsupp, no
l_commitdate/l_receiptdate/l_shipmode, no c_phone) — each query keeps
the *plan shape* of its namesake (the part Spark must execute well at
100 TB: semi-join decorrelation, conditional aggregation, outer-join
distribution, disjunctive predicate pushdown, having-filtered
self-aggregation) with predicates adapted to the columns that exist.

Alignment rules follow plans/catalog.py: identical aliases both sides,
decimal-cast SUMs for FP-order-proof doubles, BIGINT→INT casts on the
DuckDB side where Spark returns 32-bit, timestamps projected as
epoch_us.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .catalog import _dsum, _sort_bounded, register


@register(
    "q4_priority_late_ship",
    oracle=(
        "SELECT o_orderpriority, count(*) AS order_count FROM orders "
        "WHERE o_orderdate >= TIMESTAMP '1997-01-01' "
        "AND o_orderdate < TIMESTAMP '1997-07-01' "
        "AND EXISTS (SELECT 1 FROM lineitem "
        "WHERE l_orderkey = o_orderkey "
        "AND l_shipdate > o_orderdate + INTERVAL 60 DAY) "
        "GROUP BY 1 ORDER BY 1"
    ),
    tags=("tpch", "semi", "subquery"),
)
def q4_priority_late_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q4-shaped order-priority check: orders in a quarter having
    at least one line shipped >60 days after order date (the schema's
    stand-in for commitdate<receiptdate). The correlated EXISTS
    decorrelates to a left-semi hash join on the order key — one
    shuffle, no per-row re-scan."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .transform(_sort_bounded, "o_orderpriority")
    )


@register(
    "q9_profit_nation_year",
    oracle=(
        "SELECT n_name AS nation, CAST(year(l_shipdate) AS INT) AS o_year, "
        "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) "
        "AS DOUBLE) AS profit "
        "FROM lineitem "
        "JOIN supplier ON s_suppkey = l_suppkey "
        "JOIN part ON p_partkey = l_partkey "
        "JOIN nation ON n_nationkey = s_nationkey "
        "WHERE p_type = 'ECONOMY' "
        "GROUP BY 1, 2 ORDER BY 1, 2 DESC"
    ),
    headline=True,
    tags=("tpch", "join"),
)
def q9_profit_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q9-shaped profit by supplier nation and year. Part and
    supplier⋈nation both broadcast (the part filter shrinks the build
    side further); lineitem never shuffles — the aggregation's partial
    phase reduces it to |nation|×|year| rows before exchange."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    supp_dim = supp.join(
        F.broadcast(nation), supp.s_nationkey == nation.n_nationkey
    ).select("s_suppkey", F.col("n_name").alias("nation"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp_dim), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("nation", F.year("l_shipdate").alias("o_year"))
        .agg(
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), scale=4).alias(
                "profit"
            )
        )
        .transform(_sort_bounded, F.col("nation"), F.col("o_year").desc())
    )


@register(
    "q12_status_priority",
    oracle=(
        "SELECT l_linestatus, "
        "CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') "
        "THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count, "
        "CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') "
        "THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count "
        "FROM orders JOIN lineitem ON l_orderkey = o_orderkey "
        "WHERE l_shipdate >= TIMESTAMP '1997-01-01' "
        "AND l_shipdate < TIMESTAMP '1998-01-01' "
        "GROUP BY 1 ORDER BY 1"
    ),
    tags=("tpch", "join", "agg"),
)
def q12_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q12-shaped conditional aggregation (l_linestatus stands in
    for the schema's missing l_shipmode): counts split by order
    priority inside one pass — no second scan, no self-join."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~is_high, 1).otherwise(0)).alias("low_line_count"),
        )
        .transform(_sort_bounded, "l_linestatus")
    )


@register(
    "q13_customer_distribution",
    oracle=(
        "SELECT c_count, count(*) AS custdist FROM ("
        "SELECT c_custkey, count(o_orderkey) AS c_count "
        "FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey "
        "AND o_orderpriority <> '5-LOW' "
        "GROUP BY 1) c_orders "
        "GROUP BY 1 ORDER BY custdist DESC, c_count DESC"
    ),
    tags=("tpch", "join", "agg"),
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q13-shaped customer order-count distribution: left outer
    join keeps order-less customers (count 0), then a second, tiny
    aggregation over the counts. The first agg shuffles on c_custkey;
    the second is a few dozen rows."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "5-LOW"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@register(
    "q14_promo_revenue",
    oracle=(
        "SELECT 100.0 * "
        "CAST(SUM(CAST(CASE WHEN p_type = 'PROMO' "
        "THEN l_extendedprice * (1 - l_discount) ELSE 0 END "
        "AS DECIMAL(18,4))) AS DOUBLE) / "
        "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) "
        "AS DECIMAL(18,4))) AS DOUBLE) AS promo_revenue_pct "
        "FROM lineitem JOIN part ON l_partkey = p_partkey "
        "WHERE l_shipdate >= TIMESTAMP '1997-09-01' "
        "AND l_shipdate < TIMESTAMP '1997-10-01'"
    ),
    tags=("tpch", "join", "agg"),
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q14-shaped promo-revenue ratio: conditional and total sums
    in one aggregation, part broadcast. Both sums are decimal-exact so
    the final double division is bit-identical across engines."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            (
                F.lit(100.0)
                * _dsum(
                    F.when(F.col("p_type") == "PROMO", disc_price).otherwise(0.0),
                    scale=4,
                )
                / _dsum(disc_price, scale=4)
            ).alias("promo_revenue_pct")
        )
    )


@register(
    "q18_large_volume_orders",
    oracle=(
        "SELECT c_custkey, c_name, o_orderkey, epoch_us(o_orderdate) AS odate_us, "
        "o_totalprice, "
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty "
        "FROM customer JOIN orders ON c_custkey = o_custkey "
        "JOIN lineitem ON o_orderkey = l_orderkey "
        "WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem "
        "GROUP BY 1 HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250) "
        "GROUP BY 1, 2, 3, 4, 5 "
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 100"
    ),
    tags=("tpch", "join", "having", "topk"),
)
def q18_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q18-shaped large-volume customers: a HAVING-filtered
    self-aggregation of lineitem picks big orders; the surviving key
    set (tiny) broadcasts back as a semi-join filter before the final
    join+agg. lineitem is scanned twice but shuffled on l_orderkey
    only; the key-set broadcast avoids shuffling it a second time."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big_orders = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("__q"))
        .filter(F.col("__q") > 250)
        .select(F.col("l_orderkey").alias("__big_key"))
    )
    return (
        li.join(F.broadcast(big_orders), li.l_orderkey == F.col("__big_key"), "left_semi")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        # customer scales with SF — no broadcast hint; AQE decides.
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(
            "c_custkey",
            "c_name",
            "o_orderkey",
            # o_orderdate parquet-loads as TIMESTAMP_NTZ; session tz is
            # pinned UTC so the LTZ cast matches DuckDB's epoch_us
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("odate_us"),
            "o_totalprice",
        )
        .agg(_dsum(F.col("l_quantity")).alias("sum_qty"))
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


@register(
    "q19_disjunctive_revenue",
    oracle=(
        "SELECT "
        "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) "
        "AS DOUBLE) AS revenue, count(*) AS n "
        "FROM lineitem JOIN part ON p_partkey = l_partkey "
        "WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5 "
        "AND l_quantity BETWEEN 1 AND 11) "
        "OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10 "
        "AND l_quantity BETWEEN 10 AND 20) "
        "OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15 "
        "AND l_quantity BETWEEN 20 AND 30)"
    ),
    tags=("tpch", "join", "predicate"),
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q19-shaped disjunctive predicate join: three OR'd
    brand/size/quantity conjunctions evaluated inside the join. The
    part-side conjuncts (brand, size) are pushed below the join into
    the broadcast build; only the mixed predicate runs at join time."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return j.filter(cond).agg(
        _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), scale=4).alias(
            "revenue"
        ),
        F.count("*").alias("n"),
    )


@register(
    "q22_idle_rich_customers",
    oracle=(
        "SELECT c_nationkey, count(*) AS numcust, "
        "CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal "
        "FROM customer c "
        "WHERE c_acctbal > (SELECT "
        "CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*) "
        "FROM customer WHERE c_acctbal > 0.0) "
        "AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey "
        "AND o.o_orderpriority = '1-URGENT') "
        "GROUP BY 1 ORDER BY 1"
    ),
    tags=("tpch", "subquery", "anti"),
)
def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q22-shaped opportunity report: above-average-balance
    customers with no urgent orders, grouped by nation. The scalar
    average is a one-row broadcast (decimal-exact so the threshold
    comparison is engine-stable); NOT EXISTS decorrelates to a
    left-anti join on the filtered o_custkey set."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    avg_bal = (
        cust.filter(F.col("c_acctbal") > 0.0)
        .agg((_dsum(F.col("c_acctbal")) / F.count("*")).alias("__avg"))
    )
    rich = cust.join(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal") > F.col("__avg")
    )
    return (
        rich.join(orders, rich.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            _dsum(F.col("c_acctbal")).alias("totacctbal"),
        )
        .transform(_sort_bounded, "c_nationkey")
    )


@register(
    "window_rolling_revenue",
    oracle=(
        "SELECT day_us, daily_rev, "
        "round(avg(daily_rev) OVER (ORDER BY day_us "
        "ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS ma7, "
        "round(daily_rev - lag(daily_rev, 1, daily_rev) OVER (ORDER BY day_us), 4) "
        "AS day_delta "
        "FROM (SELECT epoch_us(date_trunc('day', o_orderdate)) AS day_us, "
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS daily_rev "
        "FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01' "
        "AND o_orderdate < TIMESTAMP '1997-04-01' GROUP BY 1) d "
        "ORDER BY day_us"
    ),
    tags=("window", "frame"),
)
def window_rolling_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-spec window analytics: 7-row moving average + lag delta
    over daily revenue. The daily pre-aggregation shrinks the input to
    ~90 rows before the single-partition ordered window — at 100 TB the
    window input stays O(days), never O(orders). Rounded to 4 decimals
    both sides: window-frame FP accumulation order is engine-specific."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    daily = orders.groupBy(
        F.unix_micros(F.date_trunc("day", "o_orderdate")).alias("day_us")
    ).agg(_dsum(F.col("o_totalprice")).alias("daily_rev"))
    w = Window.orderBy("day_us")
    ma = w.rowsBetween(-6, 0)
    return (
        daily.withColumn("ma7", F.round(F.avg("daily_rev").over(ma), 4))
        .withColumn(
            "day_delta",
            F.round(
                F.col("daily_rev")
                - F.coalesce(F.lag("daily_rev", 1).over(w), F.col("daily_rev")),
                4,
            ),
        )
        .orderBy("day_us")
    )


@register(
    "q8_market_share",
    oracle=(
        "SELECT CAST(year(o_orderdate) AS INT) AS o_year, "
        "CAST(SUM(CAST(CASE WHEN n1.n_name = 'NATION_0' "
        "THEN l_extendedprice * (1 - l_discount) ELSE 0 END "
        "AS DECIMAL(18,4))) AS DOUBLE) / "
        "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) "
        "AS DECIMAL(18,4))) AS DOUBLE) AS mkt_share "
        "FROM lineitem "
        "JOIN supplier ON s_suppkey = l_suppkey "
        "JOIN nation n1 ON n1.n_nationkey = s_nationkey "
        "JOIN orders ON o_orderkey = l_orderkey "
        "JOIN customer ON c_custkey = o_custkey "
        "JOIN nation n2 ON n2.n_nationkey = c_nationkey "
        "JOIN region ON r_regionkey = n2.n_regionkey "
        "WHERE r_name = 'ASIA' GROUP BY 1 ORDER BY 1"
    ),
    tags=("tpch", "join", "agg"),
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q8-shaped market share: among sales to ASIA customers,
    NATION_0 suppliers' revenue share per year. Only the fixed-size
    nation/region frames carry broadcast hints; the supplier- and
    customer-scaled dimension chains are left to AQE (broadcast at
    bench scale, key shuffle at 100 TB). The conditional and total
    sums are decimal-exact so the final share division is
    engine-stable."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    supp_dim = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust_dim = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(
                nation.join(
                    F.broadcast(region),
                    nation.n_regionkey == region.r_regionkey,
                    "left_semi",
                )
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(supp_dim, li.l_suppkey == F.col("s_suppkey"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust_dim, orders.o_custkey == F.col("c_custkey"), "left_semi")
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (
                _dsum(
                    F.when(F.col("supp_nation") == "NATION_0", vol).otherwise(0.0),
                    scale=4,
                )
                / _dsum(vol, scale=4)
            ).alias("mkt_share")
        )
        .transform(_sort_bounded, "o_year")
    )


@register(
    "q11_part_value_concentration",
    oracle=(
        "SELECT l_partkey, "
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS part_value "
        "FROM lineitem GROUP BY 1 HAVING "
        "SUM(CAST(l_extendedprice AS DECIMAL(18,2))) > "
        "(SELECT SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 0.001 FROM lineitem) "
        "ORDER BY part_value DESC, l_partkey"
    ),
    tags=("tpch", "subquery", "having"),
)
def q11_part_value_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q11-shaped value concentration: parts whose total traded
    value exceeds a fraction of the global total (the schema has no
    partsupp; lineitem extended price plays the stock value). The
    global total is a one-row broadcast; both sides of the HAVING
    comparison are decimal-exact."""
    li = load_table(spark, sf_dir, "lineitem")
    dec_price = F.col("l_extendedprice").cast("decimal(18,2)")
    # decimal-exact threshold: a bare 0.001 literal would promote the
    # product to double and compare decimal > double, which can diverge
    # from the oracle's exact decimal comparison on boundary ties
    total = li.agg(
        (F.sum(dec_price) * F.lit(0.001).cast("decimal(4,3)")).alias("__threshold")
    )
    per_part = li.groupBy("l_partkey").agg(
        F.sum(dec_price).alias("__value_dec")
    )
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("__value_dec") > F.col("__threshold"))
        .select(
            "l_partkey", F.col("__value_dec").cast("double").alias("part_value")
        )
        .orderBy(F.col("part_value").desc(), "l_partkey")
    )


@register(
    "q15_top_supplier",
    oracle=(
        "WITH rev AS (SELECT l_suppkey, "
        "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) "
        "AS DOUBLE) AS total_revenue FROM lineitem "
        "WHERE l_shipdate >= TIMESTAMP '1997-01-01' "
        "AND l_shipdate < TIMESTAMP '1997-04-01' GROUP BY 1) "
        "SELECT s_suppkey, s_name, total_revenue FROM supplier "
        "JOIN rev ON s_suppkey = l_suppkey "
        "WHERE total_revenue = (SELECT max(total_revenue) FROM rev) "
        "ORDER BY s_suppkey"
    ),
    tags=("tpch", "subquery", "window"),
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q15-shaped top supplier: quarterly revenue per supplier,
    keep the max (ties included). The scalar max is a window over the
    aggregated (100-row) revenue view — no second scan of lineitem."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    supp = load_table(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), scale=4).alias(
            "total_revenue"
        )
    )
    w = Window.partitionBy()
    top = rev.withColumn("__max", F.max("total_revenue").over(w)).filter(
        F.col("total_revenue") == F.col("__max")
    )
    return (
        supp.join(F.broadcast(top), supp.s_suppkey == F.col("l_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@register(
    "q16_supplier_diversity",
    oracle=(
        "SELECT p_brand, p_type, p_size, "
        "count(DISTINCT l_suppkey) AS supplier_cnt "
        "FROM lineitem JOIN part ON p_partkey = l_partkey "
        "WHERE p_brand <> 'Brand#1' AND p_size IN (1, 5, 9, 13) "
        "AND l_suppkey NOT IN "
        "(SELECT s_suppkey FROM supplier WHERE s_acctbal < 0) "
        "GROUP BY 1, 2, 3 "
        "ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"
    ),
    tags=("tpch", "join", "distinct", "anti"),
)
def q16_supplier_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q16-shaped supplier diversity: distinct suppliers per
    (brand, type, size), excluding one brand and negative-balance
    suppliers. NOT IN becomes a broadcast anti join (safe here: the
    key set is scanned for NULLs by Catalyst); COUNT DISTINCT expands
    to a two-phase aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & F.col("p_size").isin(1, 5, 9, 13)
    )
    bad_supp = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(
            F.broadcast(bad_supp), li.l_suppkey == F.col("s_suppkey"), "left_anti"
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


@register(
    "q17_small_quantity_revenue",
    oracle=(
        "WITH pa AS (SELECT l_partkey AS pk, "
        "0.5 * (CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) "
        "/ count(*)) AS half_avg_qty FROM lineitem GROUP BY 1) "
        "SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) "
        "/ 7.0 AS avg_yearly, count(*) AS n "
        "FROM lineitem JOIN part ON p_partkey = l_partkey "
        "JOIN pa ON pk = l_partkey "
        "WHERE p_brand = 'Brand#1' AND l_quantity < half_avg_qty"
    ),
    tags=("tpch", "subquery", "join"),
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q17-shaped small-quantity revenue: lineitems below half
    their part's average quantity. The correlated avg subquery is a
    per-part aggregate joined back — one extra shuffle on l_partkey,
    not a per-row re-scan; the avg is decimal-exact so the threshold
    comparison is engine-stable."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    half_avg = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (
            F.lit(0.5)
            * (
                F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double")
                / F.count("*")
            )
        ).alias("half_avg_qty")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(half_avg, li.l_partkey == F.col("pk"))
        .filter(F.col("l_quantity") < F.col("half_avg_qty"))
        .agg(
            (_dsum(F.col("l_extendedprice")) / F.lit(7.0)).alias("avg_yearly"),
            F.count("*").alias("n"),
        )
    )


@register(
    "q20_excess_suppliers",
    oracle=(
        "SELECT s_suppkey, s_name FROM supplier WHERE s_suppkey IN ("
        "SELECT l_suppkey FROM lineitem JOIN part ON p_partkey = l_partkey "
        "WHERE p_type = 'ECONOMY' "
        "AND l_shipdate >= TIMESTAMP '1997-01-01' "
        "AND l_shipdate < TIMESTAMP '1998-01-01' "
        "GROUP BY 1 HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 300) "
        "ORDER BY s_suppkey"
    ),
    tags=("tpch", "semi", "having"),
)
def q20_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q20-shaped excess-stock suppliers: suppliers who shipped
    >300 units of ECONOMY parts in a year. IN-subquery = HAVING-
    filtered aggregate broadcast as a left-semi join key set."""
    supp = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    heavy = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("__q"))
        .filter(F.col("__q") > 300)
        .select("l_suppkey")
    )
    return (
        supp.join(F.broadcast(heavy), supp.s_suppkey == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


@register(
    "q21_waiting_orders",
    oracle=(
        "WITH pairs AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem), "
        "late AS (SELECT DISTINCT l.l_orderkey, l.l_suppkey "
        "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
        "WHERE l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY) "
        "SELECT lt.l_suppkey AS s_key, count(*) AS numwait FROM late lt "
        "WHERE EXISTS (SELECT 1 FROM pairs p WHERE p.l_orderkey = lt.l_orderkey "
        "AND p.l_suppkey <> lt.l_suppkey) "
        "AND NOT EXISTS (SELECT 1 FROM late l2 WHERE l2.l_orderkey = lt.l_orderkey "
        "AND l2.l_suppkey <> lt.l_suppkey) "
        "GROUP BY 1 ORDER BY numwait DESC, s_key"
    ),
    tags=("tpch", "semi", "anti"),
)
def q21_waiting_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q21-shaped waiting-orders report: suppliers who were the
    SOLE late shipper on multi-supplier orders (late = shipped >90
    days after order date). EXISTS/NOT EXISTS become a left-semi and a
    left-anti self-join of the distinct (order, supplier) pair sets —
    both equi-keyed on the order key with a supplier inequality riding
    the join, nothing quadratic."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    pairs = li.select("l_orderkey", "l_suppkey").distinct()
    late = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
        )
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    other = pairs.select(
        F.col("l_orderkey").alias("p_ok"), F.col("l_suppkey").alias("p_sk")
    )
    other_late = late.select(
        F.col("l_orderkey").alias("ol_ok"), F.col("l_suppkey").alias("ol_sk")
    )
    return (
        late.join(
            other,
            (late.l_orderkey == F.col("p_ok")) & (late.l_suppkey != F.col("p_sk")),
            "left_semi",
        )
        .join(
            other_late,
            (late.l_orderkey == F.col("ol_ok"))
            & (late.l_suppkey != F.col("ol_sk")),
            "left_anti",
        )
        .groupBy(F.col("l_suppkey").alias("s_key"))
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_key")
    )


@register(
    "skyline_parts_per_brand",
    oracle=(
        "WITH pts AS (SELECT DISTINCT p_brand, p_retailprice AS price, "
        "p_size AS size FROM part) "
        "SELECT p_brand AS brand, price, size FROM pts a "
        "WHERE NOT EXISTS (SELECT 1 FROM pts b WHERE b.p_brand = a.p_brand "
        "AND b.price <= a.price AND b.size >= a.size "
        "AND (b.price < a.price OR b.size > a.size)) "
        "ORDER BY 1, 2, 3"
    ),
    tags=("relational", "skyline", "analytics"),
)
def skyline_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped 2-D skyline (Pareto frontier): per brand, the parts not
    DOMINATED by any other — no other part of the brand is both
    cheaper-or-equal AND larger-or-equal with one strict — i.e. the
    price/size trade-off frontier a buyer actually chooses from
    (Börzsönyi et al., "The Skyline Operator", ICDE'01).

    Scale shape: the naive spec is a quadratic self-join (the
    oracle's NOT EXISTS — the differential proves the decomposition
    against it); the distributed plan is O(n log n): dedupe the
    (brand, price, size) points, sort each brand's points by
    (price ASC, size DESC) inside a ``partitionBy(brand)`` window,
    and keep a point iff its size strictly exceeds the running max
    size over all PRECEDING points — every preceding point is either
    strictly cheaper or same-price-larger, so "size > running max" is
    exactly "undominated".  One shuffle for the distinct, one for the
    window (same key — Catalyst reuses the partitioning), no
    self-join anywhere.  The group is the scale unit: a single
    brand's frontier never crosses executors, and 2-D is the
    window-expressible case (d>2 needs the block-nested-loop /
    divide-and-conquer variants)."""
    part = load_table(spark, sf_dir, "part")
    pts = part.select(
        F.col("p_brand").alias("brand"),
        F.col("p_retailprice").alias("price"),
        F.col("p_size").alias("size"),
    ).distinct()
    win = (
        Window.partitionBy("brand")
        .orderBy(F.asc("price"), F.desc("size"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    runmax = F.max("size").over(win)
    return (
        pts.withColumn("_m", runmax)
        .filter(F.col("_m").isNull() | (F.col("size") > F.col("_m")))
        .drop("_m")
        .orderBy("brand", "price", "size")
    )
