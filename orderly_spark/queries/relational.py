"""Relational operator battery (SURVEY §2.2–§2.7 generalised): the
join variants, window functions, set ops, and ordering semantics the
reference implements ad hoc in pandas, declared Catalyst-first with
DuckDB oracles.

Dtype discipline for the oracle hash: conditional counts use
COUNT(when) / COUNT(*) FILTER — BIGINT on both sides (never
SUM(CASE), which DuckDB widens to HUGEINT); float aggregates go
through DSUM/DAVG decimal accumulation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from orderly_spark.operators.asof import asof_join_backward
from orderly_spark.operators.dedup import _bloom_positions
from orderly_spark.operators.relational import epoch_us, sessionize, topk_per_group
from orderly_spark.registry import DAVG, DSUM, davg, dsum, query
from orderly_spark.tables import load

# bucketed-join scratch dirs whose atexit cleanup is already registered
# (one registration per path per process; see j_bucketed_colocated_join)
_BUCKET_SCRATCH_REGISTERED: set[str] = set()


@query(
    "j_semi_orders_with_returns",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n_orders
    FROM orders
    WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
    GROUP BY o_orderstatus
    """,
    category="join",
    survey="J3-semi",
)
def j_semi_orders_with_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): orders having at least one returned line."""
    o = load(spark, sf_dir, "orders")
    l = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        o.join(l, o.o_orderkey == l.l_orderkey, "left_semi")
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@query(
    "j_anti_customers_without_orders",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n_customers
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_mktsegment
    """,
    category="join",
    survey="J3-anti,P11-mode-b",
)
def j_anti_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS) — the blocklist-removal shape of
    the reference's unresolved-name drop (cleaner.py:572-657 mode b)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@query(
    "q13_customer_order_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey
    ) GROUP BY c_count ORDER BY custdist DESC, c_count DESC
    """,
    category="join",
    survey="J-outer,A3",
)
def q13_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: left outer join + double aggregation."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@query(
    "q4_priority_with_late_lines",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-07-01'
      AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    category="join",
    survey="J3-semi",
)
def q4_priority_with_late_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS with an inequality — Catalyst
    rewrites the semi-join condition; no driver-side loop."""
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    l = load(spark, sf_dir, "lineitem")
    return (
        o.join(l, (o.o_orderkey == l.l_orderkey) & (l.l_shipdate > o.o_orderdate), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@query(
    "q14_promo_revenue_share",
    oracle=f"""
    SELECT 100.0 * ({DSUM("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0 END")})
           / ({DSUM('l_extendedprice * (1 - l_discount)')}) AS promo_share
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-03-01' AND l_shipdate < TIMESTAMP '1997-04-01'
    """,
    category="join",
    survey="J2,A3,F12",
)
def q14_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional aggregate ratio over a fact-dim join."""
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    p = load(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .agg((F.lit(100.0) * dsum(promo) / dsum(rev)).alias("promo_share"))
    )


@query(
    "q18_large_volume_orders",
    oracle=f"""
    SELECT c_name, o_orderkey, o_orderdate, o_totalprice, {DSUM('l_quantity')} AS sum_qty
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey JOIN customer ON c_custkey = o_custkey
    GROUP BY c_name, o_orderkey, o_orderdate, o_totalprice
    HAVING {DSUM('l_quantity')} > 150
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
    """,
    category="aggregate",
    survey="A3,A6-having",
)
def q18_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: aggregate + HAVING + top-k."""
    o = load(spark, sf_dir, "orders")
    l = load(spark, sf_dir, "lineitem")
    c = load(spark, sf_dir, "customer")
    return (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(dsum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 150)
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(20)
    )


@query(
    "q19_disjunctive_predicates",
    oracle=f"""
    SELECT {DSUM('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)
    """,
    category="filter",
    survey="P6-disjunctive",
)
def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-AND predicate pushdown across a join."""
    l = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    j = l.join(p, F.col("p_partkey") == F.col("l_partkey"))
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 25) & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 35) & F.col("l_quantity").between(20, 30))
    )
    return j.filter(cond).agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))


@query(
    "q22_idle_rich_customers",
    oracle=f"""
    WITH avg_bal AS (SELECT {DAVG('c_acctbal')} AS ab FROM customer WHERE c_acctbal > 0)
    SELECT c_mktsegment, COUNT(*) AS numcust, {DSUM('c_acctbal')} AS totacctbal
    FROM customer, avg_bal
    WHERE c_acctbal > ab
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    category="join",
    survey="J3-anti,scalar-subquery",
)
def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar subquery threshold + anti join."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(davg("c_acctbal").alias("ab"))
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("numcust"), dsum("c_acctbal").alias("totacctbal"))
        .orderBy("c_mktsegment")
    )


@query(
    "w_top3_spenders_per_nation",
    oracle=f"""
    WITH spend AS (
      SELECT c_nationkey, c_custkey, {DSUM('o_totalprice')} AS total_spend
      FROM customer JOIN orders ON c_custkey = o_custkey
      GROUP BY c_nationkey, c_custkey
    )
    SELECT c_nationkey, c_custkey, total_spend, rn FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY total_spend DESC, c_custkey) AS BIGINT) AS rn
      FROM spend
    ) WHERE rn <= 3
    """,
    category="window",
    survey="W2,A3",
)
def w_top3_spenders_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group via ranking window (one shuffle on the group key)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    spend = (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy("c_nationkey", "c_custkey")
        .agg(dsum("o_totalprice").alias("total_spend"))
    )
    out = topk_per_group(
        spend, ["c_nationkey"], [F.desc("total_spend"), F.col("c_custkey")], 3, rank_col="rn"
    )
    return out.withColumn("rn", F.col("rn").cast("long"))


@query(
    "w_running_account_value",
    oracle="""
    SELECT event_id, user_id,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
    FROM events WHERE user_id < 10
    """,
    category="window",
    survey="W-frame",
)
def w_running_account_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative-frame window aggregate (decimal accumulation so the
    running sum is identical regardless of the engine's frame algorithm)."""
    e = load(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        F.sum(F.col("value").cast("decimal(38,6)")).over(w).cast("double").alias("running_value"),
    )


@query(
    "w_lag_event_spacing",
    oracle="""
    SELECT user_id, COUNT(*) AS n_gaps,
           CAST(SUM(gap_us) AS BIGINT) AS total_gap_us
    FROM (
      SELECT user_id, epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      FROM events
    ) WHERE gap_us IS NOT NULL
    GROUP BY user_id HAVING COUNT(*) >= 5
    """,
    category="window",
    survey="W-lag",
)
def w_lag_event_spacing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag() over event time: inter-arrival gaps per user (micros —
    integer arithmetic, no float drift)."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    gaps = e.select(
        "user_id",
        (epoch_us(F.col("ts")) - F.lag(epoch_us(F.col("ts"))).over(w)).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    return (
        gaps.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_gaps"), F.sum("gap_us").alias("total_gap_us"))
        .filter(F.col("n_gaps") >= 5)
    )


@query(
    "w_dense_rank_parts_by_brand",
    oracle="""
    SELECT p_brand, p_partkey, p_retailprice, drk FROM (
      SELECT p_brand, p_partkey, p_retailprice,
             CAST(DENSE_RANK() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC) AS BIGINT) AS drk
      FROM part
    ) WHERE drk <= 2
    """,
    category="window",
    survey="W2-rank",
)
def w_dense_rank_parts_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dense_rank with ties kept — contrast with row_number top-k."""
    p = load(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"))
    return (
        p.select("p_brand", "p_partkey", "p_retailprice", F.dense_rank().over(w).cast("long").alias("drk"))
        .filter(F.col("drk") <= 2)
    )


@query(
    "u_nation_presence_setops",
    oracle="""
    SELECT 'both' AS which, COUNT(*) AS n FROM (
      SELECT c_nationkey AS nk FROM customer INTERSECT SELECT s_nationkey FROM supplier)
    UNION ALL
    SELECT 'customer_only', COUNT(*) FROM (
      SELECT c_nationkey FROM customer EXCEPT SELECT s_nationkey FROM supplier)
    UNION ALL
    SELECT 'union_distinct', COUNT(*) FROM (
      SELECT c_nationkey FROM customer UNION SELECT s_nationkey FROM supplier)
    """,
    category="setop",
    survey="U1,U2",
)
def u_nation_presence_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION DISTINCT in one result."""
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    both = c.intersect(s).agg(F.count(F.lit(1)).alias("n")).select(F.lit("both").alias("which"), "n")
    conly = c.subtract(s).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("customer_only").alias("which"), "n"
    )
    uni = c.union(s).distinct().agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("union_distinct").alias("which"), "n"
    )
    return both.unionByName(conly).unionByName(uni)


@query(
    "o_price_sorted_lines",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
    LIMIT 50
    """,
    category="sort",
    survey="O1,O7,W2",
)
def o_price_sorted_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global multi-key sort + limit (TakeOrderedAndProject — no full
    sort materialisation, each partition contributes its top 50)."""
    l = load(spark, sf_dir, "lineitem")
    return (
        l.select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(F.desc("l_extendedprice"), "l_orderkey", "l_linenumber")
        .limit(50)
    )


@query(
    "a_rollup_flag_status",
    oracle=f"""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n, {DSUM('l_quantity')} AS qty
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    category="aggregate",
    survey="A-rollup[abs]",
)
def a_rollup_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (absent in the reference; engine surface)."""
    l = load(spark, sf_dir, "lineitem")
    return l.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"), dsum("l_quantity").alias("qty")
    )


@query(
    "a_cube_priority_status",
    oracle="""
    SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n
    FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus)
    """,
    category="aggregate",
    survey="A-cube[abs]",
)
def a_cube_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets."""
    o = load(spark, sf_dir, "orders")
    return o.cube("o_orderpriority", "o_orderstatus").agg(F.count(F.lit(1)).alias("n"))


@query(
    "a_variance_by_segment",
    oracle=f"""
    SELECT c_mktsegment, COUNT(c_acctbal) AS n,
           {DSUM('c_acctbal')} AS s1,
           CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(24,6)) * CAST(c_acctbal AS DECIMAL(24,6))) AS DECIMAL(38,4)) AS DOUBLE) AS s2,
           (CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(24,6)) * CAST(c_acctbal AS DECIMAL(24,6))) AS DECIMAL(38,4)) AS DOUBLE)
              - ({DSUM('c_acctbal')}) * ({DSUM('c_acctbal')}) / COUNT(c_acctbal))
             / (COUNT(c_acctbal) - 1) AS var_samp_bal
    FROM customer GROUP BY c_mktsegment
    """,
    category="aggregate",
    survey="A-stats[abs]",
)
def a_variance_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample variance from exact decimal moments (engine-independent,
    unlike builtin stddev/var whose accumulation order varies).

    The second moment squares in DECIMAL, not double: money values
    carry ≤2 decimal digits, so the double→decimal(24,6) cast is
    unambiguous per row, and decimal×decimal is exact — squaring in
    double first and casting the product is engine-dependent in the
    last ulp (the rounding point sits mid-expansion; surfaced at
    sf0.1 as a 1-ulp s2 drift). The sum is then cast to scale 4
    BEFORE the double cast — lossless (squares of 2-decimal values
    have exactly ≤4 decimals, so no rounding happens and DuckDB's
    truncate-vs-Spark's-HALF_UP downscale difference never fires),
    and the scale-4 integer stays under 2^53 so the int→double
    conversion is exact in both engines (at scale 6 it exceeded 2^53
    and double-rounded differently per engine).

    ENVELOPE (measured, r11 adversarial-relational sweep): the
    exactness argument needs Σx²·10⁴ < 2⁵³, i.e. Σx² ≲ 9e11 per
    group — true for money-scale balances at every driver SF (sf0.1:
    Σx² ≈ 4.5e11), broken by a single ±8.9e6 outlier (x² ≈ 8e13),
    where the two engines' int→double roundings drifted by ~4e2 in
    s2. Same ceiling family as dsum's |sum|·10⁶ < 2⁵³ (registry.py);
    the adversarial corpus keeps its extreme balances at ±9e4 for
    this reason, documented at its build site."""
    c = load(spark, sf_dir, "customer")
    bal = F.col("c_acctbal")
    dec = bal.cast("decimal(24,6)")
    g = c.groupBy("c_mktsegment").agg(
        F.count(bal).alias("n"),
        dsum(bal).alias("s1"),
        F.sum(dec * dec).cast("decimal(38,4)").cast("double").alias("s2"),
    )
    return g.select(
        "c_mktsegment",
        "n",
        "s1",
        "s2",
        ((F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / (F.col("n") - 1)).alias("var_samp_bal"),
    )


@query(
    "a_top_combos_priority_status",
    oracle="""
    SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n
    FROM orders GROUP BY o_orderpriority, o_orderstatus
    ORDER BY n DESC, o_orderpriority, o_orderstatus LIMIT 5
    """,
    category="aggregate",
    survey="A8",
)
def a_top_combos_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY A8: most common condition combinations (frequency-
    informed top-k guess baseline)."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "o_orderpriority", "o_orderstatus")
        .limit(5)
    )


@query(
    "e_hourly_event_rollups",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS hour, event_type,
           COUNT(*) AS n, {DSUM('value')} AS total_value
    FROM events GROUP BY 1, 2
    """,
    category="events",
    survey="streaming-batch-twin",
)
def e_hourly_event_rollups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregate (batch twin of the Structured
    Streaming ingestion query in orderly_spark.streaming)."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("total_value"))
    )


@query(
    "e_sessionized_counts",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 30 * 60 * 1000000 THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id,
             CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS BIGINT) AS session_id
      FROM flagged
    )
    SELECT user_id, CAST(COUNT(DISTINCT session_id) AS BIGINT) AS n_sessions,
           COUNT(*) AS n_events
    FROM sess GROUP BY user_id
    """,
    category="events",
    survey="W-lag,sessionize",
)
def e_sessionized_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min) via the engine operator."""
    e = load(spark, sf_dir, "events")
    s = sessionize(e, "user_id", "ts", 30.0, "event_id")
    return s.groupBy("user_id").agg(
        F.countDistinct("session_id").alias("n_sessions"), F.count(F.lit(1)).alias("n_events")
    )


@query(
    "e_json_props_sum",
    oracle="""
    SELECT event_type, CAST(SUM(TRY_CAST(json_extract_string(TRY_CAST(props AS JSON), '$.k') AS BIGINT)) AS BIGINT) AS k_sum
    FROM events GROUP BY event_type
    """,
    category="events",
    survey="F-json[abs]",
)
def e_json_props_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: JSON path into typed aggregation.

    try_cast/TRY_CAST on BOTH twins (review finding): under Spark 4's
    default ANSI mode a plain cast('long') THROWS on a non-numeric k
    and DuckDB's plain CAST raises too — the same latent
    engine-crash class source_num() hit in r7. Malformed k now drops
    to NULL symmetrically (current testdata is all-integer, so values
    are unchanged; arrays_battery.py made this exact switch in r8
    pass 1)."""
    e = load(spark, sf_dir, "events")
    return (
        e.select("event_type", F.get_json_object("props", "$.k").try_cast("long").alias("k"))
        .groupBy("event_type")
        .agg(F.sum("k").alias("k_sum"))
    )


@query(
    "e_pivot_user_event_matrix",
    oracle="""
    SELECT user_id,
           COUNT(*) FILTER (WHERE event_type = 'click')    AS n_click,
           COUNT(*) FILTER (WHERE event_type = 'view')     AS n_view,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
           COUNT(*) FILTER (WHERE event_type = 'signup')   AS n_signup,
           COUNT(*) FILTER (WHERE event_type = 'error')    AS n_error
    FROM events WHERE user_id < 25 GROUP BY user_id
    """,
    category="events",
    survey="A9-pivot",
)
def e_pivot_user_event_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot to a fixed event-type matrix (explicit values → no extra
    distinct-values job, required at scale)."""
    e = load(spark, sf_dir, "events").filter(F.col("user_id") < 25)
    aggs = [
        F.count(F.when(F.col("event_type") == t, 1)).alias(f"n_{t}")
        for t in ("click", "view", "purchase", "signup", "error")
    ]
    return e.groupBy("user_id").agg(*aggs)


@query(
    "asof_purchase_after_click",
    oracle="""
    SELECT p.event_id, p.user_id, p.value,
           c.event_id AS click_event_id, c.ts AS click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
    category="join",
    survey="J-asof[abs]",
)
def asof_purchase_after_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the latest click at or
    before it (engine operator: union + window carry-forward — one
    shuffle, no inequality nested loop)."""
    e = load(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase")
    clicks = e.filter(F.col("event_type") == "click").select("user_id", "ts", "event_id")
    out = asof_join_backward(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_value_cols=["event_id"],
        suffix="_click",
    )
    return out.select(
        "event_id",
        "user_id",
        "value",
        F.col("event_id_click").alias("click_event_id"),
        F.col("ts_click").alias("click_ts"),
    )


@query(
    "asof_forward_next_click",
    oracle="""
    SELECT v.event_id, v.user_id,
           c.event_id AS click_event_id, c.ts AS click_ts
    FROM (SELECT * FROM events WHERE event_type = 'view') v
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON v.user_id = c.user_id AND v.ts <= c.ts
    """,
    category="join",
    survey="J-asof-fwd[abs],J-asof[abs]",
)
def asof_forward_next_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join (merge_asof direction='forward'): each view
    matched to the EARLIEST click at or after it — the response-time /
    next-action primitive, completing the as-of family. Same single
    key-shuffle union+window plan as the backward join with the time
    order reversed; no inequality join reaches the optimizer."""
    from orderly_spark.operators.asof import asof_join_forward

    e = load(spark, sf_dir, "events")
    views = e.filter(F.col("event_type") == "view")
    clicks = e.filter(F.col("event_type") == "click").select("user_id", "ts", "event_id")
    out = asof_join_forward(
        views,
        clicks,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_value_cols=["event_id"],
        suffix="_click",
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("event_id_click").alias("click_event_id"),
        F.col("ts_click").alias("click_ts"),
    )


@query(
    "asof_nearest_click",
    # the two directional ASOF passes are recombined on a synthetic
    # per-ROW key (rk), not on event_id: the r13 streaming corpus
    # showed that duplicate view event_ids fan the event_id self-join
    # out 2x2 while the as-of contract (and the Spark side) emits one
    # row per LEFT INPUT ROW. rk orders by ALL view columns incl.
    # props (r14 ADVICE: ordering by (event_id, ts) alone let rows
    # equal in those two but differing in user_id/value rank
    # differently between the two window evaluations if DuckDB
    # inlines v into both b and f, mispairing the halves; r15 ADVICE:
    # props completes the total order) — ties are now confined to
    # FULLY identical rows, which are interchangeable.
    oracle="""
    WITH v AS (SELECT *, row_number()
                 OVER (ORDER BY event_id, ts, user_id, value, props) AS rk
               FROM events WHERE event_type = 'view'),
         c AS (SELECT * FROM events WHERE event_type = 'click'),
         b AS (SELECT v.rk, v.event_id, v.user_id, v.ts,
                      c.event_id AS b_id, c.ts AS b_ts
               FROM v ASOF LEFT JOIN c
                 ON v.user_id = c.user_id AND v.ts >= c.ts),
         f AS (SELECT v.rk, c.event_id AS f_id, c.ts AS f_ts
               FROM v ASOF LEFT JOIN c
                 ON v.user_id = c.user_id AND v.ts <= c.ts)
    SELECT b.event_id, b.user_id,
           CASE WHEN b_id IS NULL THEN f_id
                WHEN f_id IS NULL THEN b_id
                WHEN (f_ts - b.ts) < (b.ts - b_ts) THEN f_id
                ELSE b_id END AS click_event_id,
           CASE WHEN b_id IS NULL THEN f_ts
                WHEN f_id IS NULL THEN b_ts
                WHEN (f_ts - b.ts) < (b.ts - b_ts) THEN f_ts
                ELSE b_ts END AS click_ts
    FROM b JOIN f USING (rk)
    """,
    category="join",
    survey="J-asof-nearest[abs],J-asof[abs]",
)
def asof_nearest_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of join (merge_asof direction='nearest'), completing
    the family: each view matched to whichever click is closer in time
    — exact-distance ties to the backward match. One tagged union, two
    window passes over the SAME key partitioning (no second exchange),
    per-row pick-nearer on whole-row structs; the oracle composes
    DuckDB's two directional ASOF joins with the same tie rule."""
    from orderly_spark.operators.asof import asof_join_nearest

    e = load(spark, sf_dir, "events")
    views = e.filter(F.col("event_type") == "view").select("event_id", "user_id", "ts")
    clicks = e.filter(F.col("event_type") == "click").select("user_id", "ts", "event_id")
    out = asof_join_nearest(
        views,
        clicks,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_value_cols=["event_id"],
        suffix="_click",
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("event_id_click").alias("click_event_id"),
        F.col("ts_click").alias("click_ts"),
    )


@query(
    "a_grouping_sets_mixed",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           GROUPING(o_orderstatus) AS g_status, GROUPING(o_orderpriority) AS g_prio,
           COUNT(*) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), (o_orderstatus, o_orderpriority))
    """,
    category="aggregate",
    survey="A-gsets[abs]",
)
def a_grouping_sets_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (beyond rollup/cube) with GROUPING()
    markers — one shuffle produces all three granularities."""
    o = load(spark, sf_dir, "orders")
    return o.groupingSets(
        [["o_orderstatus"], ["o_orderpriority"], ["o_orderstatus", "o_orderpriority"]],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        F.grouping("o_orderstatus").cast("long").alias("g_status"),
        F.grouping("o_orderpriority").cast("long").alias("g_prio"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "w_ntile_balance_quartiles",
    oracle=f"""
    SELECT c_mktsegment, quartile, COUNT(*) AS n, {DSUM('c_acctbal')} AS bal
    FROM (
      SELECT c_mktsegment, c_acctbal,
             NTILE(4) OVER (PARTITION BY c_mktsegment
                            ORDER BY c_acctbal NULLS FIRST, c_custkey) AS quartile
      FROM customer
    )
    GROUP BY c_mktsegment, quartile
    """,
    category="window",
    survey="W-ntile[abs]",
)
def w_ntile_balance_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE bucketing per partition (deterministic tie-break on the
    key), aggregated per bucket. NULL placement is EXPLICIT on both
    twins: Spark's ASC default is NULLS FIRST but DuckDB's is NULLS
    LAST — a NULL balance (r11 adversarial-relational corpus) shifted
    quartile membership until both sides pinned NULLS FIRST."""
    c = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").asc_nulls_first(), "c_custkey"
    )
    return (
        c.withColumn("quartile", F.ntile(4).over(w))
        .groupBy("c_mktsegment", "quartile")
        .agg(F.count(F.lit(1)).alias("n"), dsum("c_acctbal").alias("bal"))
    )


@query(
    "a_exact_quantity_percentiles",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.25) AS p25,
           quantile_cont(l_quantity, 0.5)  AS p50,
           quantile_cont(l_quantity, 0.75) AS p75
    FROM lineitem GROUP BY l_returnflag
    """,
    category="aggregate",
    survey="A-pctl[abs]",
)
def a_exact_quantity_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolated percentiles. Engine-independent here
    because l_quantity is integral-valued and 0.25/0.5/0.75 are exact
    binary fractions — the interpolation arithmetic has no rounding."""
    l = load(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", F.lit(0.25)).alias("p25"),
        F.percentile("l_quantity", F.lit(0.5)).alias("p50"),
        F.percentile("l_quantity", F.lit(0.75)).alias("p75"),
    )


@query(
    "j_band_quantity_tiers",
    oracle=f"""
    SELECT t.label AS tier, COUNT(*) AS n, {DSUM('l.l_extendedprice')} AS revenue
    FROM lineitem l
    JOIN (VALUES ('low', 0.0, 15.0), ('mid', 15.0, 35.0), ('high', 35.0, 1e9)) AS t(label, lo, hi)
      ON l.l_quantity >= t.lo AND l.l_quantity < t.hi
    GROUP BY t.label
    """,
    category="join",
    survey="J-range[abs]",
)
def j_band_quantity_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band (range) join against a tiny tier dimension: broadcast the
    dimension so the inequality join is a broadcast nested loop over
    ~3 rows per input row — scan-bound at any corpus size, no shuffle
    before the final aggregation."""
    l = load(spark, sf_dir, "lineitem")
    tiers = l.sparkSession.createDataFrame(
        [("low", 0.0, 15.0), ("mid", 15.0, 35.0), ("high", 35.0, 1e9)], ["tier", "lo", "hi"]
    )
    return (
        l.join(F.broadcast(tiers), (F.col("l_quantity") >= F.col("lo")) & (F.col("l_quantity") < F.col("hi")))
        .groupBy("tier")
        .agg(F.count(F.lit(1)).alias("n"), dsum("l_extendedprice").alias("revenue"))
    )


@query(
    "e_resample_forward_fill",
    oracle="""
    WITH hourly AS (
      SELECT user_id, hour, v, n FROM (
        SELECT user_id, date_trunc('hour', ts) AS hour, value AS v,
               ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                                  ORDER BY ts DESC, event_id DESC) AS rn,
               COUNT(*) OVER (PARTITION BY user_id, date_trunc('hour', ts)) AS n
        FROM events) WHERE rn = 1
    ),
    bounds AS (
      SELECT user_id, MIN(hour) AS h0, MAX(hour) AS h1 FROM hourly GROUP BY user_id
    ),
    grid AS (
      SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour FROM bounds
    ),
    joined AS (
      SELECT g.user_id, g.hour, h.v, COALESCE(h.n, 0) AS n_events
      FROM grid g LEFT JOIN hourly h ON g.user_id = h.user_id AND g.hour = h.hour
    )
    SELECT user_id, hour, n_events,
           last_value(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY hour
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value,
           (n_events = 0) AS is_gap
    FROM joined
    """,
    category="events",
    survey="resample[abs],O4-forward-fill",
)
def e_resample_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling onto a regular 1-hour grid with forward
    fill — the hypertable/rollup operator family the reference lacks:
    per user, every hour between first and last activity exists (gaps
    synthesised by an explode of sequence()), carrying the LAST
    observed value forward (last-ignore-nulls window). Per-hour value
    = last event wins (row_number over ts desc, event_id desc —
    deterministic).

    Scale shape: the grid explode is bounded by user-span hours, not
    events; one shuffle on user_id serves the hourly aggregate, the
    grid join, and the fill window."""
    e = load(spark, sf_dir, "events")
    hw = Window.partitionBy("user_id", F.date_trunc("hour", "ts")).orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    hourly = (
        e.select(
            "user_id",
            F.date_trunc("hour", "ts").alias("hour"),
            F.col("value").alias("v"),
            F.row_number().over(hw).alias("__rn"),
            F.count(F.lit(1)).over(hw.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)).alias("n"),
        )
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    bounds = hourly.groupBy("user_id").agg(F.min("hour").alias("h0"), F.max("hour").alias("h1"))
    grid = bounds.select(
        "user_id",
        F.explode(F.sequence("h0", "h1", F.expr("interval 1 hour"))).alias("hour"),
    )
    joined = grid.join(hourly, ["user_id", "hour"], "left").select(
        "user_id", "hour", "v", F.coalesce("n", F.lit(0)).alias("n_events")
    )
    w = Window.partitionBy("user_id").orderBy("hour").rowsBetween(Window.unboundedPreceding, 0)
    return joined.select(
        "user_id",
        "hour",
        "n_events",
        F.last("v", ignorenulls=True).over(w).alias("filled_value"),
        (F.col("n_events") == 0).alias("is_gap"),
    )


@query(
    "x_multi_format_roundtrip",
    oracle="""
    WITH base AS (
      SELECT COUNT(*) AS n_rows,
             CAST(SUM(n_nationkey) AS BIGINT) AS key_sum,
             CAST(SUM(len(n_name)) AS BIGINT) AS name_chars
      FROM nation
    )
    SELECT fmt, n_rows, key_sum, name_chars
    FROM base, (VALUES ('csv'), ('json'), ('orc')) AS f(fmt)
    ORDER BY fmt
    """,
    category="sources",
    survey="S-formats[abs],S5",
)
def x_multi_format_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Format-agnostic ingest: the nation dimension is written out as
    CSV, JSON-lines, and ORC, read back through the corresponding
    native sources, and each copy must reproduce identical exact
    aggregates — same engine surface whatever the wire format (the
    columnar ORC path keeps pushdown/pruning like parquet; CSV/JSON
    are the schema-on-read text paths with explicit schemas, never
    inference, so types round-trip deterministically)."""
    import os
    import tempfile

    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    tmp = tempfile.mkdtemp(prefix="orderly_formats_")
    schema = "n_nationkey bigint, n_name string, n_regionkey bigint"
    outs = []
    for fmt in ("csv", "json", "orc"):
        path = os.path.join(tmp, fmt)
        w = n.coalesce(1).write.mode("overwrite")
        if fmt == "csv":
            w.option("header", True).csv(path)
            back = spark.read.schema(schema).option("header", True).csv(path)
        elif fmt == "json":
            w.json(path)
            back = spark.read.schema(schema).json(path)
        else:
            w.orc(path)
            back = spark.read.orc(path)
        outs.append(
            back.agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("n_nationkey").cast("long").alias("key_sum"),
                F.sum(F.length("n_name")).cast("long").alias("name_chars"),
            ).select(F.lit(fmt).alias("fmt"), "n_rows", "key_sum", "name_chars")
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    from orderly_spark.tables import materialize_then_clean

    return materialize_then_clean(out.orderBy("fmt"), tmp)


@query(
    "j_bucketed_colocated_join",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS total_qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
    category="relational",
    survey="J-bucketed[abs],J-equi",
)
def j_bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free fact-to-fact join via BUCKETING — the storage-side
    co-location strategy for recurring big joins at 100 TB: lineitem
    and orders are saved bucketed 8 ways on the join key; because both
    sides expose the same bucketed distribution, the SortMergeJoin
    needs NO Exchange on either input (tests/test_plans.py pins
    exchange-free-ness). On a cluster this is the difference between
    shuffling both fact tables on every run and shuffling once at
    write time; the same aggregate's oracle certifies values are
    unchanged by the physical strategy."""
    import atexit
    import os
    import shutil
    import tempfile

    # FIXED names + overwrite into a FIXED scratch location: repeated
    # gate runs reuse (not accumulate) the bucketed copies — the old
    # uuid-per-run names leaked two fact-table copies per run (review
    # finding). A checkpoint-then-delete would hide the SMJ from the
    # plan guard, so the bounded-reuse strategy is the right fix here;
    # stale locations from interrupted runs are removed first (DROP
    # TABLE on a lost catalog entry leaves the dir behind and
    # saveAsTable then fails with LOCATION_ALREADY_EXISTS). Scoped per
    # user + Spark application so concurrent sessions on a shared host
    # can't overwrite each other's bucket files mid-read, and the path
    # isn't squattable by another user (review finding r5) — bounded
    # reuse still holds within a session (app id is stable across
    # repeated gate runs in one session).
    uid = getattr(os, "getuid", lambda: "u")()
    app = spark.sparkContext.applicationId
    warehouse = f"{tempfile.gettempdir()}/orderly_buckets_{uid}_{app}"
    # per-session scoping would otherwise accumulate one dir per
    # session in /tmp — remove this session's copy at interpreter
    # exit, and reap THIS USER's orphans from sessions that died
    # before their atexit ran (SIGKILL/OOM; review r6). The mtime
    # threshold must exceed any plausible live-session lifetime, not
    # just its rerun cadence: a session that wrote buckets hours ago
    # and lazily re-reads its returned DataFrame (late grading) never
    # refreshes mtime, so a short threshold could reap a LIVE sibling
    # mid-read (advice r6) — 48 h comfortably exceeds the ~6 h round.
    if warehouse not in _BUCKET_SCRATCH_REGISTERED:
        _BUCKET_SCRATCH_REGISTERED.add(warehouse)
        atexit.register(shutil.rmtree, warehouse, ignore_errors=True)
        import glob
        import time as _time

        def _stale(p: str) -> bool:
            try:
                return _time.time() - os.path.getmtime(p) > 48 * 3600
            except OSError:
                return False

        for stale in glob.glob(f"{tempfile.gettempdir()}/orderly_buckets_{uid}_*"):
            # re-stat immediately before deleting: a live session that
            # just refreshed its dir (overwrite-rerun) flips the check
            # between glob and rmtree, shrinking the TOCTOU window to
            # the stat→rmtree gap — reaching it requires a >6h-idle
            # session to rerun within that microsecond gap (review r6;
            # residual risk accepted and documented)
            if stale != warehouse and _stale(stale):
                shutil.rmtree(stale, ignore_errors=True)
    tag = "v1"
    l = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    for name, df, key in ((f"l_b_{tag}", l, "l_orderkey"), (f"o_b_{tag}", o, "o_orderkey")):
        if not spark.catalog.tableExists(name):
            shutil.rmtree(f"{warehouse}/{name}", ignore_errors=True)
        (
            df.write.mode("overwrite")
            .option("path", f"{warehouse}/{name}")
            .bucketBy(8, key)
            .sortBy(key)
            .saveAsTable(name)
        )
    lb = spark.table(f"l_b_{tag}")
    ob = spark.table(f"o_b_{tag}")
    # hint("merge"): declare the fact-to-fact strategy explicitly —
    # at gate scale AQE would broadcast the small side and the
    # bucketed SMJ (the thing this query demonstrates) would never
    # materialise; at 100 TB SMJ is what the optimizer picks anyway
    joined = lb.join(ob.hint("merge"), lb["l_orderkey"] == ob["o_orderkey"])
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        dsum("l_quantity").alias("total_qty"),
    )


@query(
    "w_range_frame_trailing_hour",
    oracle="""
    SELECT user_id, event_id,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER w AS DOUBLE) AS hour_sum,
           COUNT(*) OVER w AS hour_n
    FROM events WHERE user_id < 10
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
    category="window",
    survey="W-range[abs]",
)
def w_range_frame_trailing_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame windows — the VALUE-based frame class (rows whose
    ordering key lies in [current-1h, current]) as opposed to the
    ROWS-based frames every other window query here uses: per event,
    the trailing-hour sum and count of the same user's activity, the
    rolling-window feature a fraud/abuse pipeline computes per event.
    Frame bounds are on epoch MICROSECONDS (exact integers; a cast to
    seconds would truncate and disagree with DuckDB's fractional
    epoch()); peers with an identical timestamp are included on both
    engines by RANGE semantics. One hash(user_id) exchange serves
    both window aggregates."""
    e = load(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    us = epoch_us(F.col("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-3_600_000_000, 0)
    )
    return e.select(
        "user_id",
        "event_id",
        F.sum(F.col("value").cast("decimal(38,6)")).over(w).cast("double").alias("hour_sum"),
        F.count(F.lit(1)).over(w).alias("hour_n"),
    )


@query(
    "a_winsorized_group_stats",
    oracle=f"""
    WITH q AS (
      SELECT event_type,
             quantile_cont(value, 0.25) AS lo,
             quantile_cont(value, 0.75) AS hi
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           COUNT(*) AS n,
           COUNT(*) FILTER (WHERE e.value < q.lo OR e.value > q.hi) AS n_clipped,
           {DSUM('least(greatest(e.value, q.lo), q.hi)')} AS winsorized_sum
    FROM events e JOIN q USING (event_type)
    GROUP BY e.event_type
    """,
    category="aggregate",
    survey="A-winsorize[abs],A-pctl[abs]",
)
def a_winsorized_group_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-wise winsorization — robust-statistics outlier clipping:
    every value is clamped to its event_type's [p25, p75] band and the
    clipped aggregate reported alongside how many rows were clamped
    (the cleaning step that stops a few corrupt readings from skewing
    training statistics). Quartiles (exact binary fractions) keep the
    interpolation arithmetic engine-identical — an 0.05 quantile's
    interpolation weight would differ in the last ulp between engines.

    Scale shape: one pass computes per-group quartiles (tiny result),
    broadcast back onto the fact table, clip map-side, aggregate —
    the fact table is scanned twice but never shuffled beyond the two
    group-key exchanges."""
    e = load(spark, sf_dir, "events")
    q = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.25)).alias("lo"),
        F.percentile("value", F.lit(0.75)).alias("hi"),
    )
    j = e.join(F.broadcast(q), "event_type")
    clipped = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when((F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi")), 1)).alias(
            "n_clipped"
        ),
        dsum(clipped).alias("winsorized_sum"),
    )


from orderly_spark.operators.layout import ZVALUE_SQL, zvalue  # noqa: E402

_ZBITS = 10


@query(
    "r_zorder_morton_codes",
    oracle=f"""
    SELECT l_orderkey, l_linenumber,
           {ZVALUE_SQL(['l_partkey', 'l_suppkey'], _ZBITS)} AS zval
    FROM lineitem
    """,
    category="layout",
    survey="zorder[abs]",
)
def r_zorder_morton_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) codes over (l_partkey, l_suppkey) — the
    clustering key a compaction job sorts by so that later filters on
    EITHER column prune parquet files via plain min/max stats (the
    OPTIMIZE ZORDER BY mechanism, as a pure codegen expression; the
    layout win itself is measured on real files in
    tests/test_storage_layout.py). Exact integer bit interleaving →
    full value oracle."""
    l = load(spark, sf_dir, "lineitem")
    return l.select(
        "l_orderkey",
        "l_linenumber",
        zvalue([F.col("l_partkey"), F.col("l_suppkey")], _ZBITS).alias("zval"),
    )


_COMPACT_TARGET = 8192  # target output-file bytes (deliberately small at gate SF)


@query(
    "r_compaction_bin_packing",
    oracle=f"""
    WITH hourly AS (
      SELECT epoch_us(ts) // 3600000000 AS hour,
             COUNT(*) AS n_rows,
             CAST(SUM(40 + length(event_type) + length(props)) AS BIGINT) AS bytes
      FROM events GROUP BY 1
    ), planned AS (
      SELECT *,
             CAST(COALESCE(SUM(bytes) OVER (ORDER BY hour
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               // {_COMPACT_TARGET} AS bin_id
      FROM hourly
    )
    SELECT bin_id, COUNT(*) AS n_hours, CAST(SUM(n_rows) AS BIGINT) AS n_rows,
           CAST(SUM(bytes) AS BIGINT) AS bin_bytes,
           MIN(hour) AS first_hour, MAX(hour) AS last_hour
    FROM planned GROUP BY bin_id
    """,
    category="layout",
    survey="compaction[abs],S5",
)
def r_compaction_bin_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planning (the OPTIMIZE bin-packing half of
    table maintenance, next to Z-ORDER's clustering half): per-hour
    size estimates are greedily packed into consecutive target-size
    output bins via a prefix-exclusive running sum div target — each
    bin closes once it reaches the target, exactly Delta OPTIMIZE's
    greedy accumulation, as pure window arithmetic.

    Scale shape: the PLAN runs on per-hour stats — one (hour) agg over
    the facts, then a window over #hours rows (24·days — metadata
    scale, thousands of rows at any data size), so the global-order
    window is over the tiny planning table, never the facts. Executing
    the plan is one repartition(bin_id) write (demonstrated on real
    files in tests/test_storage_layout.py: output file count ==
    planned bin count). Integer byte estimates and epoch-hour keys
    keep every value engine-identical."""
    e = load(spark, sf_dir, "events")
    # INTEGER `div` end-to-end (never a double '/'): double-quotient
    # floor/cast agrees with the oracle's `//` only below 2^53 and
    # only for non-negative values — the exact engine-divergence class
    # the r5 ledger records for k-means (review finding r6). At 100 TB
    # the cumulative byte sum genuinely passes 2^53.
    # NON-NEGATIVE-EPOCH ASSUMPTION (advice r6): Spark's `div`
    # truncates toward zero while DuckDB's `//` floors, so the hour
    # bucketing would diverge for pre-1970 timestamps (eus < 0). The
    # events table's ts domain is 2023+ (TESTDATA.md) and the oracle
    # shares the same assumption; a floor-division rewrite is the fix
    # if negative epochs ever enter the domain.
    hourly = (
        e.select(
            epoch_us(F.col("ts")).alias("eus"),
            (F.lit(40) + F.length("event_type") + F.length("props")).alias("est"),
        )
        .select(F.expr("eus div 3600000000").alias("hour"), "est")
        .groupBy("hour")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("est").alias("bytes"))
    )
    w = Window.orderBy("hour").rowsBetween(Window.unboundedPreceding, -1)
    planned = hourly.withColumn(
        "run", F.coalesce(F.sum("bytes").over(w), F.lit(0).cast("long"))
    ).withColumn("bin_id", F.expr(f"run div {_COMPACT_TARGET}"))
    return planned.groupBy("bin_id").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum("n_rows").alias("n_rows"),
        F.sum("bytes").alias("bin_bytes"),
        F.min("hour").alias("first_hour"),
        F.max("hour").alias("last_hour"),
    )


@query(
    "j_salted_supplier_revenue",
    oracle=f"""
    SELECT s_nationkey,
           {DSUM('l_extendedprice * (1 - l_discount)')} AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_nationkey
    """,
    category="join",
    survey="skew-salting[abs],J-equi",
)
def j_salted_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted equi-join, value-gated against the plain join: the
    big (lineitem) side gets a deterministic-spread salt, the small
    (supplier) side is replicated ×n_salts, the join runs on
    (key, salt), and the salt is dropped before the aggregate — so the
    result is EXACTLY the plain join's, which is what the oracle pins.

    This is the 100 TB hot-key escape hatch when AQE skew splitting
    can't help (a downstream window/agg pins the partitioning): no
    single reducer ever owns a whole hot key, at the cost of
    replicating the small side n_salts times (keep it broadcast-sized
    ÷ n_salts). On one node, combinable aggregates and COUNT(DISTINCT)
    are already skew-immune (map-side partials; Catalyst's two-phase
    distinct rewrite), so salting is for joins and custom aggregations
    only; tests/test_storage_layout.py pins salted == plain
    row-for-row."""
    from orderly_spark.operators.relational import salted_join

    l = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    j = salted_join(l, s, "l_suppkey", n_salts=8)
    return j.groupBy("s_nationkey").agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


_HOUR_US = 3_600_000_000
_INC_HALF_US = 600_000_000  # ±10 min incident window


@query(
    "j_interval_overlap_join",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), numbered AS (
      SELECT *, SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS session_id
      FROM flagged
    ), sess AS (
      SELECT user_id, session_id,
             MIN(epoch_us(ts)) AS s_start, MAX(epoch_us(ts)) AS s_end
      FROM numbered GROUP BY user_id, session_id
    ), inc AS (
      SELECT event_id,
             epoch_us(ts) - {_INC_HALF_US} AS i_start,
             epoch_us(ts) + {_INC_HALF_US} AS i_end
      FROM events WHERE value > 250
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           COUNT(*) AS n_incidents,
           MIN(event_id) AS first_incident
    FROM sess JOIN inc ON s_start <= i_end AND i_start <= s_end
    GROUP BY user_id, session_id
    """,
    category="join",
    survey="J-interval[abs],J-range",
)
def j_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join at scale: per-user session intervals
    (30-min gap sessionization) x global incident windows (±10 min
    around high-value events), joined on the CLOSED-interval overlap
    predicate — the join Spark has no native operator for and a naive
    theta-join turns into a cartesian product.

    Scale shape: both interval sets explode to the 1-hour time buckets
    they cover (cost = interval length / bucket, bounded), the join is
    a plain EQUI-join on bucket id, the exact overlap predicate filters
    inside the join, and a distinct collapses pairs that share several
    buckets. Shuffles carry (bucket, 3 longs); no inequality join ever
    reaches the optimizer. Bucket width tunes the replication-vs-
    selectivity trade (match it to typical interval length). The
    oracle runs the honest inequality join — tractable at oracle
    scale, and exactly what the bucketed plan must reproduce."""
    e = load(spark, sf_dir, "events")
    sess = sessionize(e, "user_id", "ts", 30.0, "event_id")
    ints = sess.groupBy("user_id", "session_id").agg(
        F.min(epoch_us(F.col("ts"))).alias("s_start"),
        F.max(epoch_us(F.col("ts"))).alias("s_end"),
    )
    inc = e.filter(F.col("value") > 250).select(
        "event_id",
        (epoch_us(F.col("ts")) - _INC_HALF_US).alias("i_start"),
        (epoch_us(F.col("ts")) + _INC_HALF_US).alias("i_end"),
    )
    # INTEGER div end-to-end for the bucket derivation (review
    # finding: floor(long / const) detours through double space —
    # safe at epoch_us magnitude but the exact pattern the
    # r_compaction rule above bans; div keeps it exact at any
    # magnitude)
    sx = ints.withColumn(
        "bucket",
        F.explode(
            F.sequence(
                F.expr(f"s_start div {_HOUR_US}"), F.expr(f"s_end div {_HOUR_US}")
            )
        ),
    )
    ix = inc.withColumn(
        "bucket",
        F.explode(
            F.sequence(
                F.expr(f"i_start div {_HOUR_US}"), F.expr(f"i_end div {_HOUR_US}")
            )
        ),
    )
    pairs = (
        sx.join(ix, "bucket")
        .filter((F.col("s_start") <= F.col("i_end")) & (F.col("i_start") <= F.col("s_end")))
        .select("user_id", "session_id", "event_id")
        .distinct()
    )
    return pairs.groupBy("user_id", F.col("session_id").cast("long").alias("session_id")).agg(
        F.count(F.lit(1)).alias("n_incidents"),
        F.min("event_id").alias("first_incident"),
    )


def _HEX2BIG(expr: str, n: int = 12) -> str:
    """DuckDB SQL: parse the first ``n`` hex chars of ``expr`` as a
    BIGINT (positional sum — DuckDB has no base-conv function).
    Mirrors Spark's ``conv(substring(h,1,n), 16, 10)``."""
    return (
        "("
        + " + ".join(
            f"CAST((strpos('0123456789abcdef', substr({expr}, {i + 1}, 1)) - 1) AS BIGINT)"
            f" * {16 ** (n - 1 - i)}"
            for i in range(n)
        )
        + ")"
    )


_DOC_ROW = (
    "concat_ws('|', CAST(doc_id AS VARCHAR), text, lang, source, CAST(n_chars AS VARCHAR))"
)


@query(
    "a_table_checksum_rollup",
    oracle=f"""
    SELECT COALESCE(source, '<ALL>') AS source,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST({_HEX2BIG(f'md5({_DOC_ROW})')} AS DECIMAL(38,0))) AS VARCHAR)
             AS checksum
    FROM documents
    GROUP BY ROLLUP (source)
    """,
    category="validation",
    survey="checksum[abs],A-cube/rollup/stats/gsets/pctl",
)
def a_table_checksum_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent table content checksum, per source partition
    plus a rollup grand total — the cross-system reconciliation
    primitive (did the migration/replication/compaction preserve every
    row?): each row canonicalises to a delimited string, hashes to a
    48-bit integer (md5 prefix, base-16 parsed), and the group
    checksum is the exact-decimal SUM — commutative, so any partition
    order, retry, or engine produces the identical value. Emitted as a
    string because 48-bit row hashes summed over billions of rows
    exceed double's 2^53 exact range (DECIMAL(38,0) holds ~10^25 rows).

    Scale shape: pure map-side hashing + one rollup aggregation whose
    shuffle carries (source, decimal) pairs; verifying a 100 TB copy
    costs one scan per side. The same expression diffs two snapshots
    per-partition to localise corruption (pair with
    d_corpus_snapshot_diff for row-level triage)."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    row_str = F.concat_ws(
        "|",
        F.col("doc_id").cast("string"),
        F.col("text"),
        F.col("lang"),
        F.col("source"),
        F.col("n_chars").cast("string"),
    )
    h48 = F.conv(F.substring(F.md5(row_str), 1, 12), 16, 10).cast("decimal(38,0)")
    return (
        d.select(F.col("source"), h48.alias("__h"))
        .rollup("source")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("__h").cast("string").alias("checksum"))
        .select(
            F.coalesce(F.col("source"), F.lit("<ALL>")).alias("source"),
            "n_rows",
            "checksum",
        )
    )


@query(
    "j_fuzzy_name_match",
    oracle="""
    WITH named AS (
      SELECT c_name, substring(c_name, 1, length(c_name) - 2) AS block_key
      FROM customer
    )
    SELECT a.block_key,
           COUNT(*) AS n_candidate_pairs,
           COUNT(*) FILTER (WHERE levenshtein(a.c_name, b.c_name) <= 1)
             AS n_fuzzy_pairs
    FROM named a JOIN named b
      ON a.block_key = b.block_key AND a.c_name < b.c_name
    GROUP BY a.block_key
    """,
    category="join",
    survey="fuzzy-join[abs],J-equi",
)
def j_fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked string-similarity self-join (entity resolution): names
    sharing a blocking key (all but the last two characters) are
    candidate pairs; edit distance <= 1 marks fuzzy matches. Output is
    per-block candidate/match counts.

    The ER scale pattern: NEVER all-pairs Levenshtein — the blocking
    key turns the O(n²) comparison into an equi-join whose quadratic
    term is bounded by block size (choose keys so blocks stay ~10²-10³:
    sorted-neighborhood, q-gram, or phonetic keys in real pipelines).
    Edit distance itself is exact integer DP, identical in Spark and
    DuckDB, so the whole thing sits under the value oracle."""
    c = load(spark, sf_dir, "customer").select("c_name")
    named = c.withColumn(
        "block_key", F.expr("substring(c_name, 1, length(c_name) - 2)")
    )
    a, b = named.alias("a"), named.alias("b")
    joined = a.join(
        b,
        (F.col("a.block_key") == F.col("b.block_key"))
        & (F.col("a.c_name") < F.col("b.c_name")),
    )
    lev = F.levenshtein(F.col("a.c_name"), F.col("b.c_name"))
    return joined.groupBy(F.col("a.block_key").alias("block_key")).agg(
        F.count(F.lit(1)).alias("n_candidate_pairs"),
        F.count(F.when(lev <= 1, True)).alias("n_fuzzy_pairs"),
    )


_HLL_M, _HLL_CAP = 32, 25  # 2^5 buckets; register cap
_HLL_ALPHA_NUM = 0.697 * _HLL_M * _HLL_M * float(1 << _HLL_CAP)


@query(
    "a_hll_distinct_estimates",
    oracle=f"""
    WITH h AS (
      SELECT DISTINCT event_type, md5(CAST(user_id AS VARCHAR)) AS hx
      FROM events
    ), rr AS (
      SELECT event_type,
             {_HEX2BIG('substr(hx, 1, 2)', 2)} % {_HLL_M} AS bucket,
             CASE WHEN {_HEX2BIG('substr(hx, 3, 14)', 12)} > 0
                  THEN least(48 - length(bin({_HEX2BIG('substr(hx, 3, 14)', 12)})) + 1,
                             {_HLL_CAP})
                  ELSE {_HLL_CAP} END AS rho
      FROM h
    ), regs AS (
      SELECT event_type, bucket, MAX(rho) AS reg FROM rr GROUP BY event_type, bucket
    ), grid AS (
      SELECT t.event_type, g.bucket, COALESCE(r.reg, 0) AS reg
      FROM (SELECT DISTINCT event_type FROM events) t
      CROSS JOIN (SELECT unnest(range(0, {_HLL_M})) AS bucket) g
      LEFT JOIN regs r ON r.event_type = t.event_type AND r.bucket = g.bucket
    ), s AS (
      SELECT event_type,
             CAST(SUM(CAST(1 AS BIGINT) << ({_HLL_CAP} - reg)) AS BIGINT) AS ssum
      FROM grid GROUP BY event_type
    ), ex AS (
      SELECT event_type, COUNT(DISTINCT user_id) AS exact_distinct FROM events GROUP BY event_type
    )
    SELECT event_type, exact_distinct,
           {_HLL_ALPHA_NUM!r} / CAST(ssum AS DOUBLE) AS hll_estimate
    FROM ex JOIN s USING (event_type)
    """,
    category="sketch",
    survey="hll[abs],A8",
)
def a_hll_distinct_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HyperLogLog distinct-user estimate per event type,
    side by side with the exact count — a cardinality SKETCH under the
    full value oracle, possible because every step is integer/bit
    arithmetic on md5 hashes: bucket = low 5 bits of the first hash
    byte, register = leading-zero rank of the next 48 bits (capped),
    and the harmonic mean is evaluated as ONE IEEE division of a
    constant by the exact integer register sum Σ 2^(cap-reg) — no
    transcendentals anywhere (the standard small-range linear-counting
    correction needs ln(), so it is deliberately omitted; at these
    cardinalities the raw estimator applies).

    Scale story: registers are max-mergeable — each partition sketches
    map-side, the shuffle carries m=32 bytes per (group, partition),
    and daily/shard sketches union by element-wise MAX, so distinct
    counting over 100 TB never moves the key space (the same plan
    Spark's approx_count_distinct runs internally; this one is
    engine-portable and value-checkable). Std error ≈ 1.04/√m ≈ 18%
    at m=32 — sized small so the estimate visibly deviates from exact
    and the comparison column proves the estimator, not a lookup."""
    e = load(spark, sf_dir, "events")
    h = e.select("event_type", F.md5(F.col("user_id").cast("string")).alias("hx")).distinct()
    v = F.conv(F.substring("hx", 3, 12), 16, 10).cast("long")
    rr = h.select(
        "event_type",
        (F.conv(F.substring("hx", 1, 2), 16, 10).cast("long") % _HLL_M).alias("bucket"),
        F.when(v > 0, F.least(F.lit(48) - F.length(F.bin(v)) + 1, F.lit(_HLL_CAP)))
        .otherwise(F.lit(_HLL_CAP))
        .alias("rho"),
    )
    regs = rr.groupBy("event_type", "bucket").agg(F.max("rho").alias("reg"))
    grid = (
        e.select("event_type")
        .distinct()
        .withColumn("bucket", F.explode(F.sequence(F.lit(0), F.lit(_HLL_M - 1))))
        .join(regs, ["event_type", "bucket"], "left")
        .withColumn("reg", F.coalesce("reg", F.lit(0)))
    )
    s = grid.groupBy("event_type").agg(
        F.sum(F.expr(f"shiftleft(cast(1 as bigint), {_HLL_CAP} - reg)")).alias("ssum")
    )
    ex = e.groupBy("event_type").agg(F.countDistinct("user_id").alias("exact_distinct"))
    return ex.join(s, "event_type").select(
        "event_type",
        "exact_distinct",
        (F.lit(_HLL_ALPHA_NUM) / F.col("ssum").cast("double")).alias("hll_estimate"),
    )


@query(
    "a_incremental_agg_maintenance",
    oracle=f"""
    WITH effective AS (
      SELECT * FROM orders
      WHERE o_orderdate < DATE '1997-01-01' AND o_orderkey % 10 <> 0
      UNION ALL
      SELECT * FROM orders WHERE o_orderdate >= DATE '1997-01-01'
    )
    SELECT o_custkey, COUNT(*) AS n_orders,
           {DSUM('o_totalprice')} AS total_price
    FROM effective GROUP BY o_custkey
    """,
    category="aggregate",
    survey="incremental-view[abs],A3",
)
def a_incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-aggregate maintenance (the DBSP /
    delta-view pattern): a per-customer (count, exact-decimal sum)
    view built over the pre-1997 base is UPDATED from a CDC batch —
    post-1997 rows as inserts, a deterministic 10% of base orders
    (o_orderkey % 10 == 0) as deletes — by aggregating only the
    SIGNED delta and merging it into the view with one outer join.
    Count and decimal-sum are abelian-group aggregates (insert = +1/
    +price, delete = -1/-price), so maintenance touches the DELTA and
    the view, never the base facts again; groups whose count reaches
    zero drop out of the view.

    The value oracle is the full RECOMPUTE over the effective row set
    — equality of the incremental path with recomputation is the
    entire correctness contract of view maintenance. The decimal
    accumulators make the float sum associative-commutative, so
    base + delta arithmetic is bit-identical to the one-shot sum.

    At 100 TB: the base is scanned ONCE ever (to build the view);
    each batch costs one delta agg + one view-sized join — bucket the
    view by key and even that join is exchange-free on the view side."""
    o = load(spark, sf_dir, "orders")
    dec = lambda c: F.sum(F.col(c).cast("decimal(38,6)"))  # noqa: E731
    base = o.filter(F.col("o_orderdate") < "1997-01-01")
    view = base.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n"), dec("o_totalprice").alias("s")
    )
    inserts = o.filter(F.col("o_orderdate") >= "1997-01-01").select(
        "o_custkey", F.lit(1).alias("sign"), F.col("o_totalprice").alias("p")
    )
    deletes = base.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_custkey", F.lit(-1).alias("sign"), (-F.col("o_totalprice")).alias("p")
    )
    delta = (
        inserts.unionByName(deletes)
        .groupBy("o_custkey")
        .agg(F.sum("sign").alias("dn"), F.sum(F.col("p").cast("decimal(38,6)")).alias("ds"))
    )
    merged = (
        view.join(delta, "o_custkey", "full")
        .select(
            "o_custkey",
            (F.coalesce("n", F.lit(0)) + F.coalesce("dn", F.lit(0))).alias("n_orders"),
            (
                F.coalesce(F.col("s"), F.lit(0).cast("decimal(38,6)"))
                + F.coalesce(F.col("ds"), F.lit(0).cast("decimal(38,6)"))
            ).cast("double").alias("total_price"),
        )
        .filter(F.col("n_orders") > 0)
    )
    return merged


_BLOOM_M, _BLOOM_K = 256, 2  # bits; hash functions


def _bloom_pos_sql(key_expr: str, i: int) -> str:
    h = "md5('" + str(i) + ":' || CAST(" + key_expr + " AS VARCHAR))"
    return f"{_HEX2BIG(h, 8)} % {_BLOOM_M}"


@query(
    "a_bloom_filter_probe",
    oracle=f"""
    WITH build AS (
      SELECT DISTINCT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    ), bits AS (
      SELECT DISTINCT p FROM (
        {" UNION ALL ".join(f"SELECT {_bloom_pos_sql('c_custkey', i)} AS p FROM build" for i in range(_BLOOM_K))}
      )
    ), filt AS (
      SELECT list_sort(list(p)) AS bf, COUNT(*) AS n_bits FROM bits
    ), probe AS (
      SELECT o_orderkey, o_custkey,
             list_has_all(filt.bf,
                          [{", ".join(_bloom_pos_sql('o_custkey', i) for i in range(_BLOOM_K))}]) AS hit,
             o_custkey IN (SELECT c_custkey FROM build) AS truth
      FROM orders, filt
    )
    SELECT {_BLOOM_M} AS m_bits, {_BLOOM_K} AS k_hashes,
           (SELECT COUNT(*) FROM build) AS n_build_keys,
           (SELECT n_bits FROM filt) AS n_set_bits,
           COUNT(*) AS n_probed,
           COUNT(*) FILTER (WHERE hit) AS n_bloom_positive,
           COUNT(*) FILTER (WHERE truth) AS n_true_positive,
           COUNT(*) FILTER (WHERE hit AND NOT truth) AS n_false_positive,
           COUNT(*) FILTER (WHERE truth AND NOT hit) AS n_missed
    FROM probe
    """,
    category="sketch",
    survey="bloom[abs],J-semi",
)
def a_bloom_filter_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Bloom filter build + probe, fully under the value
    oracle: bit positions are md5-derived (pos_i = first 8 hex chars
    of md5(i ':' key) mod m), so even the FALSE POSITIVES are
    engine-identical and hash-compared. n_missed is the zero-false-
    negative invariant (a Bloom filter may over-approve, never
    over-reject).

    Scale story: the filter is the semi-join escape hatch at 100 TB —
    the build side reduces to <= m set-bit positions (here m=256 bits
    TOTAL state regardless of key count), broadcast to every probe
    partition, and the probe is pure map-side expression work: no
    shuffle of the probe table at all, versus a full (key) exchange
    for an exact semi-join. Filters merge by bit-OR (set union), so
    per-shard builds compose. m is sized deliberately small (like the
    HLL's m=32) so false positives VISIBLY appear next to the exact
    truth columns — the oracle certifies the estimator, not a lookup.
    Spark's own runtime bloom pruning (spark.sql.optimizer.
    runtimeFilter.bloomFilter.enabled) applies the same plan shape
    automatically; this operator makes it explicit, portable, and
    value-checkable."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    # three readers (bit positions, truth join, key count) re-derive
    # this dimension-sized subtree, deliberately without a barrier: a
    # barrier runs a Spark job whenever the DataFrame is merely built
    # (plan audits, sweep setup) and pins its blocks for the session,
    # and three scans of a filtered dimension cost less than either
    build = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey").distinct()

    bits = (
        build.select(
            F.explode(F.array(*_bloom_positions(F.col("c_custkey").cast("string"), _BLOOM_M, _BLOOM_K))).alias("p")
        )
        .distinct()
        .agg(F.sort_array(F.collect_list("p")).alias("bf"), F.count(F.lit(1)).alias("n_bits"))
    )
    n_build = build.agg(F.count(F.lit(1)).alias("n_build_keys"))
    probe = (
        o.select("o_orderkey", "o_custkey")
        .join(F.broadcast(bits))  # one-row filter, broadcast cross join
        .withColumn(
            "hit",
            F.forall(
                F.array(*_bloom_positions(F.col("o_custkey").cast("string"), _BLOOM_M, _BLOOM_K)),
                lambda p: F.array_contains(F.col("bf"), p),
            ),
        )
        .join(F.broadcast(build), o["o_custkey"] == build["c_custkey"], "left")
        .withColumn("truth", F.col("c_custkey").isNotNull())
    )
    agg = probe.agg(
        F.first("n_bits").alias("n_set_bits"),
        F.count(F.lit(1)).alias("n_probed"),
        F.count(F.when(F.col("hit"), 1)).alias("n_bloom_positive"),
        F.count(F.when(F.col("truth"), 1)).alias("n_true_positive"),
        F.count(F.when(F.col("hit") & ~F.col("truth"), 1)).alias("n_false_positive"),
        F.count(F.when(F.col("truth") & ~F.col("hit"), 1)).alias("n_missed"),
    )
    return (
        n_build.join(F.broadcast(agg))
        .select(
            F.lit(_BLOOM_M).alias("m_bits"),
            F.lit(_BLOOM_K).alias("k_hashes"),
            "n_build_keys",
            "n_set_bits",
            "n_probed",
            "n_bloom_positive",
            "n_true_positive",
            "n_false_positive",
            "n_missed",
        )
    )


@query(
    "e_session_funnel",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), numbered AS (
      SELECT *, SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS session_id
      FROM flagged
    ), stages AS (
      SELECT user_id, session_id,
             MIN(ts) FILTER (WHERE event_type = 'view') AS t_view,
             MIN(ts) FILTER (WHERE event_type = 'click') AS t_click,
             MIN(ts) FILTER (WHERE event_type = 'purchase') AS t_purchase
      FROM numbered GROUP BY user_id, session_id
    )
    SELECT COUNT(*) AS n_sessions,
           COUNT(t_view) AS n_viewed,
           COUNT(CASE WHEN t_click > t_view THEN 1 END) AS n_clicked_after_view,
           COUNT(CASE WHEN t_purchase > t_click AND t_click > t_view THEN 1 END)
             AS n_full_funnel
    FROM stages
    """,
    category="analytics",
    survey="funnel[abs],W-ntile",
)
def e_session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis per session: view → click → purchase,
    where each stage must STRICTLY FOLLOW the previous one in event
    time (first occurrence of each stage per session; NULL-propagating
    comparisons make a missing stage drop out of later counts
    automatically). The product-analytics query every event pipeline
    serves.

    Scale shape: one hash(user_id) exchange serves sessionization AND
    the per-session stage argmins (conditional MIN aggregates — no
    joins between stages, no per-stage pass); the funnel rollup is a
    single global aggregate. At 100 TB this is sessionize cost plus
    one tiny reduce."""
    e = load(spark, sf_dir, "events")
    sess = sessionize(e, "user_id", "ts", 30.0, "event_id")
    stages = sess.groupBy("user_id", "session_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_purchase"),
    )
    return stages.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.count("t_view").alias("n_viewed"),
        F.count(F.when(F.col("t_click") > F.col("t_view"), True)).alias(
            "n_clicked_after_view"
        ),
        F.count(
            F.when(
                (F.col("t_purchase") > F.col("t_click"))
                & (F.col("t_click") > F.col("t_view")),
                True,
            )
        ).alias("n_full_funnel"),
    )


@query(
    "e_cohort_retention",
    oracle="""
    WITH firstw AS (
      SELECT user_id,
             CAST(epoch_us(MIN(ts)) // CAST(604800000000 AS BIGINT) AS BIGINT) AS cohort_week
      FROM events GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             CAST(epoch_us(e.ts) // CAST(604800000000 AS BIGINT) AS BIGINT) - f.cohort_week
               AS week_offset
      FROM events e JOIN firstw f USING (user_id)
    )
    SELECT cohort_week, week_offset, COUNT(*) AS n_active_users
    FROM activity GROUP BY cohort_week, week_offset
    """,
    category="analytics",
    survey="cohort[abs],A3",
)
def e_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen epoch week,
    counted as active in each subsequent week offset — the retention
    triangle every growth dashboard is built on. Week boundaries are
    pure integer epoch arithmetic (no calendar/timezone functions), so
    both engines bucket identically.

    Scale shape: first-seen is one (user) min-aggregate; the activity
    fact joins it back on the user key (at 100 TB: broadcast if the
    user dimension fits, else both sides are already user-bucketed);
    the distinct + count shuffles carry (user, cohort, offset) triples
    only."""
    e = load(spark, sf_dir, "events")
    eu = e.withColumn("epoch_us_col", epoch_us(F.col("ts")))
    firstw = eu.groupBy("user_id").agg(
        F.expr(f"min(epoch_us_col) div {7 * 86400 * 1000000}").alias("cohort_week")
    )
    activity = (
        eu.join(firstw, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.expr(f"epoch_us_col div {7 * 86400 * 1000000}") - F.col("cohort_week")
            ).alias("week_offset"),
        )
        .distinct()
    )
    return activity.groupBy("cohort_week", "week_offset").agg(
        F.count(F.lit(1)).alias("n_active_users")
    )


@query(
    "x_data_quality_report",
    oracle="""
    SELECT * FROM (
      SELECT 'lineitem' AS tbl, 'null_shipdate' AS rule,
             COUNT(*) AS n_checked,
             COUNT(*) - COUNT(l_shipdate) AS n_violations
      FROM lineitem
      UNION ALL
      SELECT 'lineitem', 'discount_range',
             COUNT(*),
             COUNT(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 END)
      FROM lineitem
      UNION ALL
      SELECT 'lineitem', 'negative_quantity',
             COUNT(*), COUNT(CASE WHEN l_quantity <= 0 THEN 1 END)
      FROM lineitem
      UNION ALL
      SELECT 'lineitem', 'fk_orphan_orderkey',
             COUNT(*),
             COUNT(CASE WHEN o_orderkey IS NULL THEN 1 END)
      FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
      UNION ALL
      SELECT 'orders', 'date_bounds',
             COUNT(*),
             COUNT(CASE WHEN o_orderdate < DATE '1992-01-01'
                          OR o_orderdate > DATE '1998-12-31' THEN 1 END)
      FROM orders
      UNION ALL
      SELECT 'orders', 'status_domain',
             COUNT(*),
             COUNT(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P') THEN 1 END)
      FROM orders
    )
    """,
    category="validation",
    survey="data-quality[abs],A7",
)
def x_data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality assertion report (the Deequ/dbt-test pattern): a
    rule catalogue — null checks, range checks, domain checks, FK
    orphan checks — evaluated in bulk, one row per rule with checked/
    violation counts. The gate every 100 TB ingest runs before
    publishing a partition; emitting counts (not booleans) makes the
    report monotonic and mergeable across partitions.

    Scale shape: all same-table rules fuse into ONE scan+aggregate
    (conditional counts share the pass); the FK rule is the only join
    — an orphan probe that at 100 TB rides the existing bucketing or a
    broadcast of the key dimension. Nothing here is per-rule passes:
    6 rules cost 2 scans + 1 join."""
    l = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")

    def report(tbl: str, rule: str, df, violation) -> DataFrame:
        return df.agg(
            F.lit(tbl).alias("tbl"),
            F.lit(rule).alias("rule"),
            F.count(F.lit(1)).alias("n_checked"),
            F.count(F.when(violation, True)).alias("n_violations"),
        )

    null_ship = report("lineitem", "null_shipdate", l, F.col("l_shipdate").isNull())
    disc = report(
        "lineitem", "discount_range", l, (F.col("l_discount") < 0) | (F.col("l_discount") > 0.1)
    )
    qty = report("lineitem", "negative_quantity", l, F.col("l_quantity") <= 0)
    fk = report(
        "lineitem",
        "fk_orphan_orderkey",
        l.join(o, l.l_orderkey == o.o_orderkey, "left"),
        F.col("o_orderkey").isNull(),
    )
    dates = report(
        "orders",
        "date_bounds",
        o,
        (F.col("o_orderdate") < F.lit("1992-01-01").cast("date"))
        | (F.col("o_orderdate") > F.lit("1998-12-31").cast("date")),
    )
    status = report(
        "orders", "status_domain", o, ~F.col("o_orderstatus").isin("O", "F", "P")
    )
    return null_ship.unionAll(disc).unionAll(qty).unionAll(fk).unionAll(dates).unionAll(status)


@query(
    "e_json_extract_stats",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           COUNT(TRY_CAST(json_extract_string(TRY_CAST(props AS JSON), '$.k') AS BIGINT)) AS n_with_k,
           MIN(TRY_CAST(json_extract_string(TRY_CAST(props AS JSON), '$.k') AS BIGINT)) AS min_k,
           MAX(TRY_CAST(json_extract_string(TRY_CAST(props AS JSON), '$.k') AS BIGINT)) AS max_k,
           CAST(SUM(TRY_CAST(json_extract_string(TRY_CAST(props AS JSON), '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           COUNT(DISTINCT TRY_CAST(json_extract_string(TRY_CAST(props AS JSON), '$.k') AS BIGINT)) AS n_distinct_k
    FROM events
    GROUP BY event_type
    """,
    category="semistructured",
    survey="json[abs],A3",
)
def e_json_extract_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured (JSON) column processing: the events table's
    ``props`` payload is parsed schema-on-read with ``from_json`` and
    its field aggregated per event type — the pattern every event
    pipeline starts with before promoting hot JSON fields to real
    columns. A missing/malformed payload parses to NULL and simply
    drops out of the aggregates (n_with_k < n_events would flag it),
    so the same query doubles as the payload-quality monitor. The
    oracle uses TRY_CAST for the same null-drop (review finding: a
    plain CAST raises DuckDB ConversionException on a malformed k,
    crashing the gate instead of monitoring — Spark's from_json
    already NULLs it, even under ANSI).

    Scale note: ``from_json`` with an explicit schema is a single
    codegen'd parse per row (no UDF, no second pass); at 100 TB the
    next step is materialising k as a column at ingest so later
    filters push down to parquet — this query is the read-side
    before that promotion."""
    e = load(spark, sf_dir, "events")
    k = F.from_json(F.col("props"), "k long")["k"]
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count(k).alias("n_with_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
        F.sum(k).cast("long").alias("sum_k"),
        F.countDistinct(k).alias("n_distinct_k"),
    )


@query(
    "w_hopping_window_counts",
    oracle="""
    WITH hops AS (
      -- FLOOR division, not DuckDB's toward-zero '//' (r11 adversarial
      -- events sweep: Spark's window() aligns hop starts by FLOOR of
      -- the epoch, so a PRE-EPOCH timestamp (negative epoch_us)
      -- diverged — '//' put 1969 rows into the [0, slide) hop. The
      -- CASE subtracts 1 whenever the remainder is negative (DuckDB %
      -- carries the dividend's sign), which is exactly floor for a
      -- positive divisor.
      SELECT event_type,
             ((epoch_us(ts) // CAST(900000000 AS BIGINT))
              - CASE WHEN (epoch_us(ts) % CAST(900000000 AS BIGINT)) < 0
                     THEN 1 ELSE 0 END
              - i)
               * CAST(900000000 AS BIGINT) AS hop_start_us
      FROM events CROSS JOIN (SELECT unnest(range(0, 4)) AS i)
    )
    SELECT hop_start_us, event_type, COUNT(*) AS n_events
    FROM hops GROUP BY hop_start_us, event_type
    """,
    category="window",
    survey="W-hopping[abs],streaming-window",
)
def w_hopping_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) windows: 1-hour windows advancing every 15
    minutes, counts per (window, event type) — each event lands in
    exactly 4 overlapping windows. Spark's native
    ``window(ts, '1 hour', '15 minutes')`` generates the replication
    inside the scan stage; the oracle derives the same 4 hop starts
    with pure integer epoch arithmetic (multiples of 900 s in
    (t-3600 s, t]). Window start is emitted as epoch microseconds so
    both engines compare integers, not zoned timestamps.

    Scale: replication factor = window/slide (4×) is paid map-side
    before the ONE (window, type) aggregation exchange — same plan
    streaming uses, where the watermark additionally bounds state."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            epoch_us(F.col("w.start")).alias("hop_start_us"),
            "event_type",
            "n_events",
        )
    )


@query(
    "x_corrupt_csv_ingest",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           COUNT(CASE WHEN doc_id % 50 = 0 THEN 1 END) AS n_corrupt,
           COUNT(CASE WHEN doc_id % 50 <> 0 THEN 1 END) AS n_good,
           CAST(SUM(CASE WHEN doc_id % 50 <> 0 THEN n_chars END) AS BIGINT)
             AS good_chars,
           COUNT(DISTINCT CASE WHEN doc_id % 50 <> 0 THEN lang END)
             AS n_good_langs
    FROM documents
    """,
    category="source",
    survey="corrupt-ingest[abs],S-formats[abs]",
)
def x_corrupt_csv_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corruption-tolerant CSV ingest: a CSV export where every 50th
    record is deterministically mangled (non-numeric key field) is
    read back in PERMISSIVE mode with an explicit schema and a
    ``_corrupt_record`` column — bad rows land in quarantine instead
    of failing the job or silently nulling out, and the report
    accounts for every input line. The oracle derives the identical
    good/bad split straight from the source table, so the gate proves
    the reader's corruption accounting, not just the happy path.

    At 100 TB this is the ingest contract: PERMISSIVE + corrupt-record
    quarantine keeps one bad shard from killing a 10-hour load, the
    (n_rows == n_good + n_corrupt) invariant is the completeness
    check, and the quarantine column feeds the repair queue.
    FAILFAST/DROPMALFORMED are the same reader one option away.

    Export-format assumption (holds for this synthetic table, stated
    because the oracle depends on it): lang/n_chars are non-null and
    lang contains no comma — a null would make concat_ws emit a
    short line that PERMISSIVE also quarantines, diverging from the
    oracle's doc_id%50 split. A production export would quote fields
    (df.write.csv does); this test writes raw lines on purpose to
    control the corruption."""
    import tempfile

    d = load(spark, sf_dir, "documents", fan_out=True)
    line = F.when(
        F.col("doc_id") % 50 == 0, F.lit("not_a_number,!!,bad")
    ).otherwise(
        F.concat_ws(
            ",",
            F.col("doc_id").cast("string"),
            F.col("lang"),
            F.col("n_chars").cast("string"),
        )
    )
    tmp = tempfile.mkdtemp(prefix="orderly_corrupt_csv_")
    d.select(line.alias("value")).write.mode("overwrite").text(tmp)

    parsed = (
        spark.read.schema("doc_id long, lang string, n_chars long, _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(tmp)
    )
    bad = F.col("_corrupt_record").isNotNull()
    out = parsed.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(bad, True)).alias("n_corrupt"),
        F.count(F.when(~bad, True)).alias("n_good"),
        F.sum(F.when(~bad, F.col("n_chars"))).cast("long").alias("good_chars"),
        F.countDistinct(F.when(~bad, F.col("lang"))).alias("n_good_langs"),
    )
    # materialise the 1-row aggregate, then remove the scratch export
    # (review finding: every gate run left a text copy of documents
    # in /tmp)
    from orderly_spark.tables import materialize_then_clean

    return materialize_then_clean(out, tmp)
