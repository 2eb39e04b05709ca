"""Remaining TPC-H query shapes (Q2/Q7/Q8/Q9/Q11/Q12/Q15/Q16/Q17/Q20/Q21)
— completing the 22-query relational battery started in tpch.py /
relational.py.

The driver's synthetic schema is TPC-H-ish but narrower: there is no
``partsupp`` table and ``lineitem`` lacks commitdate/receiptdate/
shipmode. Queries that depend on those are *adapted*, keeping the
plan shape (the join topology, correlation pattern, and aggregation
structure that make each query interesting) while substituting:

- part↔supplier association: derived from ``lineitem`` (the observed
  bridge) instead of ``partsupp``;
- supply cost (Q9): ``p_retailprice`` as the unit-cost proxy;
- lateness (Q12/Q21): ``l_shipdate > o_orderdate + INTERVAL N DAY``
  instead of receipt-vs-commit dates.

Scale notes (100 TB thinking) are in each docstring; shared themes:
dimension joins (nation/region/supplier) broadcast, fact-fact joins
shuffle on their natural keys, window-min replaces re-join-on-min
where it saves a shuffle, and every aggregate is a two-phase hash
aggregate with map-side partials. Float discipline: all sums go
through exact DECIMAL(38,6) accumulation (registry.dsum/DSUM) so the
parallel Spark result is bit-identical to sequential DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from orderly_spark.registry import DAVG, DSUM, davg, dsum, query
from orderly_spark.session import barrier
from orderly_spark.tables import load


@query(
    "q2_min_unit_price_supplier",
    oracle="""
    WITH offers AS (
      -- NULLIF: a zero-quantity line carries NO unit price (r10
      -- corrupt-numerics sweep — Spark's ANSI division throws and
      -- DuckDB's silently yields inf; both twins now agree on NULL,
      -- which MIN skips, and a part with ONLY such lines drops out)
      SELECT l_partkey, l_suppkey,
             MIN(l_extendedprice / NULLIF(l_quantity, 0)) AS unit_price
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ), eu AS (
      SELECT o.l_partkey, o.l_suppkey, o.unit_price, s_name, n_name
      FROM offers o
      JOIN supplier ON s_suppkey = o.l_suppkey
      JOIN nation   ON n_nationkey = s_nationkey
      JOIN region   ON r_regionkey = n_regionkey
      WHERE r_name = 'EUROPE'
    ), ranked AS (
      SELECT *, MIN(unit_price) OVER (PARTITION BY l_partkey) AS best_price FROM eu
    )
    SELECT p_partkey, p_name, s_name, n_name, unit_price AS best_unit_price
    FROM ranked JOIN part ON p_partkey = l_partkey
    WHERE unit_price = best_price AND p_size = 15 AND p_type = 'STANDARD'
    ORDER BY best_unit_price, p_partkey, s_name
    LIMIT 100
    """,
    category="join",
    survey="J-equi,W2,A3",
)
def q2_min_unit_price_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (min-cost supplier), adapted: the part↔supplier
    offer table is derived from lineitem (min observed unit price per
    (part, supplier)) since the schema has no partsupp.

    Plan shape preserved from Q2: restrict suppliers to one region,
    find the per-part minimum offer, return the offering suppliers.
    The correlated-subquery min is a window MIN over the part key —
    one shuffle on l_partkey serves both the window and the final
    filter (vs Q2's re-join-on-min which would shuffle twice).
    supplier/nation/region are broadcast (fixed-size dims at any SF).
    """
    l = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    p = load(spark, sf_dir, "part").filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "STANDARD")
    )
    eu_sup = (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "n_name")
    )
    # hash(l_partkey) satisfies the (l_partkey, l_suppkey) aggregate's
    # clustering AND the window's partitioning — one exchange for both.
    # try_divide: zero-quantity lines carry no unit price (NULL, which
    # min skips) instead of an ANSI DIVIDE_BY_ZERO — r10 sweep finding;
    # the oracle's NULLIF is the exact twin
    offers = (
        l.repartition("l_partkey")
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.min(F.try_divide(F.col("l_extendedprice"), F.col("l_quantity"))).alias(
                "unit_price"
            )
        )
    )
    eu = offers.join(F.broadcast(eu_sup), F.col("l_suppkey") == F.col("s_suppkey"))
    w = Window.partitionBy("l_partkey")
    ranked = eu.withColumn("best_price", F.min("unit_price").over(w))
    return (
        ranked.filter(F.col("unit_price") == F.col("best_price"))
        .join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .select(
            "p_partkey", "p_name", "s_name", "n_name",
            F.col("unit_price").alias("best_unit_price"),
        )
        .orderBy("best_unit_price", "p_partkey", "s_name")
        .limit(100)
    )


@query(
    "q7_volume_shipping",
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year, {DSUM('volume')} AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(EXTRACT(YEAR FROM l_shipdate) AS INTEGER) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
          OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
        AND l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1998-01-01'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
    category="join",
    survey="J-equi,A3,F12",
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: bilateral trade volume between two nations by year.

    Both nation joins broadcast; the disjunctive nation-pair predicate
    applies after them (it needs both sides). The l/o and o/c joins
    shuffle on orderkey then custkey — the natural partitionings; at
    100 TB the shipdate range predicate pushes to the parquet scan
    first, shrinking the fact side before any exchange.
    """
    s = load(spark, sf_dir, "supplier")
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        s.join(l, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7"))
            | ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3"))
        )
        .withColumn("l_year", F.year("l_shipdate"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query(
    "q8_market_share",
    oracle=f"""
    SELECT o_year,
           {DSUM("CASE WHEN supp_nation = 'NATION_5' THEN volume ELSE 0 END")}
             / {DSUM('volume')} AS mkt_share
    FROM (
      SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n2.n_name AS supp_nation
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region    ON n1.n_regionkey = r_regionkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'AFRICA' AND p_type = 'ECONOMY'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate <  TIMESTAMP '1998-01-01'
    ) all_nations
    GROUP BY o_year
    ORDER BY o_year
    """,
    category="join",
    survey="J-equi,A3",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: national market share within a region's purchases.

    The share is a ratio of two exact-decimal sums over the same
    grouped rows — a single aggregate pass computes both (no second
    scan). part is filtered before its join (pushed to the scan), so
    the l/p join's build side is small enough for AQE to broadcast at
    bench scale; beyond broadcast size it hash-shuffles on partkey.
    """
    p = load(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    l = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    c = load(spark, sf_dir, "customer")
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "AFRICA")
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        p.join(l, F.col("p_partkey") == F.col("l_partkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_region") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .withColumn("o_year", F.year("o_orderdate"))
        .withColumn("volume", volume)
        .groupBy("o_year")
        .agg(
            (
                dsum(F.when(F.col("supp_nation") == "NATION_5", F.col("volume")).otherwise(0.0))
                / dsum("volume")
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@query(
    "q9_product_profit",
    oracle=f"""
    SELECT n_name AS nation, o_year, {DSUM('amount')} AS sum_profit
    FROM (
      SELECT n_name, CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year,
             l_extendedprice * (1 - l_discount)
               - 0.5 * p_retailprice * l_quantity AS amount
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%ring%'
    ) profit
    GROUP BY n_name, o_year
    ORDER BY nation, o_year DESC
    """,
    category="join",
    survey="J-equi,A3,F12",
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-line profit by nation and year),
    adapted: unit cost is ``0.5 * p_retailprice`` (the schema has no
    partsupp.ps_supplycost); the LIKE-on-part-name filter, 5-way join
    topology, and (nation, year) rollup are preserved.

    The p_name LIKE filter prunes part before the fact join. At
    100 TB: part joins lineitem on partkey (shuffle), then orders on
    orderkey — each join key is the child aggregate's partition key,
    so no redundant exchanges; nation broadcasts.
    """
    p = load(spark, sf_dir, "part").filter(F.col("p_name").like("%ring%"))
    l = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    o = load(spark, sf_dir, "orders")
    n = load(spark, sf_dir, "nation")
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.5 * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        p.join(l, F.col("p_partkey") == F.col("l_partkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
            amount.alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(dsum("amount").alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


@query(
    "q11_important_parts",
    oracle=f"""
    WITH nl AS (
      SELECT l_partkey, l_extendedprice * (1 - l_discount) AS val
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation   ON n_nationkey = s_nationkey
      WHERE n_name = 'NATION_1'
    ), agg AS (
      SELECT l_partkey, {DSUM('val')} AS part_value FROM nl GROUP BY l_partkey
    ), tot AS (
      SELECT {DSUM('val')} * 0.001 AS threshold FROM nl
    )
    SELECT l_partkey, part_value
    FROM agg, tot
    WHERE part_value > threshold
    ORDER BY part_value DESC, l_partkey
    """,
    category="aggregate",
    survey="A3,J-equi",
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (parts representing a significant value share),
    adapted: part value is observed lineitem revenue from one nation's
    suppliers (no partsupp), threshold = 0.001 × that nation's total.

    The scalar subquery becomes a 1-row broadcast cross join. The
    per-part aggregate and the global total come out of ONE
    ``rollup(l_partkey)`` pass over the filtered fact (review finding:
    the previous two-aggregate shape re-ran the fact scan + broadcast
    join twice — lineage caches nothing). The rollup's grand-total row
    is identified by ``grouping()``, and the part-grain rollup output
    passes one barrier for its two consumers (tiny: one row per part
    + 1). Decimal sums are order-independent, so the rollup
    produces bit-identical values to the two-pass shape, and the
    double `>` stays bit-deterministic in both engines.

    At 100 TB: one fact scan instead of two; the rollup expand doubles
    rows only AFTER map-side partial aggregation (per-partition
    partials, not facts), so the extra shuffle volume is ~one row per
    distinct part per partition.
    """
    l = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_1")
    nl = (
        l.join(
            F.broadcast(
                s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")).select(
                    "s_suppkey"
                )
            ),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select("l_partkey", (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("val"))
    )
    r = nl.rollup("l_partkey").agg(dsum("val").alias("part_value"), F.grouping("l_partkey").alias("g"))
    # two readers: the per-part rows and the grand-total threshold
    r = barrier(r, "q11_important_parts.rollup")
    agg = r.filter(F.col("g") == 0).select("l_partkey", "part_value")
    tot = r.filter(F.col("g") == 1).select(
        (F.col("part_value") * F.lit(0.001)).alias("threshold")
    )
    return (
        agg.crossJoin(F.broadcast(tot))
        .filter(F.col("part_value") > F.col("threshold"))
        .select("l_partkey", "part_value")
        .orderBy(F.desc("part_value"), "l_partkey")
    )


@query(
    "q12_late_lines_by_status",
    oracle="""
    SELECT l_linestatus,
           COUNT(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 END)
             AS high_line_count,
           COUNT(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 END)
             AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
      AND l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """,
    category="join",
    survey="J-equi,A3,F12",
)
def q12_late_lines_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping-mode priority split), adapted:
    grouping key is l_linestatus (no l_shipmode column) and "late"
    means shipped > 90 days after the order date (no commit/receipt
    dates). The conditional-count-by-priority structure is Q12's.

    The shipdate range pushes to the scan; the non-correlated half of
    the lateness predicate runs post-join (it references both sides).
    Counts are conditional COUNTs (long in both engines — avoids
    DuckDB's SUM(int)→HUGEINT widening).
    """
    o = load(spark, sf_dir, "orders")
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(l, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAY"))
        .groupBy("l_linestatus")
        .agg(
            F.count(F.when(high, 1)).alias("high_line_count"),
            F.count(F.when(~high, 1)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


@query(
    "q15_top_supplier",
    oracle=f"""
    WITH rev AS (
      SELECT l_suppkey, {DSUM('l_extendedprice * (1 - l_discount)')} AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM rev JOIN supplier ON s_suppkey = l_suppkey
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
    ORDER BY s_suppkey
    """,
    category="aggregate",
    survey="A3,W2,J-equi",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) with the maximum quarterly revenue.

    The view + scalar-max correlation becomes: aggregate once, take
    the 1-row global max, broadcast it back as a cross join. The max
    is over exact-decimal-summed doubles, so the equality filter is
    bit-deterministic. supplier (fixed 10k/SF rows) broadcasts.
    """
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    s = load(spark, sf_dir, "supplier")
    rev = l.groupBy("l_suppkey").agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_revenue")
    )
    top = rev.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        rev.crossJoin(F.broadcast(top))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@query(
    "q16_supplier_part_count",
    oracle="""
    SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
      AND p_size IN (1, 5, 15, 25, 35, 45)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
    category="aggregate",
    survey="A3,J-equi,F12",
)
def q16_supplier_part_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (supplier count per part attribute class),
    adapted: the part↔supplier relation is observed from lineitem
    (no partsupp); the negated-attribute + IN-list filters and the
    COUNT DISTINCT aggregation structure are Q16's.

    part is filtered then broadcast; COUNT(DISTINCT) expands to a
    two-phase aggregate (partial distinct per partition, exchange on
    the group keys, final) — Catalyst handles the expansion.
    """
    p = load(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size").isin(1, 5, 15, 25, 35, 45))
    )
    l = load(spark, sf_dir, "lineitem")
    return (
        l.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@query(
    "q17_small_quantity_revenue",
    oracle=f"""
    WITH pa AS (
      SELECT l_partkey AS a_partkey, 0.2 * {DAVG('l_quantity')} AS qty_limit
      FROM lineitem GROUP BY l_partkey
    )
    SELECT {DSUM('l_extendedprice')} / 7.0 AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN pa   ON a_partkey = l_partkey
    WHERE p_brand = 'Brand#13' AND l_quantity < qty_limit
    """,
    category="aggregate",
    survey="A3,J-equi",
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: revenue from small-quantity orders of one brand.

    The correlated per-part average subquery becomes a self-join
    against a per-partkey aggregate. The threshold (0.2 × exact
    decimal mean) and final sum/7.0 are bit-deterministic doubles.
    At scale the per-part aggregate and the probe side share the
    l_partkey hash partitioning, so the self-join adds no extra
    exchange on the aggregate side.
    """
    l = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#13")
    pa = l.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        (F.lit(0.2) * davg("l_quantity")).alias("qty_limit")
    )
    return (
        l.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(pa, F.col("a_partkey") == F.col("l_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_limit"))
        .agg((dsum("l_extendedprice") / F.lit(7.0)).alias("avg_yearly"))
    )


@query(
    "q20_excess_suppliers",
    oracle=f"""
    WITH shipped AS (
      SELECT l_suppkey, {DSUM('l_quantity')} AS red_qty
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_name LIKE 'red%'
        AND l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1998-01-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, n_name, red_qty
    FROM shipped
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON n_nationkey = s_nationkey
    JOIN region   ON r_regionkey = n_regionkey
    WHERE red_qty > 50 AND r_name = 'ASIA'
    ORDER BY s_suppkey
    """,
    category="join",
    survey="J3-semi,A3,F12",
)
def q20_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (suppliers with excess stock of a part class),
    adapted: "stock" is observed shipped quantity from lineitem (no
    partsupp.ps_availqty); the nested part-name-LIKE + quantity-
    threshold + nation-restriction structure is Q20's.

    The part LIKE filter broadcasts into the fact scan's join; the
    per-supplier aggregate's output is dimension-sized, so the
    supplier/nation/region joins all broadcast. Exact decimal sum
    makes the >50 threshold deterministic.
    """
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    p = load(spark, sf_dir, "part").filter(F.col("p_name").like("red%"))
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    shipped = (
        l.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("l_suppkey")
        .agg(dsum("l_quantity").alias("red_qty"))
        .filter(F.col("red_qty") > 50)
    )
    return (
        shipped.join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(r), F.col("r_regionkey") == F.col("n_regionkey"))
        .select("s_suppkey", "s_name", "n_name", "red_qty")
        .orderBy("s_suppkey")
    )


@query(
    "q21_waiting_supplier",
    oracle="""
    WITH ls AS (
      SELECT l_orderkey, l_suppkey,
             MAX(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                      THEN 1 ELSE 0 END) AS is_late
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      WHERE o_orderstatus = 'F'
      GROUP BY l_orderkey, l_suppkey
    ), ord AS (
      SELECT l_orderkey AS o_key, COUNT(*) AS n_supp, SUM(is_late) AS n_late
      FROM ls GROUP BY l_orderkey
    )
    SELECT s_name, COUNT(*) AS numwait
    FROM ls
    JOIN ord ON ls.l_orderkey = o_key
    JOIN supplier ON s_suppkey = l_suppkey
    WHERE is_late = 1 AND n_supp >= 2 AND n_late = 1
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
    """,
    category="join",
    survey="J-equi,J3-semi,A3,W2",
)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who alone held up multi-supplier
    orders), adapted: "late" is shipped > 60 days after order date
    (no commit/receipt dates). The exists/not-exists correlation pair
    becomes per-order supplier/lateness counts: a supplier waits on an
    order iff it is late, the order has ≥2 suppliers, and no other
    supplier is late (n_late = 1).

    One explicit repartition on l_orderkey serves the whole tail of
    the plan: hash(l_orderkey) satisfies the clustering required by
    the (l_orderkey, l_suppkey) aggregate AND the per-order rollup.
    supplier broadcasts.

    r15 (optimization round, guide §2.4): the rollup is computed as
    whole-partition WINDOW aggregates over ls instead of a separate
    groupBy + self-join back. The old shape's two consumers of ls
    each re-ran the scan + orders join + repartition exchange at
    runtime — the two exchange subtrees were byte-identical modulo
    exprIds, but AQE's stage cache failed to match them (the second
    copy's child is a ReusedExchange wrapper where the cached plan
    holds a materialised BroadcastQueryStage), so 'reuse' cost a full
    second lineitem pass. The window needs the clustering the
    aggregate already established: one lineitem pass, one exchange,
    no self-join; values identical by construction."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    l = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")
    ls = (
        l.join(o.select("o_orderkey", "o_orderdate"), F.col("l_orderkey") == F.col("o_orderkey"))
        .repartition("l_orderkey")
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(F.when(late, 1).otherwise(0)).alias("is_late"))
    )
    w = Window.partitionBy("l_orderkey")
    ls = ls.withColumn("n_supp", F.count(F.lit(1)).over(w)).withColumn(
        "n_late", F.sum("is_late").over(w)
    )
    return (
        ls.filter((F.col("is_late") == 1) & (F.col("n_supp") >= 2) & (F.col("n_late") == 1))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )
