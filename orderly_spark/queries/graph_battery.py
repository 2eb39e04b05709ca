"""Graph-analytics battery: fixed-point PageRank over the
part↔supplier bipartite graph derived from lineitem.

The DuckDB oracle replays every iteration with the identical integer
arithmetic (generated WITH-chain, the same unrolling trick as the
k-means oracle), so the driver hash-compares a full iterative graph
computation end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from orderly_spark.operators.graph import DEFAULT_SCALE, pagerank_fixed_point
from orderly_spark.registry import query
from orderly_spark.tables import load

_ITERS = 3
_DAMP = 85
_TOPN = 20
# supplier node-id offset: must exceed any reachable l_partkey. TPC-H
# partkey tops out at 200k x SF, so 1e9 collides around SF 5000 — far
# below the 100 TB target; 1<<40 (~1.1e12) clears SF ~5.5M (review
# finding: part/supplier ids must never merge, and the oracle would
# corrupt identically, so the gate could not catch a collision)
_SUPP_OFFSET = 1 << 40


def _pagerank_oracle() -> str:
    ctes = [
        """pairs AS (
      SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem)""",
        f"""edges AS (
      SELECT p AS src, {_SUPP_OFFSET} + s AS dst FROM pairs
      UNION ALL
      SELECT {_SUPP_OFFSET} + s, p FROM pairs)""",
        """nodes AS (SELECT DISTINCT src AS node FROM edges)""",
        """nn AS (SELECT COUNT(*) AS n FROM nodes)""",
        """deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src)""",
        f"""r0 AS (
      SELECT node, CAST({DEFAULT_SCALE} // n AS BIGINT) AS rank_fp
      FROM nodes CROSS JOIN nn)""",
    ]
    for it in range(1, _ITERS + 1):
        ctes.append(f"""r{it} AS (
      SELECT nd.node,
             CAST((({100 - _DAMP} * {DEFAULT_SCALE}) // (100 * nn.n))
                  + ({_DAMP} * COALESCE(c.s, 0)) // 100 AS BIGINT) AS rank_fp
      FROM nodes nd CROSS JOIN nn
      LEFT JOIN (
        SELECT e.dst AS node, CAST(SUM(r.rank_fp // d.outdeg) AS BIGINT) AS s
        FROM edges e
        JOIN r{it - 1} r ON r.node = e.src
        JOIN deg d ON d.src = e.src
        GROUP BY e.dst) c ON c.node = nd.node)""")
    return (
        "WITH " + ",\n".join(ctes) + f"""
    SELECT node AS node_id, rank_fp,
           CAST(rank_fp AS DOUBLE) / {float(DEFAULT_SCALE)!r} AS rank_share,
           node >= {_SUPP_OFFSET} AS is_supplier,
           rnk
    FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY rank_fp DESC, node) AS BIGINT) AS rnk
      FROM r{_ITERS})
    WHERE rnk <= {_TOPN}"""
    )


@query(
    "g_pagerank_part_supplier",
    oracle=_pagerank_oracle(),
    category="graph",
    survey="pagerank[abs]",
)
def g_pagerank_part_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point PageRank (3 iterations, d=0.85) over the undirected
    part↔supplier co-occurrence graph from lineitem, top-20 nodes —
    the engine's second ITERATIVE graph algorithm class (after the two
    connected-components variants) and, like k-means, value-gated
    end to end: the oracle replays every iteration in the identical
    integer arithmetic, so the hash certifies convergence behaviour,
    not just output shape.

    Scale shape per iteration: one edges⋈ranks equi-join on src + one
    dst-keyed aggregation (map-side partial sums); rank state is 16 B
    per node. Edge set is built once (distinct (part, supplier) from
    the fact table — the co-occurrence projection pattern) and passes
    a barrier so the iteration plans stay flat."""
    l = load(spark, sf_dir, "lineitem")
    pairs = l.select("l_partkey", "l_suppkey").distinct()
    edges = pairs.select(
        F.col("l_partkey").alias("src"),
        (F.lit(_SUPP_OFFSET) + F.col("l_suppkey")).alias("dst"),
    ).unionAll(
        pairs.select(
            (F.lit(_SUPP_OFFSET) + F.col("l_suppkey")).alias("src"),
            F.col("l_partkey").alias("dst"),
        )
    )
    ranks = pagerank_fixed_point(edges, iterations=_ITERS, damping_pct=_DAMP)
    # Final top-N via orderBy().limit() — TakeOrderedAndProject does a
    # per-partition top-k then a driver merge of k·P rows, so the full
    # node-rank table NEVER single-partitions (r6 verdict: the previous
    # global row_number() window had no WindowGroupLimit and funnelled
    # every node through one partition). The rank column is computed by
    # a window over the _TOPN surviving rows only — metadata scale.
    w = Window.orderBy(F.desc("rank_fp"), F.col("node"))
    return (
        ranks.orderBy(F.desc("rank_fp"), F.col("node"))
        .limit(_TOPN)
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .select(
            F.col("node").alias("node_id"),
            "rank_fp",
            (F.col("rank_fp").cast("double") / F.lit(float(DEFAULT_SCALE))).alias(
                "rank_share"
            ),
            (F.col("node") >= _SUPP_OFFSET).alias("is_supplier"),
            "rnk",
        )
    )
