"""Graph analytics operators: fixed-point PageRank and
label-propagation communities.

Reference: none (the reference repo has no graph surface); [abs]
operators for the 100 TB north star, complementing connected
components in ``operators/dedup.py`` (min-label propagation) and the
triangle census in the dedup battery.

Determinism contract: ranks live in INTEGER fixed-point (scaled by
``scale``), every step is integer +,*,div — `div` truncates the same
way in Spark and DuckDB — so the whole iteration is bit-identical
across engines, partitionings, and retries, and the driver can
hash-compare a full PageRank, not just row counts. (Float PageRank
cannot be value-gated: the per-target contribution sum is an
order-dependent float reduction.) Truncation loses ≤1 unit of 10^-12
rank mass per edge per iteration — the deliberate price of exactness.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from orderly_spark.session import barrier

DEFAULT_SCALE = 10**12


#: rank/contrib relations at or under this many nodes are broadcast in
#: the iteration joins (16 B of data per row; ~64 B/row as a built hash
#: relation, so 1M nodes ~= 64 MB — safe even on default-sized (1g)
#: drivers and executors). Above the cap the shuffle plan is kept: at
#: billions of nodes the rank table is fact-sized and broadcasting it
#: would be the classic driver-OOM anti-pattern.
BROADCAST_NODES_MAX = 1_000_000


def pagerank_fixed_point(
    edges: DataFrame,
    *,
    iterations: int = 3,
    damping_pct: int = 85,
    scale: int = DEFAULT_SCALE,
) -> DataFrame:
    """PageRank over directed ``edges(src, dst)`` in integer
    fixed-point; returns (node, rank_fp).

    Per iteration: contribution = rank div outdeg per edge, summed per
    target (ONE shuffle on dst — partial aggregation collapses
    map-side), then rank' = (100-d)·scale div (100·n) + d·contrib
    div 100 over the full node set (left join keeps isolated-inbound
    nodes at the base rank). The node count ``n`` is a single driver
    scalar (bounded by the node set, same class as the corpus-total
    count in the LM scorer). At 100 TB: pre-partition edges by src so
    the rank join is co-located; iterations reuse that partitioning;
    a barrier per round keeps the plan flat (same recipe as
    duplicate_clusters).

    Dangling nodes (outdeg 0) keep redistributing nothing — their rank
    mass shrinks to the base term; acceptable for the diagnostic use
    here and stated so the semantics are pinned (the classic remedy,
    spreading dangling mass uniformly, needs only one extra aggregate).
    """
    # readers: the node aggregation and every iteration's contribution join
    edges = barrier(edges, "pagerank_fixed_point.edges")
    # ONE aggregation over one union pass computes the node set AND
    # per-node outdeg (how many times the node occurs as src). The
    # iteration carries outdeg inside the rank state, so rank div
    # outdeg is read straight off the broadcast state row; dangling
    # nodes (outdeg 0) are filtered out of the contribution relation
    # before the division (ANSI div throws on zero).
    nodes = (
        edges.select(F.col("src").alias("node"), F.lit(1).alias("__is_src"))
        .unionAll(edges.select(F.col("dst").alias("node"), F.lit(0).alias("__is_src")))
        .groupBy("node")
        .agg(F.sum("__is_src").alias("outdeg"))
    )
    # readers: the count, every iteration's left join and the caller's ranking
    nodes = barrier(nodes, "pagerank_fixed_point.nodes")
    n = nodes.count()
    if n == 0:
        # empty graph → empty (node, rank_fp) result with the output
        # schema, instead of the base term's integer division by zero
        return nodes.select("node", F.lit(0).cast("long").alias("rank_fp"))
    base = ((100 - damping_pct) * scale) // (100 * n)
    ranks = nodes.withColumn("rank_fp", F.lit(scale // n).cast("long"))
    # The rank/contrib relations are exactly n rows of (long, long), and
    # n is a driver scalar here, so the join strategy is picked from the
    # true size, not Catalyst's estimates. Un-hinted, the planner
    # broadcasts the EDGE side of the rank join (backwards at scale:
    # edges are the fact table) and runs the nodes⟕contrib update as a
    # SortMergeJoin: per iteration one edge-table broadcast, two
    # exchanges and two sorts (plans/r15/
    # g_pagerank_part_supplier_before.txt). At or under the cap both
    # node-sized sides are hinted: edges stream map-side through every
    # iteration and the only per-iteration shuffle is the dst partial
    # aggregation, the minimal shape for distributed PageRank. Above the
    # cap the shuffle plan is kept.
    small = n <= BROADCAST_NODES_MAX

    def _hint(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if small else df

    for it in range(iterations):
        rod = ranks.filter(F.col("outdeg") > 0).select(
            F.col("node").alias("src"), F.expr("rank_fp div outdeg").alias("c")
        )
        contrib = (
            edges.join(_hint(rod), "src")
            .select("dst", "c")
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            nodes.join(_hint(contrib), nodes.node == contrib.dst, "left")
            .select(
                "node",
                "outdeg",
                (
                    F.lit(base)
                    + F.expr(f"({damping_pct} * coalesce(s, 0L)) div 100")
                ).cast("long").alias("rank_fp"),
            )
        )
        if it < iterations - 1:
            # loop state: the next iteration's broadcast reads n rows;
            # the final iteration stays lazy for the caller's plan
            ranks = barrier(ranks, "pagerank_fixed_point.ranks")
    return ranks.select("node", "rank_fp")


def label_propagation_communities(
    pairs: DataFrame,
    *,
    iterations: int = 3,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Community detection over an undirected similarity graph by
    SYNCHRONOUS label propagation (Raghavan et al. 2007), made fully
    deterministic; returns (node, community).

    Where connected components (``operators/dedup.py
    duplicate_clusters``) answers "which docs are transitively linked
    AT ALL", communities answer "which docs form densely-linked
    groups" — on a dup graph polluted by a few spurious LSH candidate
    edges, components chain everything together while LPA keeps the
    near-clique dup families apart (the spurious bridge loses the
    vote). Its registry query, g_label_prop_communities, runs on the
    same LSH dup graph as d_duplicate_clusters.

    Determinism (the property that makes this value-gateable): classic
    LPA breaks vote ties randomly and updates asynchronously; here
    every round is synchronous, each node votes from its NEIGHBOURS'
    labels plus ONE self-vote (the damping that prevents two-cycles on
    bipartite-ish subgraphs from oscillating forever), and ties break
    to the SMALLEST label. Label₀(v) = v. After the fixed ``iterations``
    rounds the labelling is a pure function of the edge set, so the
    DuckDB oracle replays the rounds as unrolled CTEs and hash-matches.

    Scale shape: per round, one edges⨝labels hash join on the node id
    + one (node,label) count + one max_by per node — shuffles carry
    (id,label,count) triples only, never documents; the per-round
    barrier keeps the plan flat exactly like
    duplicate_clusters/pagerank. Vote aggregation is max(struct(count,
    -label)) — a single partial-aggregable expression, no window, so
    map-side combine collapses the vote table before the shuffle.
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
    )
    # readers: the label seed and every round's vote join
    edges = barrier(edges, "label_propagation_communities.edges")
    labels = edges.select(F.col("src").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    for _ in range(iterations):
        votes = edges.join(
            labels.select(F.col("node").alias("__n"), F.col("label").alias("__l")),
            F.col("dst") == F.col("__n"),
        ).select(F.col("src").alias("node"), F.col("__l").alias("label"))
        votes = votes.unionByName(labels)  # the self-vote
        labels = (
            votes.groupBy("node", "label")
            .agg(F.count(F.lit(1)).alias("c"))
            .groupBy("node")
            # max over (count, -label): most votes, then smallest label
            .agg(F.max(F.struct(F.col("c"), (-F.col("label")).alias("nl"))).alias("w"))
            .select("node", (-F.col("w.nl")).alias("label"))
        )
        # loop state: the next round's vote join and self-vote
        labels = barrier(labels, "label_propagation_communities.labels")
    return labels.select("node", F.col("label").alias("community"))
