"""Semantic invariants of the fixed-point PageRank operator."""

from __future__ import annotations

import pytest

import orderly_spark.queries  # noqa: F401
from orderly_spark.operators.graph import DEFAULT_SCALE, pagerank_fixed_point
from orderly_spark.registry import REGISTRY


def test_pagerank_two_node_cycle_fixpoint(spark):
    """a<->b: symmetric, so both ranks stay at scale/2 every iteration
    (base + 0.85*(scale/2) = scale/2 at d=0.85... verified by hand:
    base = 0.15*scale/2, contrib = rank, so rank' = 0.15*scale/2 +
    0.85*rank — fixpoint rank = scale/2). Integer truncation keeps
    them within 1 unit of each other and of scale/2."""
    edges = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    got = {r.node: r.rank_fp for r in pagerank_fixed_point(edges, iterations=4).collect()}
    assert set(got) == {1, 2}
    assert got[1] == got[2]
    assert abs(got[1] - DEFAULT_SCALE // 2) <= 4  # truncation drift only


def test_pagerank_no_inbound_node_gets_base_rank(spark):
    """Directed a->b: node a has no inbound edges, so after one
    iteration its rank is exactly the base term."""
    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    got = {r.node: r.rank_fp for r in pagerank_fixed_point(edges, iterations=1).collect()}
    base = (15 * DEFAULT_SCALE) // (100 * 2)
    assert got[1] == base
    assert got[2] > got[1]


def test_pagerank_mass_approximately_conserved(spark):
    """Star graph hub<->4 leaves: total fixed-point mass stays within
    the documented truncation loss (<= 1 unit per edge+node per
    iteration) of the full scale."""
    pairs = [(0, i) for i in range(1, 5)] + [(i, 0) for i in range(1, 5)]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    ranks = pagerank_fixed_point(edges, iterations=3)
    total = sum(r.rank_fp for r in ranks.collect())
    loss_bound = 3 * (len(pairs) + 5) + 5
    assert DEFAULT_SCALE - loss_bound <= total <= DEFAULT_SCALE
    # hub must out-rank every leaf
    got = {r.node: r.rank_fp for r in ranks.collect()}
    assert all(got[0] > got[i] for i in range(1, 5))


def test_pagerank_query_plan_is_pure_catalyst(spark, sf_smoke):
    """The registered query stays JVM-side end to end."""
    from orderly_spark.plans.audit import audit

    a = audit(REGISTRY["g_pagerank_part_supplier"].fn(spark, sf_smoke))
    assert not a.has_python_udf


def test_pagerank_empty_graph_returns_empty(spark):
    """An empty edge set yields an
    empty (node, rank_fp) frame, not an integer division by zero in
    the base-rank term."""
    from orderly_spark.operators.graph import pagerank_fixed_point

    empty = spark.createDataFrame([], "src long, dst long")
    out = pagerank_fixed_point(empty)
    assert out.columns == ["node", "rank_fp"]
    assert out.count() == 0


def test_lpa_separates_bridged_cliques(spark):
    """Two 3-cliques joined by ONE bridge edge: connected components
    labels all six nodes together; deterministic LPA (3 rounds,
    self-vote, min-label ties) keeps them apart — hand-traced:
    clique {1,2,3} → 1, clique {10,11,12} → 10."""
    from orderly_spark.operators.graph import label_propagation_communities

    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (10, 11), (10, 12), (11, 12), (3, 10)],
        "id_a long, id_b long",
    )
    got = {r.node: r.community for r in label_propagation_communities(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}


def test_lpa_deterministic_tie_breaks_to_min_label(spark):
    """A single edge: each node sees one neighbour vote + one
    self-vote — a tie — so BOTH must adopt the smaller id."""
    from orderly_spark.operators.graph import label_propagation_communities

    pairs = spark.createDataFrame([(7, 4)], "id_a long, id_b long")
    got = {r.node: r.community for r in label_propagation_communities(pairs).collect()}
    assert got == {4: 4, 7: 4}


def test_lpa_empty_pairs_returns_empty(spark):
    from orderly_spark.operators.graph import label_propagation_communities

    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert label_propagation_communities(pairs).count() == 0


def test_malformed_env_sizes_raise(monkeypatch):
    """A core count in the environment that is not an integer fails
    loudly when a session is built instead of silently becoming the
    default."""
    from orderly_spark.session import _cpus

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "abc")
    with pytest.raises(ValueError):
        _cpus()
