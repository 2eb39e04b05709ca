"""Literal-fixture unit tests for the exact integer-space k-means
(operators/clustering.py): hand-checkable 2-d points with an obvious
two-cluster structure, plus the determinism and quantization
invariants the oracle gate relies on."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from orderly_spark.operators import clustering as C

VEC_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ]
)

# two tight blobs: around (0,0) and around (10,10)
BLOBS = [
    (1, [0.0, 0.1]),
    (2, [0.1, 0.0]),
    (3, [0.05, 0.05]),
    (4, [10.0, 10.1]),
    (5, [10.1, 10.0]),
    (6, [10.05, 9.95]),
]


@pytest.fixture()
def blobs(spark):
    return spark.createDataFrame(BLOBS, schema=VEC_SCHEMA)


def test_kmeans_separates_blobs(spark, blobs):
    assigned, cents = C.kmeans_fit(blobs, k=2, iterations=2, scale_bits=10)
    rows = {r["vec_id"]: r["cell"] for r in assigned.collect()}
    assert rows[1] == rows[2] == rows[3]
    assert rows[4] == rows[5] == rows[6]
    assert rows[1] != rows[4]
    # trained centroids sit near the blob means in quantized space
    # (cents are (cell_id, vector) pairs of LIVE cells)
    means = sorted(vec[0] for _, vec in cents)
    assert means[0] == pytest.approx(0.05 * (1 << 10), abs=2)
    assert means[1] == pytest.approx(10.05 * (1 << 10), abs=2)


def test_kmeans_deterministic_across_partitionings(spark, blobs):
    a1, c1 = C.kmeans_fit(blobs.repartition(1), k=2, iterations=2)
    a7, c7 = C.kmeans_fit(blobs.repartition(7), k=2, iterations=2)
    assert c1 == c7
    assert sorted(map(tuple, a1.collect())) == sorted(map(tuple, a7.collect()))


def test_quantize_is_exact_floor(spark):
    df = spark.createDataFrame([(1, [0.5, -0.5, 0.0])], schema=VEC_SCHEMA)
    got = df.select(C.quantize_vec(F.col("embedding"), 4).alias("q")).head()["q"]
    # 0.5*16=8 ; -0.5*16=-8 (floor of exact value, no off-by-one) ; 0
    assert got == [8, -8, 0]


def test_assign_cells_tie_breaks_to_smallest_index(spark):
    df = spark.createDataFrame([(1, [0.0, 0.0])], schema=VEC_SCHEMA)
    q = df.select("vec_id", C.quantize_vec(F.col("embedding")).alias("__qv"))
    # two centroids equidistant from the origin → first index wins
    out = C.assign_cells(q, [(0, [5, 0]), (1, [-5, 0])]).head()
    assert out["cell"] == 0


def test_kmeans_ivf_matches_bruteforce_on_blobs(spark, blobs):
    from orderly_spark.operators.similarity import cosine_topk

    q = blobs.filter(F.col("vec_id") == 1)
    ivf = C.kmeans_ivf_topk(blobs, q, k=2, n_cells=2, n_probe=2)
    # n_probe == n_cells → candidate set is the full corpus → exact
    brute = cosine_topk(blobs, q, k=2)
    got = [(r["neighbor_id"], r["rank"]) for r in ivf.orderBy("rank").collect()]
    want = [(r["neighbor_id"], r["rank"]) for r in brute.orderBy("rank").collect()]
    assert got == want


def test_empty_cells_are_dropped_not_sentineled(spark):
    """Regression (review finding): an emptied cell must disappear
    from the centroid list — the old +inf-ish sentinel overflowed
    (q - 2^40)^2 past BIGINT under ANSI mode the moment any cell went
    empty. Live-cell-only centroids also match the oracle's GROUP
    BY-built cents exactly."""
    assigned = spark.createDataFrame(
        [(1, [0, 0], 2), (2, [4, 4], 2), (3, [100, 100], 5)],
        "vec_id long, __qv array<bigint>, cell int",
    )
    cents = C._update_centroids(assigned, dim=2)
    assert cents == [(2, [2, 2]), (5, [100, 100])]  # cells 0,1,3,4 gone
    out = {r.vec_id: r.cell for r in C.assign_cells(
        spark.createDataFrame([(9, [3, 3]), (10, [99, 99])], "vec_id long, __qv array<bigint>"),
        cents,
    ).collect()}
    assert out == {9: 2, 10: 5}


# four-dim blobs so the 2-subspace PQ split is non-trivial
BLOBS4 = [
    (1, [0.0, 0.1, 5.0, 5.1]),
    (2, [0.1, 0.0, 5.1, 5.0]),
    (3, [0.05, 0.05, 5.05, 5.05]),
    (4, [10.0, 10.1, -5.0, -5.1]),
    (5, [10.1, 10.0, -5.1, -5.0]),
    (6, [10.05, 9.95, -4.95, -5.05]),
]


def test_pq_adc_matches_bruteforce_when_candidates_cover_corpus(spark):
    """r9: with n_candidates >= corpus size the exact re-rank sees every
    vector, so PQ top-k must EQUAL brute force — the ADC stage can then
    only affect work, never results (the IVF full-probe test's twin)."""
    from orderly_spark.operators.similarity import cosine_topk

    blobs = spark.createDataFrame(BLOBS4, schema=VEC_SCHEMA)
    q = blobs.filter(F.col("vec_id") == 1)
    pq = C.pq_adc_topk(
        blobs, q, m_subs=2, codebook_k=2, n_candidates=10, topk=2, scale_bits=10
    )
    brute = cosine_topk(blobs, q, k=2)
    got = [(r["neighbor_id"], r["rank"]) for r in pq.orderBy("rank").collect()]
    want = [(r["neighbor_id"], r["rank"]) for r in brute.orderBy("rank").collect()]
    assert got == want


def test_pq_adc_deterministic_across_partitionings(spark):
    blobs = spark.createDataFrame(BLOBS4, schema=VEC_SCHEMA)
    q = blobs.filter(F.col("vec_id") < 3)

    def run(df):
        out = C.pq_adc_topk(df, q, m_subs=2, codebook_k=2, n_candidates=3,
                            topk=2, scale_bits=10)
        return sorted((r["query_id"], r["neighbor_id"], r["rank"], r["cosine"])
                      for r in out.collect())

    assert run(blobs.repartition(1)) == run(blobs.repartition(7))


def test_pq_adc_rejects_indivisible_subspaces(spark):
    blobs = spark.createDataFrame(BLOBS, schema=VEC_SCHEMA)  # dim 2
    with pytest.raises(ValueError, match="not divisible"):
        C.pq_adc_topk(blobs, blobs, m_subs=3)


def test_rq_adc_matches_bruteforce_when_candidates_cover_corpus(spark):
    """r12: with n_candidates >= corpus size the exact re-rank sees
    every vector, so RQ top-k must EQUAL brute force — the stacked
    codebooks and the separated-ADC identity can then only affect
    work, never results (the PQ test's twin)."""
    from orderly_spark.operators.similarity import cosine_topk

    blobs = spark.createDataFrame(BLOBS4, schema=VEC_SCHEMA)
    q = blobs.filter(F.col("vec_id") == 1)
    rq = C.rq_adc_topk(
        blobs, q, levels=2, codebook_k=2, n_candidates=10, topk=2, scale_bits=10
    )
    brute = cosine_topk(blobs, q, k=2)
    got = [(r["neighbor_id"], r["rank"]) for r in rq.orderBy("rank").collect()]
    want = [(r["neighbor_id"], r["rank"]) for r in brute.orderBy("rank").collect()]
    assert got == want


def test_rq_adc_deterministic_across_partitionings(spark):
    blobs = spark.createDataFrame(BLOBS4, schema=VEC_SCHEMA)
    q = blobs.filter(F.col("vec_id") < 3)

    def run(df):
        out = C.rq_adc_topk(df, q, levels=2, codebook_k=2, n_candidates=3,
                            topk=2, scale_bits=10)
        return sorted((r["query_id"], r["neighbor_id"], r["rank"], r["cosine"])
                      for r in out.collect())

    assert run(blobs.repartition(1)) == run(blobs.repartition(7))


def test_rq_residual_identity_descale_roundtrip(spark):
    """The kmeans_fit-reuse trick RQ leans on: integer ÷ 2^s is
    IEEE-exact and floor(r/2^s · 2^s) == r, so the level-1 chain's
    re-quantization is an identity. Pinned here directly — if this
    breaks, the Spark and oracle level-1 trainings silently diverge."""
    vals = [0, 1, -1, 7, -7, 123456, -123456, (1 << 40) - 3, -(1 << 40) + 3]
    s = float(1 << 20)
    df = spark.createDataFrame([(v,) for v in vals], "r long")
    out = df.select(
        (F.floor((F.col("r").cast("double") / F.lit(s)) * F.lit(s)).cast("long")).alias("rt"),
        "r",
    ).collect()
    assert all(row.rt == row.r for row in out)


def test_training_ctes_defaults_emit_preparameter_text():
    """r9 refactor pin (amended r10: the q CTE gained the null-vector
    filter mirroring kmeans_fit, so emissions are the r10 canonical
    text and every consumer gate regraded in the r10 window): the
    DEFAULTS must keep the structural shape the graded oracles are
    green on (no 'q q' alias artifacts, no prefixed names, the null
    filter present)."""
    from orderly_spark.queries.clustering_battery import (
        _assign_cte,
        _training_ctes,
    )

    ctes, cents = _training_ctes()
    joined = ",\n".join(ctes)
    assert cents == "c2"
    assert "FROM q CROSS JOIN c0 c" in joined          # no re-alias artifact
    assert "s0_" not in joined and " q q " not in joined
    assert "WHERE embedding IS NOT NULL" in joined     # r10 null filter
    # prefixed emission re-aliases so the q. qualifiers still resolve
    pq_ctes, pq_cents = _training_ctes(p="s0_", seed=47, dim=32,
                                       slice_sql="list_slice(embedding, 1, 32)")
    pjoined = ",\n".join(pq_ctes)
    assert pq_cents == "s0_c2"
    assert "FROM s0_q q CROSS JOIN s0_c0 c" in pjoined
    assert "md5('47:'" in pjoined


def test_pq_oracle_defaults_emit_r10_preparameter_text():
    """r10 refactor pin, amended r11: the entry predicate is now the
    full _usable_vec spelling (null AND zero-norm — the adversarial-
    embeddings sweep) in the query CTE and every subspace training
    chain; s_pq_adc_topk regrades in the r11 window. Structural pins:
    no OPQ artifacts, the query CTE and the re-rank join still read
    the raw embeddings table, the per-subspace seeds stay 47/48, the
    usable-vec filter is present."""
    from orderly_spark.operators.similarity import USABLE_VEC_SQL
    from orderly_spark.queries.clustering_battery import _pq_oracle

    usable = USABLE_VEC_SQL.format(c="embedding")
    o = _pq_oracle()
    assert "opq_" not in o
    assert f"FROM embeddings WHERE vec_id < 5 AND {usable}" in o
    assert "JOIN embeddings e2" in o
    assert "md5('47:'" in o and "md5('48:'" in o
    # training chains carry the same predicate (not the bare null test)
    assert o.count(usable) >= 3  # query CTE + both subspace q CTEs
    # and the OPQ variant redirects EVERY corpus read, incl. re-rank
    oo = _pq_oracle(src="opq_emb", seed=53, lead_ctes=("opq_emb AS (SELECT 1)",))
    assert "FROM embeddings WHERE" not in oo
    assert "JOIN opq_emb e2" in oo
    assert "md5('53:'" in oo and "md5('54:'" in oo


# ---------------------------------------------------------------------------
# OPQ-lite balanced permutation (r10)
# ---------------------------------------------------------------------------


def test_opq_permutation_serpentine_on_known_variances(spark):
    """dim 4, m 2, hand-built variances var(d0) < var(d1) < var(d2) <
    var(d3): rank order (desc) is d3,d2,d1,d0; serpentine dealing puts
    block0 forward (d3→sub0, d2→sub1) and block1 reversed (d1→sub1,
    d0→sub0). Target layout [sub0 slots | sub1 slots] =
    [d3, d0, d2, d1]."""
    rows = [
        (1, [0.0, 0.0, 0.0, 0.0]),
        (2, [0.1, 0.2, 0.4, 0.8]),
        (3, [-0.1, -0.2, -0.4, -0.8]),
    ]
    df = spark.createDataFrame(rows, schema=VEC_SCHEMA)
    perm = C.opq_balanced_permutation(df, m_subs=2, dim=4)
    assert perm == [3, 0, 2, 1]


def test_opq_permutation_ties_break_by_dim_index(spark):
    """All-equal variances: rank order is plain dim order, serpentine
    gives [d0, d3, d1, d2]."""
    rows = [(1, [0.5, 0.5, 0.5, 0.5]), (2, [-0.5, -0.5, -0.5, -0.5])]
    df = spark.createDataFrame(rows, schema=VEC_SCHEMA)
    perm = C.opq_balanced_permutation(df, m_subs=2, dim=4)
    assert perm == [0, 3, 1, 2]


def test_opq_permute_reorders_components_only(spark):
    df = spark.createDataFrame([(7, [1.0, 2.0, 3.0, 4.0])], schema=VEC_SCHEMA)
    got = C.opq_permute(df, [3, 0, 2, 1]).head()["embedding"]
    assert got == [4.0, 1.0, 3.0, 2.0]


def test_opq_permutation_balances_subspace_variance(spark):
    """8 dims with steeply decaying variance, m=2: the serpentine
    split's subspace variance totals must be closer than a naive
    contiguous split (the whole point of the transform)."""
    import random

    rng = random.Random(5)
    dim, n = 8, 60
    # variance of dim i decays with i: scale 0.5 / 2^i
    rows = [
        (i, [rng.uniform(-0.5, 0.5) / (2 ** d) for d in range(dim)]) for i in range(n)
    ]
    df = spark.createDataFrame(rows, schema=VEC_SCHEMA)
    perm = C.opq_balanced_permutation(df, m_subs=2, dim=dim)
    # exact integer variance proxy, recomputed here in Python
    qs = [[int((v * 1024) // 1) for v in r[1]] for r in rows]
    var = [
        n * sum(q[d] * q[d] for q in qs) - sum(q[d] for q in qs) ** 2
        for d in range(dim)
    ]
    half = dim // 2
    serp = abs(sum(var[p] for p in perm[:half]) - sum(var[p] for p in perm[half:]))
    naive = abs(sum(var[:half]) - sum(var[half:]))
    assert serp < naive


def test_opq_permutation_rejects_indivisible_dim(spark, blobs):
    with pytest.raises(ValueError, match="not divisible"):
        C.opq_balanced_permutation(blobs, m_subs=3, dim=4)


def test_opq_pq_ranks_match_plain_pq_on_separated_blobs(spark):
    """On cleanly separated 4-d blobs the permutation must not change
    WHO the neighbours are (cosine is permutation-invariant): same
    (query, neighbor, rank) triples as plain PQ."""
    rows = [
        (i, [b + 0.01 * i, b - 0.01 * i, 0.3 * b + 0.005 * i, 0.2 * b])
        for b, base in ((0.1, 0), (0.9, 10))
        for i in range(base, base + 6)
    ]
    df = spark.createDataFrame(rows, schema=VEC_SCHEMA)
    q = df.filter(F.col("vec_id") < 2)
    plain = C.pq_adc_topk(df, q, m_subs=2, codebook_k=2, topk=3, n_candidates=8)
    opq = C.opq_pq_adc_topk(df, q, m_subs=2, codebook_k=2, topk=3, n_candidates=8)
    key = lambda d: sorted((r["query_id"], r["neighbor_id"], r["rank"]) for r in d.collect())
    assert key(plain) == key(opq)


def test_trainers_ignore_null_vectors(spark):
    """r10 null-columns sweep: NULL embedding vectors (failed upstream
    encodes) are filtered at trainer entry on both engines — training
    results are IDENTICAL with and without null rows, null ids receive
    no assignment, and an all-null corpus raises the loud ValueError."""
    clean = spark.createDataFrame(BLOBS, schema=VEC_SCHEMA)
    with_nulls = clean.unionByName(
        spark.createDataFrame([(90, None), (91, None)], schema=VEC_SCHEMA)
    )
    a_clean, c_clean = C.kmeans_fit(clean, k=2, iterations=2)
    a_null, c_null = C.kmeans_fit(with_nulls, k=2, iterations=2)
    assert c_clean == c_null
    assert sorted(map(tuple, a_clean.collect())) == sorted(map(tuple, a_null.collect()))
    # PQ: identical (query, neighbor, rank) with nulls injected
    blobs4 = spark.createDataFrame(BLOBS4, schema=VEC_SCHEMA)
    dirty4 = blobs4.unionByName(
        spark.createDataFrame([(90, None)], schema=VEC_SCHEMA)
    )
    q = blobs4.filter(F.col("vec_id") == 1)
    key = lambda d: sorted((r["query_id"], r["neighbor_id"], r["rank"]) for r in d.collect())
    assert key(C.pq_adc_topk(blobs4, q, m_subs=2, codebook_k=2, scale_bits=10)) == key(
        C.pq_adc_topk(dirty4, q, m_subs=2, codebook_k=2, scale_bits=10)
    )
    all_null = spark.createDataFrame([(1, None), (2, None)], schema=VEC_SCHEMA)
    with pytest.raises(ValueError, match="no non-null"):
        C.kmeans_fit(all_null, k=2)


def test_trainer_envelope_overflows_loudly(spark):
    """PINNED ENVELOPE (r11 adversarial-embeddings sweep): the
    fixed-point trainers square quantized components (floor(v·2^20))
    in int64 distance arithmetic, so out-of-envelope magnitudes
    must abort the job with ANSI ARITHMETIC_OVERFLOW instead of
    silently training garbage centroids — the behaviour the
    adversarial corpus reproduced on every quantizing trainer.
    (quantize_vec itself saturates at the double-to-long floor; the
    LOUD stop is the SQUARED-DISTANCE multiply, which any training or
    assignment pass reaches immediately — so the per-component
    envelope is |v| < sqrt(2^63 / dim) / 2^(scale_bits+1), roughly 180
    for dim 64 at the default scale_bits=20. Unit-norm embeddings sit
    two-plus orders inside it.) In-envelope magnitudes (±50) train
    fine."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from orderly_spark.operators.clustering import kmeans_fit

    ok = spark.createDataFrame(
        [(i, [float((-1) ** j) * 50.0] * 4) for i, j in zip(range(6), range(6))],
        "vec_id long, embedding array<float>",
    )
    assert kmeans_fit(ok, k=2, iterations=1)[0].count() == 6
    bad = spark.createDataFrame(
        [(i, [1e30 * (i + 1)] * 4) for i in range(6)],
        "vec_id long, embedding array<float>",
    )
    with _pytest.raises(Exception, match="ARITHMETIC_OVERFLOW|overflow"):
        kmeans_fit(bad, k=2, iterations=1)[0].count()


def test_ann_ops_ignore_zero_norm_vectors(spark):
    """ZERO-NORM vectors (all-zero / all-negative-zero buffers) are
    filtered at every cosine-scoring op's entry
    (operators/similarity._usable_vec): results are IDENTICAL with and
    without zero rows, and zero ids never appear as query or
    neighbour. Without the guard, one zero vector aborts the whole job
    with ANSI DIVIDE_BY_ZERO at the norm division. Every family member
    ends in the same shared re-rank, so all return the same columns
    with the same types."""
    from orderly_spark.operators.similarity import cosine_topk, ivf_cosine_topk, lsh_cosine_topk

    blobs4 = spark.createDataFrame(BLOBS4, schema=VEC_SCHEMA)
    dirty = blobs4.unionByName(
        spark.createDataFrame(
            [(90, [0.0, 0.0, 0.0, 0.0]), (91, [-0.0, 0.0, -0.0, 0.0])],
            schema=VEC_SCHEMA,
        )
    )
    q_clean = blobs4.filter(F.col("vec_id") == 1)
    q_dirty = dirty.filter(F.col("vec_id").isin(1, 90))  # zero query dropped too
    ops = {
        "cosine_topk": lambda e, q: cosine_topk(e, q, k=3),
        "lsh_cosine_topk": lambda e, q: lsh_cosine_topk(e, q, dim=4, k=3),
        "ivf_cosine_topk": lambda e, q: ivf_cosine_topk(e, q, dim=4, k=3, n_cells=2, n_probe=2),
        "kmeans_ivf_topk": lambda e, q: C.kmeans_ivf_topk(e, q, k=3, n_cells=2, n_probe=2),
        "pq_adc_topk": lambda e, q: C.pq_adc_topk(e, q, m_subs=2, codebook_k=2, scale_bits=10),
        "rq_adc_topk": lambda e, q: C.rq_adc_topk(e, q, codebook_k=2, scale_bits=10),
        "opq_pq_adc_topk": lambda e, q: C.opq_pq_adc_topk(e, q, m_subs=2, codebook_k=2, scale_bits=10),
    }
    key = lambda d: sorted(
        (r["query_id"], r["neighbor_id"], r["cosine"], r["rank"]) for r in d.collect()
    )
    for name, op in ops.items():
        clean, with_zeros = op(blobs4, q_clean), op(dirty, q_dirty)
        assert clean.dtypes == with_zeros.dtypes == [
            ("query_id", "bigint"), ("neighbor_id", "bigint"), ("cosine", "double"), ("rank", "int")
        ], name
        got = key(with_zeros)
        assert got and got == key(clean), name
