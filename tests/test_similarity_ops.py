"""Literal-fixture unit tests for similarity search (brute-force /
LSH / IVF cosine top-k) and the as-of join. Hand-checkable vectors so
expected cosines are exact."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from orderly_spark.operators import asof as AJ
from orderly_spark.operators import similarity as S

VEC_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ]
)

# 2-d vectors with known angles: 1=(1,0), 2=(1,1)/cos45, 3=(0,1), 4=(-1,0), 5=(2,0) parallel to 1
VECS = [
    (1, [1.0, 0.0]),
    (2, [1.0, 1.0]),
    (3, [0.0, 1.0]),
    (4, [-1.0, 0.0]),
    (5, [2.0, 0.0]),
]


@pytest.fixture()
def vecs(spark):
    return spark.createDataFrame(VECS, schema=VEC_SCHEMA)


def test_cosine_topk_exact_values(spark, vecs):
    q = vecs.filter(F.col("vec_id") == 1)
    got = S.cosine_topk(vecs, q, k=4).orderBy("rank").collect()
    assert [r["neighbor_id"] for r in got] == [5, 2, 3, 4]
    assert got[0]["cosine"] == pytest.approx(1.0)  # parallel
    assert got[1]["cosine"] == pytest.approx(1 / math.sqrt(2))
    assert got[2]["cosine"] == pytest.approx(0.0)
    assert got[3]["cosine"] == pytest.approx(-1.0)
    assert [r["rank"] for r in got] == [1, 2, 3, 4]


def test_cosine_topk_excludes_self_and_respects_k(spark, vecs):
    q = vecs.filter(F.col("vec_id") == 1)
    got = S.cosine_topk(vecs, q, k=2).collect()
    assert len(got) == 2
    assert all(r["neighbor_id"] != 1 for r in got)


def test_lsh_topk_subset_of_exact_with_parallel_recall(spark, vecs):
    q = vecs.filter(F.col("vec_id") == 1)
    got = S.lsh_cosine_topk(vecs, q, dim=2, k=4).collect()
    # a parallel vector agrees on every sign bit -> always a candidate,
    # and re-ranking is exact so it lands at rank 1 with cosine 1
    top = min(got, key=lambda r: r["rank"])
    assert top["neighbor_id"] == 5
    assert top["cosine"] == pytest.approx(1.0)
    exact = {r["neighbor_id"] for r in S.cosine_topk(vecs, q, k=4).collect()}
    assert {r["neighbor_id"] for r in got} <= exact


def test_ivf_topk_finds_parallel_vector(spark, vecs):
    q = vecs.filter(F.col("vec_id") == 1)
    got = S.ivf_cosine_topk(vecs, q, dim=2, k=3, n_cells=4, n_probe=4).orderBy("rank").collect()
    assert got[0]["neighbor_id"] == 5
    assert got[0]["cosine"] == pytest.approx(1.0)
    # probing every cell == exact candidates: same neighbor set as brute force
    exact = [r["neighbor_id"] for r in S.cosine_topk(vecs, q, k=3).orderBy("rank").collect()]
    assert [r["neighbor_id"] for r in got] == exact


def test_ivf_cell_assignment_is_deterministic(spark, vecs):
    cents = S.pseudo_centroids(2, 4)
    a = vecs.select("vec_id", S.ivf_cell(F.col("embedding"), cents).alias("c")).collect()
    b = vecs.repartition(5).select("vec_id", S.ivf_cell(F.col("embedding"), cents).alias("c")).collect()
    assert {r["vec_id"]: r["c"] for r in a} == {r["vec_id"]: r["c"] for r in b}
    assert all(1 <= r["c"] <= 4 for r in a)


def test_asof_join_backward_literal(spark):
    left = spark.createDataFrame(
        [("k1", 5), ("k1", 10), ("k1", 1), ("k2", 7)], ["k", "ts"]
    )
    right = spark.createDataFrame(
        [("k1", 2, "a"), ("k1", 7, "b"), ("k1", 10, "c"), ("k2", 9, "z")],
        ["k", "rts", "val"],
    )
    got = {
        (r["k"], r["ts"]): (r["val_right"], r["rts_right"])
        for r in AJ.asof_join_backward(left, right, ["k"], "ts", "rts", ["val"]).collect()
    }
    assert got[("k1", 1)] == (None, None)  # nothing at or before ts=1
    assert got[("k1", 5)] == ("a", 2)
    assert got[("k1", 10)] == ("c", 10)  # equal timestamps match (inclusive)
    assert got[("k2", 7)] == (None, None)  # per-key isolation: k2's right row is later


def test_asof_join_backward_right_tie_is_deterministic(spark):
    """Two right rows sharing (key, ts): the winner must be the
    GREATEST right row in value-column order, independent of partition
    layout (review pass 8: the window order previously stopped at
    (ts, side), leaving the carried-forward winner partition-order-
    dependent)."""
    left = spark.createDataFrame([("k1", 10)], ["k", "ts"])
    right = spark.createDataFrame(
        [("k1", 5, "a"), ("k1", 5, "b"), ("k1", 5, "c")], ["k", "rts", "val"]
    )
    for nparts in (1, 2, 3):
        out = AJ.asof_join_backward(
            left, right.repartition(nparts), ["k"], "ts", "rts", ["val"]
        ).collect()
        assert len(out) == 1
        assert out[0]["val_right"] == "c", f"nparts={nparts}"


def test_asof_join_forward_literal(spark):
    left = spark.createDataFrame(
        [("k1", 5), ("k1", 11), ("k1", 2), ("k2", 7)], ["k", "ts"]
    )
    right = spark.createDataFrame(
        [("k1", 2, "a"), ("k1", 7, "b"), ("k1", 10, "c"), ("k2", 3, "z")],
        ["k", "rts", "val"],
    )
    got = {
        (r["k"], r["ts"]): (r["val_right"], r["rts_right"])
        for r in AJ.asof_join_forward(left, right, ["k"], "ts", "rts", ["val"]).collect()
    }
    assert got[("k1", 2)] == ("a", 2)   # equal timestamps match (inclusive)
    assert got[("k1", 5)] == ("b", 7)   # earliest at-or-after, not latest
    assert got[("k1", 11)] == (None, None)  # nothing at or after ts=11
    assert got[("k2", 7)] == (None, None)   # per-key isolation


def test_asof_join_forward_whole_row_carry(spark):
    """The struct carry must attach ONE real right row even when tied
    right rows have complementary NULL value columns (r5 advice: the
    per-column carry could stitch a row existing on neither input)."""
    left = spark.createDataFrame([("k1", 1)], ["k", "ts"])
    right = spark.createDataFrame(
        [("k1", 5, None, 1), ("k1", 5, 2, None)],
        "k string, rts long, a long, b long",
    )
    out = AJ.asof_join_forward(left, right, ["k"], "ts", "rts", ["a", "b"]).collect()
    assert len(out) == 1
    pair = (out[0]["a_right"], out[0]["b_right"])
    assert pair in {(None, 1), (2, None)}, pair  # a WHOLE input row, not a blend
