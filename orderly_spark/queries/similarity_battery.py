"""Similarity-search battery over ``embeddings`` (array<float>):
brute-force cosine top-k with a value-level DuckDB oracle (dot
products as ORDER-FIXED sequential double folds, bit-identical
across engines because the fold order is pinned, NOT because the
arithmetic is decimal; see operators/similarity._dot), the LSH- and
IVF-bucketed scale paths, int8-quantized scoring, an embedding
near-dup query and semantic dedup. Every oracle spells its cosine
with ``COSINE_SQL`` and its final rank with ``TOPK_SQL``, the DuckDB
twins of the operators' one verifier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orderly_spark.operators.clustering import IDOT_SQL, _idot
from orderly_spark.operators.similarity import (
    COSINE_SQL,
    TOPK_SQL,
    USABLE_VEC_SQL,
    _cosine,
    _dot_sql,
    _hyperplane,
    _rank,
    _usable_vec,
    _vec_side,
    cosine_topk,
    ivf_cosine_topk,
    lsh_cosine_topk,
    pseudo_centroids,
    semantic_dedup_stats,
)
from orderly_spark.registry import query
from orderly_spark.tables import load

#: the null + zero-norm entry predicate, oracle spelling of the
#: operators' _usable_vec guard
_USABLE = USABLE_VEC_SQL.format(c="embedding")


@query(
    "s_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
               WHERE vec_id < 5 AND {_USABLE}),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings WHERE {_USABLE}),
    scored AS (
      SELECT query_id, neighbor_id, {COSINE_SQL('qv', 'cv')} AS cosine
      FROM q, c WHERE query_id != neighbor_id
    )
    {TOPK_SQL('scored', 3)}
    """,
    category="similarity",
    survey="ann-bruteforce[abs]",
)
def s_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-3 for 5 query vectors: broadcast queries, one
    corpus scan, per-query top-k. Dot products are order-FIXED
    sequential double folds (not decimal): the ranking is
    bit-identical to the oracle because both engines fold in the same
    index order, so the fold must never be parallelized or
    reordered."""
    e = load(spark, sf_dir, "embeddings", fan_out=True)
    q = e.filter(F.col("vec_id") < 5)
    out = cosine_topk(e, q, id_col="vec_id", vec_col="embedding", k=3)
    return out.withColumn("rank", F.col("rank").cast("long"))


def _lsh_oracle() -> str:
    """Replay of lsh_cosine_topk (16 sign planes, 4 bands, seed 11):
    the md5-derived hyperplanes are embedded as literals (they are
    pure constants of (seed, plane, i)); the sketch threshold
    ``dot >= 0`` is bit-identical because both engines run the same
    fixed-order fold; band bits come off the sketch with integer
    div/mod, exactly Spark's shiftright+mask on a non-negative int.
    Same replayed-training discipline as _ivf_oracle / the PQ
    oracle."""
    planes = [_hyperplane(64, 11, p) for p in range(16)]
    plane_cols = ", ".join(
        f"[{', '.join(repr(x) for x in pl)}]::DOUBLE[] AS p{p}" for p, pl in enumerate(planes)
    )
    sketch = " + ".join(
        f"(CASE WHEN {_dot_sql('embedding', f'p{p}')} >= 0 THEN {1 << p} ELSE 0 END)"
        for p in range(16)
    )
    band_list = "[" + ", ".join(f"(sk // {16 ** b}) % 16" for b in range(4)) + "]"
    return f"""
    WITH planes AS (SELECT {plane_cols}),
    sk AS (
      SELECT vec_id, {sketch} AS sk
      FROM embeddings, planes
      WHERE {_USABLE}
    ),
    banded AS (
      SELECT vec_id, unnest(range(0, 4)) AS band_idx, unnest({band_list}) AS band_bits
      FROM sk
    ),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM banded c JOIN banded q USING (band_idx, band_bits)
      WHERE q.vec_id < 5 AND q.vec_id != c.vec_id
    ),
    scored AS (
      SELECT query_id, neighbor_id, {COSINE_SQL('qe.embedding', 'ce.embedding')} AS cosine
      FROM cand
      JOIN embeddings qe ON qe.vec_id = cand.query_id
      JOIN embeddings ce ON ce.vec_id = cand.neighbor_id
    )
    {TOPK_SQL('scored', 3)}
    """


@query(
    "s_lsh_cosine_topk",
    oracle=_lsh_oracle(),
    category="similarity",
    survey="ann-lsh[abs]",
)
def s_lsh_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-3 (16 sign planes, 4 bands):
    candidates from band equality only, exact re-rank inside buckets.
    The 100 TB path — corpus sketch is map-side, join is equi.
    Approximate vs BRUTE FORCE, but deterministic in itself: the
    seeded buckets and fixed-order folds replay exactly in SQL, so
    the gate checks exact values."""
    e = load(spark, sf_dir, "embeddings", fan_out=True)
    q = e.filter(F.col("vec_id") < 5)
    out = lsh_cosine_topk(e, q, dim=64, id_col="vec_id", vec_col="embedding", k=3)
    return out.withColumn("rank", F.col("rank").cast("long"))


@query(
    "s_embedding_neardup_pairs",
    oracle=f"""
    WITH v AS (SELECT vec_id, label, embedding AS ev FROM embeddings
               WHERE vec_id < 120 AND {_USABLE})
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label AS label_a, b.label AS label_b,
           {COSINE_SQL('a.ev', 'b.ev')} AS cosine
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE {COSINE_SQL('a.ev', 'b.ev')} >= 0.90
    """,
    category="similarity",
    survey="embedding-neardup[abs]",
)
def s_embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cosine >= 0.90) on a
    bounded id range — the re-rank stage of embedding dedup. (The
    unbounded version goes through the LSH candidate generator.)"""
    e = (
        load(spark, sf_dir, "embeddings", fan_out=True)
        .filter(F.col("vec_id") < 120)
        .filter(_usable_vec(F.col("embedding")))
    )
    a = _vec_side(e, "vec_id", "embedding", "id_a", "__a", F.col("label").alias("label_a"))
    b = _vec_side(e, "vec_id", "embedding", "id_b", "__b", F.col("label").alias("label_b"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", _cosine("__a", "__b"))
        .filter(F.col("cosine") >= 0.90)
        .select("id_a", "id_b", "label_a", "label_b", "cosine")
    )


def _ivf_oracle() -> str:
    cents = pseudo_centroids(64, 8)
    cent_cols = ", ".join(
        f"[{', '.join(repr(x) for x in c)}]::DOUBLE[] AS c{i}" for i, c in enumerate(cents)
    )
    dots = "[" + ", ".join(_dot_sql("embedding", f"c{i}") for i in range(8)) + "]"
    return f"""
    WITH cent AS (SELECT {cent_cols}),
    corpus AS (
      SELECT vec_id AS neighbor_id, embedding AS cv,
             list_position(d, list_aggregate(d, 'max')) AS cell
      FROM (SELECT vec_id, embedding, {dots} AS d
            FROM embeddings, cent WHERE {_USABLE})
    ),
    qd AS (
      SELECT vec_id AS query_id, embedding AS qv, {dots} AS d
      FROM embeddings, cent WHERE vec_id < 5 AND {_USABLE}
    ),
    qprobe AS (
      SELECT query_id, qv, cell FROM (
        SELECT query_id, qv, unnest(range(1, 9)) AS cell, unnest(d) AS dot FROM qd
      ) QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, cell) <= 2
    ),
    scored AS (
      SELECT query_id, neighbor_id, {COSINE_SQL('qv', 'cv')} AS cosine
      FROM corpus JOIN qprobe USING (cell)
      WHERE query_id != neighbor_id
    )
    {TOPK_SQL('scored', 3)}
    """


@query(
    "s_ivf_cosine_topk",
    oracle=_ivf_oracle(),
    category="similarity",
    survey="ann-ivf[abs]",
)
def s_ivf_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN (8 deterministic coarse cells, 2 probes): corpus
    cell assignment is map-side; probing prunes the candidate scan to
    n_probe/n_cells of the corpus; exact re-rank inside probed cells.
    Deterministic throughout, so the gate checks exact values."""
    e = load(spark, sf_dir, "embeddings", fan_out=True)
    q = e.filter(F.col("vec_id") < 5)
    out = ivf_cosine_topk(e, q, dim=64, id_col="vec_id", vec_col="embedding", k=3)
    return out.withColumn("rank", F.col("rank").cast("long"))


@query(
    "s_filtered_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS ql
               FROM embeddings WHERE vec_id < 5 AND {_USABLE}),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cv, label AS cl FROM embeddings
          WHERE {_USABLE}),
    scored AS (
      SELECT query_id, neighbor_id, {COSINE_SQL('qv', 'cv')} AS cosine
      FROM q, c WHERE query_id != neighbor_id AND ql = cl
    )
    {TOPK_SQL('scored', 3)}
    """,
    category="similarity",
    survey="ann-bruteforce[abs]",
)
def s_filtered_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search: top-3 cosine neighbours restricted to
    candidates sharing the query's ``label`` (the metadata-constrained
    ANN every training pipeline needs — same-language near-dup, same-
    licence retrieval). The label-equality term lives in the broadcast
    join condition, so mismatched candidates are skipped at probe time
    rather than scored and discarded; at 100 TB the same shape holds
    with the label folded into the LSH/IVF bucket key."""
    e = load(spark, sf_dir, "embeddings", fan_out=True)
    q = e.filter(F.col("vec_id") < 5)
    out = cosine_topk(e, q, id_col="vec_id", vec_col="embedding", k=3, match_cols=("label",))
    return out.withColumn("rank", F.col("rank").cast("long"))


def _quant_sql(v: str) -> str:
    """DuckDB int8 quantization mirroring the Spark side: floor() is
    repr-independent (unlike round), so the int arrays are identical."""
    amax = f"list_aggregate(list_transform({v}, x -> abs(CAST(x AS DOUBLE))), 'max')"
    return (
        f"CASE WHEN {amax} > 0 THEN "
        f"list_transform({v}, x -> CAST(floor(CAST(x AS DOUBLE) * (127.0 / {amax})) AS BIGINT)) "
        f"ELSE list_transform({v}, x -> CAST(0 AS BIGINT)) END"
    )


_QUANT_COLS = "query_id, neighbor_id, cosine_q, cosine_exact, abs(cosine_exact - cosine_q) AS abs_err, rank"


@query(
    "s_quantized_cosine_topk",
    oracle=f"""
    WITH base AS (
      SELECT vec_id, embedding AS v, {_quant_sql('embedding')} AS qv FROM embeddings
      WHERE {_USABLE}
    ),
    q AS (SELECT vec_id AS query_id, v AS qfv, qv AS qqv FROM base WHERE vec_id < 5),
    c AS (SELECT vec_id AS neighbor_id, v AS cfv, qv AS cqv FROM base),
    scored AS (
      SELECT query_id, neighbor_id,
             CAST({IDOT_SQL('qqv', 'cqv')} AS DOUBLE)
               / (sqrt(CAST({IDOT_SQL('qqv', 'qqv')} AS DOUBLE))
                  * sqrt(CAST({IDOT_SQL('cqv', 'cqv')} AS DOUBLE))) AS cosine_q,
             {COSINE_SQL('qfv', 'cfv')} AS cosine_exact
      FROM q, c WHERE query_id != neighbor_id
    )
    {TOPK_SQL('scored', 3, score="cosine_q", cols=_QUANT_COLS)}
    """,
    category="similarity",
    survey="ann-quantized[abs]",
)
def s_quantized_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 cosine neighbours computed on INT8-QUANTIZED vectors
    (per-vector absmax scaling, floor to [-127,127]), with the
    full-precision cosine and absolute error reported per result — the
    memory-bandwidth play every large ANN deployment makes (4× smaller
    vectors, integer dot products) plus the recall audit that justifies
    it. floor() not round(): floor on a double is representation-
    independent, so Spark and DuckDB produce identical int arrays,
    integer dot products are exact in any order, and the whole query
    stays under the VALUE gate despite being 'approximate'.

    Scale shape: quantization is map-side (computed once per corpus
    vector, persistable as an int8 column); candidate scoring is the
    same broadcast-queries/one-corpus-scan shape as cosine_topk with
    ~4× less data movement; exact re-scoring touches only the Q×k
    winners at full precision."""
    e = load(spark, sf_dir, "embeddings", fan_out=True).filter(_usable_vec(F.col("embedding")))

    def quant(vec):
        amax = F.array_max(F.transform(vec, lambda x: F.abs(x.cast("double"))))
        scaled = F.transform(vec, lambda x: F.floor(x.cast("double") * (F.lit(127.0) / amax)).cast("long"))
        zeros = F.transform(vec, lambda x: F.lit(0).cast("long"))
        return F.when(amax > 0, scaled).otherwise(zeros)

    def side(df, id_as, p):
        # the float side through the shared projection, the int8 side
        # beside it: vector as {p}qv, its integer norm as {p}qn
        qnorm = F.sqrt(_idot(F.col("qv"), F.col("qv")).cast("double"))
        return _vec_side(df, "vec_id", "v", id_as, p, F.col("qv").alias(f"{p}qv"), qnorm.alias(f"{p}qn"))

    base = e.select("vec_id", F.col("embedding").alias("v"), quant(F.col("embedding")).alias("qv"))
    q = side(base.filter(F.col("vec_id") < 5), "query_id", "__q")
    c = side(base, "neighbor_id", "__c")
    cosine_q = _idot(F.col("__qqv"), F.col("__cqv")).cast("double") / (F.col("__qqn") * F.col("__cqn"))
    scored = c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id")).select(
        "query_id", "neighbor_id", cosine_q.alias("cosine_q"), _cosine().alias("cosine_exact")
    )
    return _rank(scored, 3, score="cosine_q").select(
        "query_id", "neighbor_id", "cosine_q", "cosine_exact",
        F.abs(F.col("cosine_exact") - F.col("cosine_q")).alias("abs_err"), F.col("rank").cast("long"),
    )


def _semantic_dedup_oracle(tau: str = "0.4") -> str:
    cents = pseudo_centroids(64, 8)
    cent_cols = ", ".join(
        f"[{', '.join(repr(x) for x in c)}]::DOUBLE[] AS c{i}" for i, c in enumerate(cents)
    )
    dots = "[" + ", ".join(_dot_sql("embedding", f"c{i}") for i in range(8)) + "]"
    cos = COSINE_SQL("a.ev", "b.ev")
    return f"""
    WITH cent AS (SELECT {cent_cols}),
    cells AS (
      SELECT vec_id, ev, CAST(list_position(d, list_aggregate(d, 'max')) AS BIGINT) AS cell
      FROM (SELECT vec_id, embedding AS ev, {dots} AS d FROM embeddings, cent
            WHERE {_USABLE})
    ),
    dropped AS (
      SELECT a.cell, b.vec_id AS idb
      FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE {cos} >= {tau}
      GROUP BY a.cell, b.vec_id
    ),
    d AS (
      SELECT cell, COUNT(*) AS n_dropped, MIN(idb) AS min_dropped, MAX(idb) AS max_dropped
      FROM dropped GROUP BY cell
    ),
    s AS (SELECT cell, COUNT(*) AS n_vecs FROM cells GROUP BY cell)
    SELECT s.cell, n_vecs,
           COALESCE(n_dropped, 0) AS n_dropped,
           n_vecs - COALESCE(n_dropped, 0) AS n_kept,
           min_dropped, max_dropped
    FROM s LEFT JOIN d USING (cell)
    """


@query(
    "s_semantic_dedup_cells",
    oracle=_semantic_dedup_oracle(),
    category="similarity",
    survey="semantic-dedup[abs],embedding-neardup[abs],ann-ivf[abs]",
)
def s_semantic_dedup_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): the
    corpus is coarse-clustered into IVF cells (map-side argmax against
    broadcast centroids), pairwise cosine is computed ONLY within each
    cell, and a vector is dropped iff a smaller-id vector within
    cosine >= 0.4 shares its cell (threshold sized to this synthetic
    embedding space, whose max pairwise cosine is ~0.51 — the rule,
    not the constant, is the operator) — the deterministic greedy keep-rule.
    Per-cell survivor accounting comes back as pure integers, so the
    whole pipeline (cells, the greedy choice, the drop set) sits under
    the value oracle.

    Scale shape: the quadratic term is confined within cells (the
    SemDeDup design point — k cells cut pairwise work by ~k), cell
    assignment is one broadcast map-side pass, and the drop rule needs
    only the (cell) self-join plus one (cell, id) distinct: no global
    pair enumeration, no iteration. For sharper balls at scale, raise
    n_cells (k-means-trained via s_kmeans_cells) — the plan shape is
    unchanged."""
    e = load(spark, sf_dir, "embeddings", fan_out=True)
    return semantic_dedup_stats(e, pseudo_centroids(64, 8), tau=0.4)
