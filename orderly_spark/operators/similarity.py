"""Similarity search over an embedding column (array<float>).

- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  Cost Q×N dot products; right answer for small query sets or as the
  re-rank stage after candidate generation.
- ``lsh_cosine_topk``: random-hyperplane LSH bucketing — the scale
  path. Sign-bit sketches from deterministic pseudo-hyperplanes,
  candidates from bucket equality (multi-probe via bands), exact
  re-rank within candidates only.

Every ANN operator here (and in ``operators/clustering``) is a
candidate generator in front of one verifier, :func:`_score_topk`:
exact cosine of each candidate pair, then the per-query top-k by
(cosine desc, neighbor_id). :func:`_rerank` feeds it a bare
``(query_id, neighbor_id)`` candidate relation.

Float discipline: dot products are a sequential left-fold over double
products in a FIXED index order (see :func:`_dot`), deterministic
across partitionings and mirrored exactly by DuckDB's list_reduce
(:func:`_dot_sql`); the final cosine is one double division + sqrt.
Each Spark helper has its DuckDB twin beside it (``COSINE_SQL``,
``TOPK_SQL``, ``USABLE_VEC_SQL``), so the fold-order and tie-order
contract the oracle gate depends on has one home per engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from orderly_spark.operators.relational import topk_per_group


def _dot(a: Column, b: Column) -> Column:
    """Deterministic dot product of two float arrays: a sequential
    left-fold in index order over double products. The fold order is
    fixed (not partition-dependent), so the result is bit-identical
    everywhere, and DuckDB's ``list_reduce`` (:func:`_dot_sql`)
    performs the same fold. Correctness depends on that order, so the
    fold must never be parallelised or reordered. (A decimal
    accumulator would be order-independent too, but the double→decimal
    rounding mode differs between engines.)"""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, p: acc + p)


def _dot_sql(a: str, b: str) -> str:
    """DuckDB twin of :func:`_dot`, kept beside it so the fold-order
    contract has one home per engine. ``(0.0 + p1) == p1`` in IEEE, so
    starting the fold at the first product instead of an explicit zero
    accumulator gives the same bits."""
    return (
        f"list_reduce(list_transform(range(1, len({a}) + 1), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)"
    )


def COSINE_SQL(a: str, b: str) -> str:
    """DuckDB twin of :func:`_cosine`: the cosine of the vector
    expressions ``a`` and ``b``, one double division of fixed-order
    folds."""
    return f"{_dot_sql(a, b)} / (sqrt({_dot_sql(a, a)}) * sqrt({_dot_sql(b, b)}))"


def TOPK_SQL(
    scored: str, k: int, score: str = "cosine", cols: str = "query_id, neighbor_id, cosine, rank"
) -> str:
    """DuckDB twin of :func:`_rank`: ``cols`` of the top ``k`` rows of
    relation ``scored`` per ``query_id`` by (``score`` desc,
    ``neighbor_id``), with ``rank`` as BIGINT."""
    return f"""SELECT {cols} FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY {score} DESC, neighbor_id) AS BIGINT) AS rank
      FROM {scored}) WHERE rank <= {k}"""


def _usable_vec(col: Column) -> Column:
    """Entry guard of every cosine-scoring op: NULL vectors (failed
    upstream encodes) and ZERO-NORM vectors (all-zero or
    all-negative-zero, e.g. a zeroed buffer from a crashed encoder) are
    filtered at op entry. A zero vector has no cosine direction; under
    ANSI its norm division raises DIVIDE_BY_ZERO, so one corrupt row
    would abort the whole job. IEEE note: ``x != 0.0`` is false for
    -0.0, so an all-negative-zero vector counts as zero-norm in both
    engines."""
    return col.isNotNull() & F.exists(col, lambda x: x != F.lit(0.0))


#: DuckDB twin of :func:`_usable_vec`. Format with the column name,
#: e.g. ``USABLE_VEC_SQL.format(c="embedding")``.
USABLE_VEC_SQL = "({c} IS NOT NULL AND len(list_filter({c}, x -> x <> 0)) > 0)"


def _vec_side(df: DataFrame, id_col: str, vec_col: str, id_as: str, p: str, *extra: Column) -> DataFrame:
    """One side of a cosine pair: ``id_as``, the vector as ``{p}v``,
    its norm as ``{p}n``, then ``extra``. The norm is a per-row
    quantity, so it is folded once per input row here rather than once
    per scored pair; the cosine's operands, and so its bits, are the
    same either way."""
    v = F.col(vec_col)
    norm = F.sqrt(_dot(v, v))
    return df.select(F.col(id_col).alias(id_as), v.alias(f"{p}v"), norm.alias(f"{p}n"), *extra)


def _cosine(a: str = "__q", b: str = "__c") -> Column:
    """Cosine of a pair whose sides :func:`_vec_side` projected with
    prefixes ``a`` and ``b``."""
    return _dot(F.col(f"{a}v"), F.col(f"{b}v")) / (F.col(f"{a}n") * F.col(f"{b}n"))


def _rank(scored: DataFrame, k: int, score: str = "cosine") -> DataFrame:
    """Top ``k`` rows of ``scored`` per ``query_id`` by (``score``
    desc, ``neighbor_id``), numbered in ``rank``. ``neighbor_id`` is
    unique per query, so ties on the score resolve the same way in
    every partitioning and in the oracle (:func:`TOPK_SQL`)."""
    return topk_per_group(scored, ["query_id"], [F.desc(score), F.col("neighbor_id")], k, rank_col="rank")


def _score_topk(cand: DataFrame, k: int) -> DataFrame:
    """The verifier every ANN operator ends in: exact cosine of each
    candidate pair of ``cand`` (``query_id``/``__qv``/``__qn`` beside
    ``neighbor_id``/``__cv``/``__cn``), then the per-query top ``k``.
    Output (query_id, neighbor_id, cosine, rank)."""
    return _rank(cand.select("query_id", "neighbor_id", _cosine().alias("cosine")), k)


def _rerank(
    pairs: DataFrame, embeddings: DataFrame, queries: DataFrame, id_col: str, vec_col: str, k: int
) -> DataFrame:
    """Exact re-rank of a ``(query_id, neighbor_id)`` candidate
    relation: both ids meet their vectors (the query side broadcast),
    then :func:`_score_topk`."""
    corpus = _vec_side(embeddings, id_col, vec_col, "neighbor_id", "__c")
    q = _vec_side(queries, id_col, vec_col, "query_id", "__q")
    return _score_topk(pairs.join(corpus, "neighbor_id").join(F.broadcast(q), "query_id"), k)


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    match_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Exact top-k cosine neighbours of each query vector.

    The query side is broadcast (queries << corpus is the ANN
    contract), so the corpus is scanned exactly once with no shuffle
    until the final per-query top-k (tiny: Q×k rows). Output:
    (query_id, neighbor_id, cosine, rank).

    ``match_cols`` = filtered vector search: neighbours must agree
    with the query on these metadata columns (e.g. same language /
    label / licence bucket). The equality terms join the broadcast
    condition, so filtered candidates are skipped at probe time —
    never scored then discarded."""
    embeddings = embeddings.filter(_usable_vec(F.col(vec_col)))
    queries = queries.filter(_usable_vec(F.col(vec_col)))
    q = _vec_side(
        queries, id_col, vec_col, "query_id", "__q", *[F.col(mc).alias(f"__q_{mc}") for mc in match_cols]
    )
    c = _vec_side(embeddings, id_col, vec_col, "neighbor_id", "__c", *[F.col(mc) for mc in match_cols])
    cond = F.col("query_id") != F.col("neighbor_id")
    for mc in match_cols:
        cond = cond & (F.col(f"__q_{mc}") == F.col(mc))
    return _score_topk(c.join(F.broadcast(q), cond), k)


def _hyperplane(dim: int, seed: int, plane: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane: component i is
    derived from md5 bytes of (seed, plane, i) — centred on 0."""
    import hashlib

    out = []
    for i in range(dim):
        h = hashlib.md5(f"{seed}:{plane}:{i}".encode()).hexdigest()
        out.append((int(h[:8], 16) / float(0xFFFFFFFF)) - 0.5)
    return out


def _double_array(xs: list[float]) -> Column:
    """``xs`` as one SQL array literal of doubles. ``repr`` of a float
    parses back to the same double, so the values equal those of
    ``F.array(*[F.lit(x) for x in xs])``; the literal is built in one
    py4j call instead of one per component."""
    return F.expr(f"array({', '.join(f'{x!r}D' for x in xs)})")


def sign_sketch(vec: Column, dim: int, *, num_planes: int = 16, seed: int = 11) -> Column:
    """Random-hyperplane sign sketch as an int (bit p = sign of
    <vec, plane_p>). Hyperplanes are literals — broadcast once, no
    per-row randomness."""
    bits = []
    for p in range(num_planes):
        dot = _dot(vec, _double_array(_hyperplane(dim, seed, p)))
        bits.append(F.when(dot >= 0, F.lit(1 << p)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def lsh_cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    num_planes: int = 16,
    bands: int = 4,
    seed: int = 11,
) -> DataFrame:
    """Approximate top-k: candidates = corpus vectors sharing at least
    one sketch band with the query, re-ranked exactly.

    At 100 TB the corpus sketch is computed map-side once (cacheable),
    the join key is (band_idx, band_bits) — an equi-join, no cross
    product; recall tunes via bands/planes."""
    embeddings = embeddings.filter(_usable_vec(F.col(vec_col)))
    queries = queries.filter(_usable_vec(F.col(vec_col)))
    bits_per_band = num_planes // bands
    mask = (1 << bits_per_band) - 1

    def banded(df: DataFrame, idc: str, p: str) -> DataFrame:
        sk = sign_sketch(F.col(vec_col), dim, num_planes=num_planes, seed=seed)
        d = _vec_side(df, id_col, vec_col, idc, p, sk.alias("__sk"))
        return d.select(
            idc,
            f"{p}v",
            f"{p}n",
            F.posexplode(
                F.array(*[F.shiftright(F.col("__sk"), b * bits_per_band).bitwiseAND(F.lit(mask)) for b in range(bands)])
            ).alias("band_idx", "band_bits"),
        )

    qb = banded(queries, "query_id", "__q")
    cb = banded(embeddings, "neighbor_id", "__c")
    cand = (
        cb.join(F.broadcast(qb), ["band_idx", "band_bits"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "__qv", "__cv", "__qn", "__cn")
        .distinct()
    )
    return _score_topk(cand, k)


def pseudo_centroids(dim: int, n_cells: int, seed: int = 23) -> list[list[float]]:
    """Deterministic coarse-quantizer 'centroids' (md5-derived, like
    the LSH hyperplanes). A real deployment k-means-fits these on a
    sample and broadcasts them — the operator shape is identical."""
    return [_hyperplane(dim, seed, c) for c in range(n_cells)]


def _cell_dots(vec: Column, cents: list[list[float]]) -> Column:
    return F.array(*[_dot(vec, _double_array(c)) for c in cents])


def ivf_cell(vec: Column, cents: list[list[float]]) -> Column:
    """IVF coarse assignment: 1-based index of the first max-dot cell."""
    dots = _cell_dots(vec, cents)
    return F.array_position(dots, F.array_max(dots))


def ivf_cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_cells: int = 8,
    n_probe: int = 2,
    seed: int = 23,
) -> DataFrame:
    """IVF-style ANN: corpus vectors live in coarse cells (argmax dot
    against broadcast centroids, computed map-side); each query probes
    its ``n_probe`` best cells; candidates = corpus rows in probed
    cells, re-ranked exactly.

    At 100 TB: the corpus cell id is a persisted/partitioned column —
    probing prunes the scan to n_probe/n_cells of the data (partition
    pruning on `cell`), and the candidate join is an equi-join on a
    tiny key. Cells are computed inline here; the deployment shape
    assigns them once at ingest and amortises the assignment over every
    query batch. Deterministic end to end (pseudo-centroids, first-max
    ties), so the DuckDB oracle checks exact values."""
    embeddings = embeddings.filter(_usable_vec(F.col(vec_col)))
    queries = queries.filter(_usable_vec(F.col(vec_col)))
    cents = pseudo_centroids(dim, n_cells, seed)
    # Corpus norms are projected per corpus row, below the join: at low
    # query volume this costs about the same as folding them per
    # candidate, and at high volume it is clearly cheaper, because a
    # corpus row meets every query probing its cell. A broadcast semi
    # join on the probed cells ahead of the norm measured slower at
    # every volume.
    cell = ivf_cell(F.col(vec_col), cents).alias("cell")
    c = _vec_side(embeddings, id_col, vec_col, "neighbor_id", "__c", cell)
    qdots = _cell_dots(F.col(vec_col), cents)
    ranked = F.array_sort(
        F.zip_with(
            qdots,
            F.sequence(F.lit(1), F.lit(n_cells)),
            lambda d, i: F.struct(d.alias("d"), i.alias("i")),
        ),
        lambda l, r: F.when(l["d"] > r["d"], -1)
        .when(l["d"] < r["d"], 1)
        .when(l["i"] < r["i"], -1)
        .otherwise(1),
    )
    probes = F.transform(F.slice(ranked, 1, n_probe), lambda s: s["i"])
    q = _vec_side(queries, id_col, vec_col, "query_id", "__q", F.explode(probes).alias("cell"))
    cand = c.join(F.broadcast(q), "cell").filter(F.col("query_id") != F.col("neighbor_id"))
    return _score_topk(cand, k)


def semantic_dedup_stats(
    embeddings: DataFrame,
    cents: list[list[float]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tau: float = 0.4,
) -> DataFrame:
    """SemDeDup-style greedy semantic dedup (Abbas et al. 2023),
    per-cell survivor accounting: vectors are coarse-assigned to the
    broadcast ``cents`` map-side; within each cell a vector is DROPPED
    iff a smaller-id vector with cosine >= ``tau`` shares the cell.
    Returns (cell, n_vecs, n_dropped, n_kept, min_dropped,
    max_dropped) — pure integers, value-oracle-safe.

    The quadratic pairwise term is confined within cells — k cells cut
    pair volume by ~k, the SemDeDup design point; raise k (k-means-
    trained centroids via operators/clustering.kmeans_fit) for sharper
    balls with the SAME plan shape."""
    usable = embeddings.filter(_usable_vec(F.col(vec_col)))
    cell = ivf_cell(F.col(vec_col), cents).alias("cell")
    cells = _vec_side(usable, id_col, vec_col, "vec_id", "e", cell)
    a, b = cells.alias("a"), cells.alias("b")
    cos = _cosine("a.e", "b.e")
    dropped = (
        a.join(b, (F.col("a.cell") == F.col("b.cell")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .filter(cos >= tau)
        .select(F.col("a.cell").alias("cell"), F.col("b.vec_id").alias("idb"))
        .distinct()
    )
    d = dropped.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_dropped"),
        F.min("idb").alias("min_dropped"),
        F.max("idb").alias("max_dropped"),
    )
    s = cells.groupBy("cell").agg(F.count(F.lit(1)).alias("n_vecs"))
    # Both aggregates have one row per cell, so at most len(cents)
    # rows at any corpus scale. d derives from the within-cell self
    # join, whose inflated size estimate would otherwise plan this tail
    # join as a sort-merge join; the broadcast states the bound.
    return s.join(F.broadcast(d), "cell", "left").select(
        "cell",
        "n_vecs",
        F.coalesce("n_dropped", F.lit(0)).alias("n_dropped"),
        (F.col("n_vecs") - F.coalesce("n_dropped", F.lit(0))).alias("n_kept"),
        "min_dropped",
        "max_dropped",
    )
