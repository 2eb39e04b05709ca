"""Distributed k-means (Lloyd's) over an embedding column — the
trainer the IVF index (operators/similarity.py ivf_cosine_topk) was
missing: instead of pseudo-random centroids, cells can now come from
real cluster structure, which is what makes n_probe≪n_cells recall
work on real corpora.

Reference: none (the reference repo has no clustering); this is an
[abs] operator for the 100 TB LLM-pipeline north star (IVF index
build, corpus topic bucketing, stratification by cluster).

Scale shape (the standard MapReduce Lloyd's):
- assignment is MAP-SIDE ONLY: centroids are a collected k×dim literal
  (bounded dimension build, same pattern as cleaning.py's InSet
  broadcast — k·dim ≤ ~10⁶ is the documented ceiling), so each
  iteration scans the corpus once with zero shuffle for assignment;
- the update step shuffles only (cell, dim, partial-sum) rows after
  map-side partial aggregation — k·dim·partitions rows, independent
  of corpus size;
- iterations are a driver loop over small collects (k·dim longs), the
  corpus is never collected.

Determinism contract (why INTEGER space): float means are not
order-independent and double→decimal rounding differs between engines
at boundary ulps, so everything here runs on floor-quantized vectors:
``q_i = floor(v_i · 2^scale_bits)``. A power-of-two multiply is EXACT
in IEEE and floor is rounding-free, so quantization is bit-identical
in Spark and DuckDB; distances are exact BIGINT sums; centroid update
is exact floor division ``(S - pmod(S, C)) / C``. Results are a pure
function of the data — identical across partitionings, retries, and
engines — which is what lets the driver hash-compare a clustering.
Quantization error ≤ 2^-scale_bits per component (default 2^-20 ≈
1e-6) — far below any real embedding's noise floor.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from orderly_spark.operators.relational import topk_per_group
from orderly_spark.operators.similarity import _rerank, _score_topk, _usable_vec, _vec_side
from orderly_spark.operators.text import seeded_md5
from orderly_spark.session import barrier

__all__ = [
    "quantize_vec",
    "kmeans_fit",
    "assign_cells",
    "pq_adc_topk",
    "opq_balanced_permutation",
    "opq_permute",
    "opq_pq_adc_topk",
    "rq_adc_topk",
    "QUANTIZE_SQL",
    "DIST_SQL",
    "IDOT_SQL",
]


def quantize_vec(vec: Column, scale_bits: int = 20) -> Column:
    """``array<float>`` → exact ``array<bigint>``: floor(v · 2^bits).

    The multiply is by a power of two (never rounds); floor is
    tie-free. Engine-identical by construction."""
    s = float(1 << scale_bits)
    return F.transform(vec, lambda x: F.floor(x.cast("double") * F.lit(s)).cast("long"))


def QUANTIZE_SQL(vec_expr: str, scale_bits: int = 20) -> str:
    """DuckDB mirror of :func:`quantize_vec`."""
    s = float(1 << scale_bits)
    return (
        f"list_transform({vec_expr}, x -> CAST(FLOOR(CAST(x AS DOUBLE) * {s!r}) AS BIGINT))"
    )


def _sqdist(qv: Column, cent: list[int]) -> Column:
    """Exact ∑(q_i − c_i)² as BIGINT against one literal centroid."""
    c = F.array(*[F.lit(int(v)) for v in cent])
    diffs = F.zip_with(qv, c, lambda a, b: (a - b) * (a - b))
    return F.aggregate(diffs, F.lit(0).cast("long"), lambda acc, d: acc + d)


def DIST_SQL(qv_expr: str, cv_expr: str) -> str:
    """DuckDB mirror of the exact integer squared distance between two
    BIGINT list expressions."""
    return (
        f"list_reduce(list_transform(range(1, len({qv_expr}) + 1), "
        f"i -> (({qv_expr})[i] - ({cv_expr})[i]) * (({qv_expr})[i] - ({cv_expr})[i])), "
        f"(x, y) -> x + y)"
    )


def IDOT_SQL(a_expr: str, b_expr: str) -> str:
    """DuckDB mirror of the exact BIGINT inner product between two
    integer list expressions (the RQ/ADC per-level table entry)."""
    return (
        f"list_reduce(list_transform(range(1, len({a_expr}) + 1), "
        f"i -> ({a_expr})[i] * ({b_expr})[i]), (x, y) -> x + y)"
    )


def assign_cells(
    df: DataFrame,
    centroids: list[tuple[int, list[int]]],
    qvec_col: str = "__qv",
    out_col: str = "cell",
) -> DataFrame:
    """Nearest-centroid assignment, map-side only (centroids are
    (cell_id, vector) literals, sorted by cell_id and containing only
    LIVE cells — empty cells are dropped entirely, exactly like the
    oracle's GROUP BY-built cents, instead of carrying a +inf-ish
    sentinel whose squared distance would overflow BIGINT under ANSI
    mode). Ties break to the smallest cell id (first position of the
    min over the id-sorted list — mirrored by the oracle's ORDER BY
    dist, cell)."""
    dists = F.array(*[_sqdist(F.col(qvec_col), vec) for _, vec in centroids])
    ids = F.array(*[F.lit(int(cid)) for cid, _ in centroids])
    pos = F.array_position(dists, F.array_min(dists)).cast("int")
    return df.withColumn(out_col, F.element_at(ids, pos).cast("int"))


def _update_centroids(
    assigned: DataFrame, dim: int, qvec_col: str = "__qv"
) -> list[tuple[int, list[int]]]:
    """One exact centroid update: per-(cell, dim) integer mean by
    floor division. Map-side partial sums mean the shuffle carries
    O(k·dim·partitions) rows regardless of corpus size. Cells that
    lost all members simply DISAPPEAR from the returned list (the
    aggregation has no row for them) — identical to the oracle's
    GROUP BY cents; the earlier +inf-ish sentinel overflowed
    (q − 2^40)² past BIGINT the moment a cell emptied."""
    exploded = assigned.select(
        F.col("cell"), F.posexplode(F.col(qvec_col)).alias("pos", "q")
    )
    stats = (
        exploded.groupBy("cell", "pos")
        .agg(F.sum("q").alias("s"), F.count("q").alias("c"))
        # exact floor(s / c): subtract the positive mod first, then
        # INTEGER `div`, never a double `/`, whose truncation rules
        # diverge from DuckDB's CAST-rounding once |s| > 2^53
        # (cleaning.py uses DIV for the same reason). pmod keeps
        # negative sums correct.
        .withColumn("m", F.expr("(s - pmod(s, c)) div c"))
    )
    rows = stats.select("cell", "pos", "m").collect()  # bounded: k·dim longs
    by_cell: dict[int, list[int]] = {}
    for r in rows:
        by_cell.setdefault(r["cell"], [0] * dim)[r["pos"]] = r["m"]
    return sorted((cid, vec) for cid, vec in by_cell.items())


def kmeans_fit(
    embeddings: DataFrame,
    k: int = 4,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale_bits: int = 20,
    seed: int = 31,
) -> tuple[DataFrame, list[tuple[int, list[int]]]]:
    """Lloyd's k-means on floor-quantized vectors.

    Init: the k rows with the smallest ``(md5(seed:id), id)`` — a pure
    function of the data (no RNG state), mirrored exactly by the SQL
    oracle, and stable under any partitioning/retry.

    Returns ``(assignments, centroids)`` where assignments is
    ``(id_col, cell)`` after the final assignment pass and centroids
    are the trained quantized vectors (feed them to
    :func:`assign_cells` to index new data, or use ``cell`` as the
    IVF partition column — see similarity.ivf_cosine_topk's persisted
    cell-assignment path).

    NULL vectors (failed upstream encodes, routine at corpus scale)
    are FILTERED here, not trained on: a NULL picked as a seed centroid
    would crash the driver loop with a bare TypeError. They simply
    receive no assignment row; the SQL oracle twin filters
    identically.
    """
    base = embeddings.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col), quantize_vec(F.col(vec_col), scale_bits).alias("__qv")
    )
    # readers: the dim head, the seed scan, every update and the final assignment
    base = barrier(base, "kmeans_fit.base")
    # dim from a single-row head, not a full scan
    head = base.select(F.size("__qv").alias("d")).head()
    if head is None:
        raise ValueError("kmeans_fit: no non-null embedding vectors in input")
    dim = head["d"]

    seed_rows = (
        base.withColumn("__h", seeded_md5(seed, F.col(id_col).cast("string")))
        .orderBy("__h", id_col)
        .limit(k)
        .select("__qv")
        .collect()
    )  # bounded: k·dim longs
    cents = [(i, list(r["__qv"])) for i, r in enumerate(seed_rows)]

    for _ in range(iterations):
        assigned = assign_cells(base, cents)
        cents = _update_centroids(assigned, dim)

    final = assign_cells(base, cents).select(id_col, "cell")
    return final, cents


def kmeans_ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_cells: int = 4,
    iterations: int = 2,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 31,
) -> DataFrame:
    """IVF ANN with a TRAINED coarse quantizer: k-means centroids
    replace similarity.pseudo_centroids, which is what makes
    n_probe ≪ n_cells recall hold on clustered corpora. Deterministic
    end to end (integer k-means + exact decimal re-rank), so the full
    train→index→probe→re-rank chain sits under one value oracle.

    Plan: corpus cells are assigned MAP-SIDE against the trained
    literal centroids (zero shuffle, no join with the training
    output); each query probes its n_probe nearest centroids (exact
    integer distance, ties to the smaller cell); candidates come from
    a broadcast equi-join on the cell id; the exact-cosine re-rank
    runs on candidates only. At 100 TB `cell` is the persisted
    partition column → probing prunes the scan to n_probe/n_cells of
    the corpus."""
    # NULL vectors are un-indexable and un-probeable; ZERO-NORM
    # vectors additionally have no cosine direction for the re-rank
    embeddings = embeddings.filter(_usable_vec(F.col(vec_col)))
    queries = queries.filter(_usable_vec(F.col(vec_col)))
    _assigned, cents = kmeans_fit(
        embeddings, k=n_cells, iterations=iterations,
        id_col=id_col, vec_col=vec_col, seed=seed,
    )
    corpus = _vec_side(
        embeddings, id_col, vec_col, "neighbor_id", "__c", quantize_vec(F.col(vec_col)).alias("__cq")
    )
    corpus = assign_cells(corpus, cents, qvec_col="__cq").drop("__cq")
    qbase = _vec_side(queries, id_col, vec_col, "query_id", "__q", quantize_vec(F.col(vec_col)).alias("__qq"))
    dists = F.array(*[_sqdist(F.col("__qq"), vec) for _, vec in cents])
    cell_ids = F.array(*[F.lit(int(cid)) for cid, _ in cents])
    ranked = F.array_sort(
        F.zip_with(
            dists,
            cell_ids,
            lambda d, i: F.struct(d.alias("d"), i.alias("i")),
        )
    )
    probes = F.transform(F.slice(ranked, 1, n_probe), lambda s: s["i"].cast("int"))
    q = qbase.select("query_id", "__qv", "__qn", F.explode(probes).alias("cell"))
    cand = corpus.join(F.broadcast(q), "cell").filter(F.col("query_id") != F.col("neighbor_id"))
    return _score_topk(cand, k)


def _usable_with_dim(
    embeddings: DataFrame, queries: DataFrame, vec_col: str, op: str
) -> tuple[DataFrame, DataFrame, int]:
    """Both sides behind the :func:`_usable_vec` entry guard (a NULL
    vector cannot be encoded or queried; a zero-norm one has no cosine
    for the re-rank), plus the vector width from a one-row head of the
    corpus: one Spark job."""
    embeddings = embeddings.filter(_usable_vec(F.col(vec_col)))
    queries = queries.filter(_usable_vec(F.col(vec_col)))
    head = embeddings.select(F.size(vec_col).alias("d")).head()
    if head is None:
        raise ValueError(f"{op}: no non-null embedding vectors in input")
    return embeddings, queries, head["d"]


def _adc_rerank(
    adc: DataFrame, embeddings: DataFrame, queries: DataFrame,
    n_candidates: int, topk: int, id_col: str, vec_col: str,
) -> DataFrame:
    """The ADC family's verifier: the ``n_candidates`` best
    ``(query_id, id_col, adc)`` rows per query by (adc, id), exactly
    re-ranked by cosine to the top ``topk``."""
    cand = topk_per_group(adc, ["query_id"], [F.col("adc"), F.col(id_col)], n_candidates, rank_col="__rn")
    pairs = cand.select("query_id", F.col(id_col).alias("neighbor_id"))
    return _rerank(pairs, embeddings, queries, id_col, vec_col, topk)


def pq_adc_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    *,
    m_subs: int = 2,
    codebook_k: int = 4,
    iterations: int = 2,
    n_candidates: int = 10,
    topk: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 47,
    scale_bits: int = 20,
) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation:

    1. TRAIN — the vector is split into ``m_subs`` equal subspaces and
       an independent ``codebook_k``-centroid codebook is Lloyd-trained
       per subspace (:func:`kmeans_fit` on the sliced vectors, seeds
       decorrelated per subspace). Exact integer space end to end.
    2. ENCODE — each corpus vector becomes ``m_subs`` small codes (its
       nearest centroid per subspace): the PQ compression. At 100 TB
       this is the point — the ADC scan reads 2 codes/vector instead
       of the 256-byte float vector, a ~100x scan-bandwidth cut, and
       the code table is what shuffles (never the vectors).
    3. ADC — per query, a (m, code) -> distance table of
       ``m_subs * codebook_k`` integer entries is BROADCAST; the
       approximate distance of every corpus vector is the SUM of its
       codes' table entries (one map-side join + a (query, vec)
       aggregation of exact BIGINTs — deterministic, no floats).
    4. RE-RANK — the ``n_candidates`` best ADC candidates per query
       (ties to smaller id) are exactly re-ranked by true cosine
       (order-fixed double fold), top ``topk`` returned.

    Output (query_id, neighbor_id, cosine, rank). Every stage is
    deterministic, so the whole train->encode->scan->re-rank chain
    sits under a DuckDB value oracle (s_pq_adc_topk)."""
    embeddings, queries, dim = _usable_with_dim(embeddings, queries, vec_col, "pq_adc_topk")
    return _pq_adc(
        embeddings, queries, dim, m_subs, codebook_k, iterations, n_candidates, topk, id_col, vec_col, seed, scale_bits
    )


def _pq_adc(
    embeddings: DataFrame, queries: DataFrame, dim: int, m_subs: int, codebook_k: int, iterations: int,
    n_candidates: int, topk: int, id_col: str, vec_col: str, seed: int, scale_bits: int,
) -> DataFrame:
    """:func:`pq_adc_topk` on sides already behind the usable-vector
    guard, with their width ``dim`` known."""
    if dim % m_subs != 0:
        raise ValueError(f"pq_adc_topk: dim {dim} not divisible by m_subs {m_subs}")
    sub_w = dim // m_subs

    codes = None
    cent_books: list[list[tuple[int, list[int]]]] = []
    for m in range(m_subs):
        sub = embeddings.select(
            F.col(id_col), F.slice(F.col(vec_col), m * sub_w + 1, sub_w).alias("__sub")
        )
        assigned, cents = kmeans_fit(
            sub,
            k=codebook_k,
            iterations=iterations,
            id_col=id_col,
            vec_col="__sub",
            scale_bits=scale_bits,
            seed=seed + m,
        )
        cm = assigned.select(
            F.col(id_col), F.lit(m).alias("m"), F.col("cell").alias("code")
        )
        codes = cm if codes is None else codes.unionByName(cm)
        cent_books.append(cents)

    q = queries.select(
        F.col(id_col).alias("query_id"),
        *[
            quantize_vec(
                F.slice(F.col(vec_col), m * sub_w + 1, sub_w), scale_bits
            ).alias(f"__q{m}")
            for m in range(m_subs)
        ],
    )
    entries = [
        F.struct(
            F.lit(m).alias("m"),
            F.lit(int(cell)).alias("code"),
            _sqdist(F.col(f"__q{m}"), cv).alias("d"),
        )
        for m in range(m_subs)
        for cell, cv in cent_books[m]
    ]
    dtable = q.select("query_id", F.explode(F.array(*entries)).alias("e")).select(
        "query_id", "e.m", "e.code", F.col("e.d").alias("d")
    )
    adc = (
        codes.join(F.broadcast(dtable), ["m", "code"])
        .filter(F.col(id_col) != F.col("query_id"))
        .groupBy("query_id", id_col)
        .agg(F.sum("d").alias("adc"))
    )
    return _adc_rerank(adc, embeddings, queries, n_candidates, topk, id_col, vec_col)


# ---------------------------------------------------------------------------
# OPQ-lite: variance-balancing dimension permutation before PQ
# ---------------------------------------------------------------------------


def opq_balanced_permutation(
    embeddings: DataFrame,
    *,
    m_subs: int,
    dim: int,
    vec_col: str = "embedding",
    scale_bits: int = 10,
) -> list[int]:
    """Optimized-PQ rotation restricted to PERMUTATION matrices (the
    structured/cheap member of the OPQ family, cf. Ge et al. CVPR'13
    §"eigenvalue allocation"): reorder dimensions so each PQ subspace
    carries a balanced share of the corpus variance, instead of
    letting one subspace hoard the high-energy dims and starve its
    codebook. A permutation keeps every component VALUE unchanged, so
    the whole pipeline stays in the exact integer space the PQ oracle
    discipline requires — a dense learned rotation would put float
    matmuls (and engine-dependent rounding) in front of training.

    Method, fully deterministic:
    1. per-dimension variance proxy in EXACT integers on the
       floor-quantized components: ``var_i = n·Σq² − (Σq)²``
       (n× the true variance numerator — monotone, so rank-identical).
       One map-side aggregate over the corpus, a single-row collect of
       2·dim BIGINTs; the n·Σ product is formed in Python (unbounded
       ints). Spark's ANSI sum throws LOUDLY past 2^63: with
       |v| ≤ 1 that is n ≤ ~2^43 rows at the default scale_bits=10 —
       sample the corpus for the permutation beyond that (the
       permutation is a statistic, not a per-row function).
    2. dims sorted by (variance desc, dim asc), dealt into subspaces
       SERPENTINE (block r//m; forward order on even blocks, reversed
       on odd): every subspace receives one dim per block, so subspace
       variance totals stay within one block-step of each other.

    Returns ``perm`` with ``perm[j] = source dim (0-based) feeding
    target slot j``; target layout is the m_subs contiguous subspace
    slices PQ slices with F.slice."""
    if dim % m_subs != 0:
        raise ValueError(f"opq: dim {dim} not divisible by m_subs {m_subs}")
    # NULL vectors contribute neither to the variance statistic nor
    # to the row count n; zero-norm vectors are excluded too, because
    # the permutation must train on exactly the set PQ encodes
    embeddings = embeddings.filter(_usable_vec(F.col(vec_col)))
    two = float(1 << scale_bits)
    qs = [
        F.floor(F.element_at(F.col(vec_col), i + 1).cast("double") * F.lit(two)).cast("long")
        for i in range(dim)
    ]
    aggs: list[Column] = [F.count(F.lit(1)).alias("n")]
    for i, q in enumerate(qs):
        aggs.append(F.sum(q).alias(f"s{i}"))
        aggs.append(F.sum(q * q).alias(f"ss{i}"))
    row = embeddings.agg(*aggs).head()
    n = row["n"]
    var = [n * row[f"ss{i}"] - row[f"s{i}"] * row[f"s{i}"] for i in range(dim)]
    order = sorted(range(dim), key=lambda i: (-var[i], i))
    sub_w = dim // m_subs
    perm = [0] * dim
    for r, src in enumerate(order):
        block, within = divmod(r, m_subs)
        sub = within if block % 2 == 0 else m_subs - 1 - within
        perm[sub * sub_w + block] = src
    return perm


def opq_permute(df: DataFrame, perm: list[int], vec_col: str = "embedding") -> DataFrame:
    """Apply the dimension permutation map-side: slot j reads source
    component perm[j]. Pure projection — no shuffle, element values
    (and type) unchanged."""
    return df.withColumn(
        vec_col, F.array(*[F.element_at(F.col(vec_col), p + 1) for p in perm])
    )


# ---------------------------------------------------------------------------
# Residual quantization (RQ): stacked codebooks over successive
# residuals (cf. Chen, Guan & Wang, "Approximate nearest neighbor search
# by residual vector quantization", Sensors 2010)
# ---------------------------------------------------------------------------


def _cent_map(cents: list[tuple[int, list[int]]]) -> Column:
    """cell id → centroid vector as a literal MapType column (k·dim
    ints — the same bounded dimension build as assign_cells). Values
    are LONG: int32 literals would make the downstream squared-norm
    products int×int, which overflows ANSI int32 at ~2^31 while the
    true magnitudes (~2^54 at scale_bits=20, dim 64) need int64."""
    return F.map_from_arrays(
        F.array(*[F.lit(int(c)) for c, _ in cents]),
        F.array(
            *[
                F.array(*[F.lit(int(v)).cast("long") for v in vec])
                for _, vec in cents
            ]
        ),
    )


def _idot(a: Column, b: Column) -> Column:
    """Exact BIGINT inner product of two integer array columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, v: acc + v
    )


def rq_adc_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    *,
    levels: int = 2,
    codebook_k: int = 4,
    iterations: int = 2,
    n_candidates: int = 10,
    topk: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 59,
    scale_bits: int = 20,
) -> DataFrame:
    """Residual-quantization ANN with asymmetric distance computation.

    1. TRAIN, level by level — level 0 Lloyd-trains ``codebook_k``
       centroids on the quantized vectors; each vector's LEVEL-0
       RESIDUAL (vector − assigned centroid, exact BIGINT) becomes the
       level-1 training input, and so on for ``levels`` codebooks.
       Unlike PQ's subspace split, every codebook sees the FULL
       dimensionality — RQ refines magnitude, PQ splits width; stacked,
       k^levels composed cells from levels·k trained centroids.
       Training reuses :func:`kmeans_fit` UNCHANGED by feeding it the
       residual de-scaled by 2^scale_bits: integer / power-of-two is
       IEEE-exact and floor(r/2^s · 2^s) = r, so the internal
       re-quantization is an identity and the whole chain stays in the
       exact integer space the value-oracle discipline requires.
    2. ENCODE — each corpus vector becomes ``levels`` small codes plus
       ONE precomputed BIGINT scalar ``cnorm`` = ‖Σ_ℓ c_ℓ[code_ℓ]‖²
       (its composed-centroid squared norm), all map-side against the
       literal books.
    3. ADC — ‖q − Σc‖² = ‖q‖² − 2Σ_ℓ⟨q, c_ℓ[code_ℓ]⟩ + cnorm: the
       cross term SEPARATES per level, so each query broadcasts a
       (level, code) → ⟨q, c⟩ table of just ``levels·codebook_k``
       integer entries — never the k^levels composed table — and the
       scan reads codes + one scalar per vector, not vectors. This is
       the 100 TB point: same ~100× scan-bandwidth cut as PQ, with a
       codebook memory footprint linear in levels.
    4. RE-RANK — top ``n_candidates`` by (adc, id) exactly re-ranked by
       true cosine (order-fixed fold), top ``topk`` returned.

    Output (query_id, neighbor_id, cosine, rank); deterministic end to
    end, so training, encoding, ADC and re-rank all sit under one
    DuckDB value oracle (s_rq_adc_topk)."""
    # NULL vectors are un-encodable; zero-norm vectors have no cosine
    # direction for the re-rank. Level ≥ 1 residuals may legitimately
    # be zero vectors (vector == centroid) and are NOT re-filtered.
    embeddings = embeddings.filter(_usable_vec(F.col(vec_col)))
    queries = queries.filter(_usable_vec(F.col(vec_col)))
    descale = float(1 << scale_bits)

    cur = embeddings.select(
        F.col(id_col), quantize_vec(F.col(vec_col), scale_bits).alias("__qv")
    )
    books: list[list[tuple[int, list[int]]]] = []
    for lvl in range(levels):
        train = cur.select(
            F.col(id_col),
            F.transform("__qv", lambda x: x.cast("double") / F.lit(descale)).alias("__rv"),
        )
        _assigned, cents = kmeans_fit(
            train,
            k=codebook_k,
            iterations=iterations,
            id_col=id_col,
            vec_col="__rv",
            scale_bits=scale_bits,
            seed=seed + lvl,
        )
        books.append(cents)
        cur = assign_cells(cur, cents, out_col=f"code{lvl}")
        cmap = _cent_map(cents)
        cur = cur.withColumn(
            "__qv",
            F.zip_with(
                F.col("__qv"), F.element_at(cmap, F.col(f"code{lvl}")), lambda a, b: a - b
            ),
        )
        # loop state: the next level's trainer and the final encode pass
        cur = barrier(cur, "rq_adc_topk.residuals")

    # composed-centroid squared norm per vector, map-side literals
    composed = None
    for lvl in range(levels):
        cvec = F.element_at(_cent_map(books[lvl]), F.col(f"code{lvl}"))
        composed = cvec if composed is None else F.zip_with(composed, cvec, lambda a, b: a + b)
    enc = cur.select(
        F.col(id_col),
        *[F.col(f"code{lvl}") for lvl in range(levels)],
        _idot(composed, composed).alias("cnorm"),
    )

    # per-query (level, code) → inner-product table + query norm
    qbase = queries.select(
        F.col(id_col).alias("query_id"), quantize_vec(F.col(vec_col), scale_bits).alias("__qq")
    )
    entries = [
        F.struct(
            F.lit(lvl).alias("lvl"),
            F.lit(int(cell)).alias("code"),
            _idot(
                F.col("__qq"), F.array(*[F.lit(int(v)).cast("long") for v in cv])
            ).alias("ip"),
        )
        for lvl in range(levels)
        for cell, cv in books[lvl]
    ]
    dtable = qbase.select(
        "query_id",
        _idot(F.col("__qq"), F.col("__qq")).alias("qnorm"),
        F.explode(F.array(*entries)).alias("e"),
    ).select("query_id", "qnorm", "e.lvl", "e.code", F.col("e.ip").alias("ip"))

    # melt codes to (id, lvl, code) and meet the broadcast table in an
    # equi-join — the scan moves levels small ints + one scalar per
    # vector, never the embedding
    melted = enc.select(
        F.col(id_col),
        "cnorm",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(lvl).alias("lvl"), F.col(f"code{lvl}").alias("code"))
                    for lvl in range(levels)
                ]
            )
        ).alias("lc"),
    ).select(id_col, "cnorm", "lc.lvl", "lc.code")
    adc = (
        melted.join(F.broadcast(dtable), ["lvl", "code"])
        .filter(F.col(id_col) != F.col("query_id"))
        .groupBy("query_id", id_col)
        # cnorm/qnorm are per-(query, vec) constants replicated on each
        # of the `levels` joined rows — first() folds them back
        .agg(
            (F.first("qnorm") - 2 * F.sum("ip") + F.first("cnorm")).alias("adc")
        )
    )
    return _adc_rerank(adc, embeddings, queries, n_candidates, topk, id_col, vec_col)


def opq_pq_adc_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    *,
    m_subs: int = 2,
    codebook_k: int = 4,
    iterations: int = 2,
    n_candidates: int = 10,
    topk: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 47,
    scale_bits: int = 20,
    var_scale_bits: int = 10,
) -> DataFrame:
    """PQ/ADC ANN behind an OPQ-lite permutation: the corpus-trained
    balanced permutation is applied to BOTH sides map-side, then the
    standard :func:`pq_adc_topk` chain runs on the permuted vectors.
    Cosine is permutation-invariant as a real number, so the re-rank
    semantics are unchanged (the double fold just runs in permuted
    component order — deterministic, and replayed in that same order
    by the oracle). Completes the trained-ANN family: coarse (IVF),
    compressed (PQ/ADC), and now the space transform in front of the
    codebooks."""
    # the usable-vector filter and the width probe run once, here;
    # the PQ chain behind the permutation reuses both
    embeddings, queries, dim = _usable_with_dim(embeddings, queries, vec_col, "opq_pq_adc_topk")
    perm = opq_balanced_permutation(
        embeddings, m_subs=m_subs, dim=dim, vec_col=vec_col, scale_bits=var_scale_bits
    )
    return _pq_adc(
        opq_permute(embeddings, perm, vec_col),
        opq_permute(queries, perm, vec_col),
        dim, m_subs, codebook_k, iterations, n_candidates, topk, id_col, vec_col, seed, scale_bits,
    )
