"""Clustering battery: k-means (Lloyd's) over the embeddings table,
value-gated — the DuckDB oracle replays the exact same quantized
integer iterations (init → assign → update, twice → final assign), so
the driver hash-compares a full clustering, not just row counts — and
the trained-index ANN family on top of it (IVF, PQ, OPQ, RQ), whose
oracles end in the same ``COSINE_SQL`` re-rank and ``TOPK_SQL`` rank
as the similarity battery's.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orderly_spark.operators.clustering import (
    DIST_SQL,
    IDOT_SQL,
    QUANTIZE_SQL,
    kmeans_fit,
    kmeans_ivf_topk,
    opq_pq_adc_topk,
    pq_adc_topk,
    rq_adc_topk,
)
from orderly_spark.operators.similarity import COSINE_SQL, TOPK_SQL, USABLE_VEC_SQL
from orderly_spark.registry import query
from orderly_spark.tables import load

_K = 4
_ITERS = 2
_SEED = 31
_DIM = 64


def _assign_cte(src_cents: str, out: str, p: str = "") -> str:
    """One assignment pass: nearest centroid, ties to smallest cell.
    ``p`` prefixes the source-rows CTE name, so the PQ oracle trains
    per-subspace codebooks from the same chain; the prefixed relation
    is re-aliased to ``q`` so the column qualifiers are shared."""
    frm = f"{p}q q" if p else "q"
    return f"""{out} AS (
      SELECT vec_id, qv, cell FROM (
        SELECT q.vec_id, q.qv, c.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {DIST_SQL('q.qv', 'c.cv')}, c.cell) AS rn
        FROM {frm} CROSS JOIN {src_cents} c) t
      WHERE rn = 1)"""


def _update_cte(src_assign: str, out: str, dim: int = _DIM) -> str:
    """One centroid update: exact integer floor-mean per (cell, dim).
    ``(s - pmod(s, c))`` is exactly divisible by ``c``, and the
    division stays INTEGER (`//`) end-to-end, mirroring Spark's
    ``div``, so the two engines agree at any magnitude, not just
    below 2^53 (a DOUBLE `/` + CAST would rely on rounding behaviour
    that differs between engines past 2^53)."""
    return f"""{out} AS (
      SELECT cell, list(m ORDER BY pos) AS cv FROM (
        SELECT cell, pos,
               CAST((s - ((s % c) + c) % c) // c AS BIGINT) AS m
        FROM (
          SELECT cell, i - 1 AS pos, CAST(SUM(qv[i]) AS BIGINT) AS s, COUNT(*) AS c
          FROM {src_assign}, (SELECT unnest(range(1, {dim} + 1)) AS i) dims
          GROUP BY cell, i) sums) comps
      GROUP BY cell)"""


def _training_ctes(
    slice_sql: str = "embedding",
    seed: int = _SEED,
    k: int = _K,
    iters: int = _ITERS,
    dim: int = _DIM,
    p: str = "",
    src: str = "embeddings",
    where: str = "embedding IS NOT NULL",
) -> tuple[list[str], str]:
    """The k-means training WITH-chain (quantize -> seeded init ->
    assign/update x iterations -> final assignment) shared by every
    trained-index oracle, one definition so the gates cannot drift.
    ``slice_sql`` carves a subvector and ``p`` prefixes every CTE
    name, so the PQ oracle reuses the chain per subspace; ``src``
    points the chain at a derived corpus CTE (the OPQ oracle trains on
    the permuted vectors, the RQ oracle on residuals)."""
    ctes = [
        # default `where` mirrors kmeans_fit's null-vector filter
        # (un-encodable rows receive no assignment on either side); the
        # ANN callers pass _USABLE, the zero-norm guard, to match their
        # ops' _usable_vec entry filters
        f"""{p}q AS (SELECT vec_id, {QUANTIZE_SQL(slice_sql)} AS qv FROM {src}
      WHERE {where})""",
        f"""{p}c0 AS (
      SELECT CAST(ROW_NUMBER() OVER (
               ORDER BY md5('{seed}:' || CAST(vec_id AS VARCHAR)), vec_id) AS INT) - 1 AS cell,
             qv AS cv
      FROM {p}q
      QUALIFY ROW_NUMBER() OVER (
        ORDER BY md5('{seed}:' || CAST(vec_id AS VARCHAR)), vec_id) <= {k})""",
    ]
    cents = f"{p}c0"
    for it in range(1, iters + 1):
        ctes.append(_assign_cte(cents, f"{p}a{it}", p))
        ctes.append(_update_cte(f"{p}a{it}", f"{p}c{it}", dim))
        cents = f"{p}c{it}"
    ctes.append(_assign_cte(cents, f"{p}afinal", p))
    return ctes, cents


def _kmeans_oracle() -> str:
    ctes, _ = _training_ctes()
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        "SELECT vec_id, CAST(cell AS INT) AS cell FROM afinal"
    )


@query(
    "s_kmeans_cells",
    oracle=_kmeans_oracle(),
    category="clustering",
    survey="kmeans[abs]",
)
def s_kmeans_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means, k=4, 2 iterations, exact integer space: the
    IVF trainer. Assignment is map-side (literal centroids, zero
    shuffle); each update shuffles only k·dim partial sums. The oracle
    replays every iteration — a hash-compared distributed clustering."""
    e = load(spark, sf_dir, "embeddings", fan_out=True)
    assigned, _cents = kmeans_fit(
        e, k=_K, iterations=_ITERS, id_col="vec_id", vec_col="embedding", seed=_SEED
    )
    return assigned.select("vec_id", F.col("cell").cast("int").alias("cell"))


#: the null + zero-norm entry predicate, oracle spelling of the
#: operators' _usable_vec guard
_USABLE = USABLE_VEC_SQL.format(c="embedding")

_NPROBE = 2
_TOPK = 3


def _ivf_kmeans_oracle() -> str:
    ctes, cents = _training_ctes(where=_USABLE)
    ctes.extend([
        f"""probes AS (
      SELECT query_id, quv, cell FROM (
        SELECT e.vec_id AS query_id, e.embedding AS quv, c.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {DIST_SQL('e.qq', 'c.cv')}, c.cell) AS rn
        FROM (SELECT vec_id, embedding, {QUANTIZE_SQL('embedding')} AS qq
              FROM embeddings WHERE vec_id < 5 AND {_USABLE}) e
        CROSS JOIN {cents} c) t
      WHERE rn <= {_NPROBE})""",
        f"""scored AS (
      SELECT p.query_id, a.vec_id AS neighbor_id, {COSINE_SQL('p.quv', 'e2.embedding')} AS cosine
      FROM probes p
      JOIN afinal a USING (cell)
      JOIN embeddings e2 ON a.vec_id = e2.vec_id
      WHERE p.query_id <> a.vec_id)""",
    ])
    return "WITH " + ",\n".join(ctes) + "\n" + TOPK_SQL("scored", _TOPK)


@query(
    "s_ivf_kmeans_topk",
    oracle=_ivf_kmeans_oracle(),
    category="clustering",
    survey="kmeans[abs],ann-ivf[abs],ann-ivf-trained[abs]",
)
def s_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end TRAINED ANN: k-means (k=4, 2 exact integer
    iterations) trains the coarse quantizer, the corpus is indexed
    map-side against the trained centroids, 5 query vectors each probe
    their 2 nearest cells, and candidates are exactly re-ranked to a
    cosine top-3. The whole train→index→probe→re-rank chain is
    deterministic and hash-compared by the oracle — not just the
    search, the trained index too."""
    e = load(spark, sf_dir, "embeddings", fan_out=True)
    q = e.filter(F.col("vec_id") < 5)
    out = kmeans_ivf_topk(
        e, q, k=_TOPK, n_cells=_K, iterations=_ITERS, n_probe=_NPROBE, seed=_SEED
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


# ---------------------------------------------------------------------------
# Product quantization + asymmetric distance computation
# ---------------------------------------------------------------------------

_PQ_M = 2
_PQ_SUB = _DIM // _PQ_M
_PQ_SEED = 47
_PQ_CAND = 10


def _shortlist_cte(out: str, adc: str, n: int) -> str:
    """The ADC shortlist: the ``n`` best ``(query_id, vec_id)`` rows of
    ``adc`` per query by (adc, vec_id), as ``(query_id,
    neighbor_id)``; the twin of clustering._adc_rerank's first step."""
    return f"""{out} AS (
      SELECT query_id, vec_id AS neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY adc, vec_id) AS rn
        FROM {adc}) t
      WHERE rn <= {n})"""


def _pq_oracle(src: str = "embeddings", seed: int = _PQ_SEED, lead_ctes: tuple[str, ...] = ()) -> str:
    """Replays the ENTIRE PQ chain in DuckDB: per-subspace k-means
    training (the shared _training_ctes chain, prefixed per subspace),
    corpus encoding (the final assignment IS the code), the per-query
    (m, code) -> integer distance table, the ADC sum, candidate top-N
    by (adc, id), and the exact-cosine re-rank.

    ``src``/``lead_ctes``: the OPQ gate prepends its permutation
    CTEs and points the whole chain (training, queries, AND the
    re-rank vectors: the cosine fold must run in permuted component
    order, exactly like the Spark side) at the permuted corpus."""
    ctes: list[str] = list(lead_ctes)
    cents: list[str] = []
    for m in range(_PQ_M):
        sl = f"list_slice(embedding, {m * _PQ_SUB + 1}, {(m + 1) * _PQ_SUB})"
        ctes_m, cents_m = _training_ctes(
            slice_sql=sl, seed=seed + m, dim=_PQ_SUB, p=f"s{m}_", src=src,
            where=_USABLE,
        )
        ctes.extend(ctes_m)
        cents.append(cents_m)
    codes = "\n      UNION ALL\n      ".join(
        f"SELECT vec_id, {m} AS m, cell AS code FROM s{m}_afinal" for m in range(_PQ_M)
    )
    cent_union = "\n      UNION ALL\n      ".join(
        f"SELECT {m} AS m, cell, cv FROM {cents[m]}" for m in range(_PQ_M)
    )
    qsubs = ",\n             ".join(
        QUANTIZE_SQL(f"list_slice(embedding, {m * _PQ_SUB + 1}, {(m + 1) * _PQ_SUB})")
        + f" AS q{m}"
        for m in range(_PQ_M)
    )
    dcase = " ".join(
        f"WHEN c.m = {m} THEN {DIST_SQL(f'y.q{m}', 'c.cv')}" for m in range(_PQ_M)
    )
    ctes.extend(
        [
            f"""pq_codes AS (
      {codes})""",
            f"""pq_cents AS (
      {cent_union})""",
            f"""pq_q AS (
      SELECT vec_id AS query_id, embedding AS qemb,
             {qsubs}
      FROM {src} WHERE vec_id < 5 AND {_USABLE})""",
            f"""pq_dtable AS (
      SELECT y.query_id, c.m, c.cell AS code,
             CASE {dcase} END AS d
      FROM pq_q y CROSS JOIN pq_cents c)""",
            """pq_adc AS (
      SELECT dt.query_id, k.vec_id, CAST(SUM(dt.d) AS BIGINT) AS adc
      FROM pq_codes k JOIN pq_dtable dt ON k.m = dt.m AND k.code = dt.code
      WHERE k.vec_id <> dt.query_id
      GROUP BY dt.query_id, k.vec_id)""",
            _shortlist_cte("pq_cand", "pq_adc", _PQ_CAND),
            f"""pq_scored AS (
      SELECT p.query_id, p.neighbor_id, {COSINE_SQL('y.qemb', 'e2.embedding')} AS cosine
      FROM pq_cand p
      JOIN pq_q y USING (query_id)
      JOIN {src} e2 ON p.neighbor_id = e2.vec_id)""",
        ]
    )
    return "WITH " + ",\n".join(ctes) + "\n" + TOPK_SQL("pq_scored", _TOPK)


@query(
    "s_pq_adc_topk",
    oracle=_pq_oracle(),
    category="clustering",
    survey="ann-pq[abs],kmeans[abs]",
)
def s_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized ANN, end to end: 2 per-subspace codebooks
    (k=4, 2 exact integer Lloyd iterations each) trained on the 32-dim
    halves, corpus encoded to 2 small codes/vector, 5 queries scanned
    by broadcast asymmetric-distance tables (integer sums — the scan
    reads codes, never vectors), top-10 ADC candidates exactly
    re-ranked to a cosine top-3. The oracle replays training, encoding,
    ADC and re-rank — the trained compressed index is hash-compared,
    not just the search results. This is the quantized-scan scale
    path: at 100 TB the ADC stage moves ~100x fewer bytes than a
    brute-force vector scan (2 int codes vs a 256-byte embedding)."""
    e = load(spark, sf_dir, "embeddings", fan_out=True)
    q = e.filter(F.col("vec_id") < 5)
    out = pq_adc_topk(
        e,
        q,
        m_subs=_PQ_M,
        codebook_k=_K,
        iterations=_ITERS,
        n_candidates=_PQ_CAND,
        topk=_TOPK,
        seed=_PQ_SEED,
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


# ---------------------------------------------------------------------------
# OPQ-lite: variance-balanced dimension permutation in front of PQ
# ---------------------------------------------------------------------------

_OPQ_SEED = 53
_OPQ_VARBITS = 10


def _opq_oracle() -> str:
    """Prepends the permutation replay to the shared PQ chain:
    per-dim exact integer variance proxy n*sum(q^2) - sum(q)^2 on the
    floor-quantized components, (variance desc, dim asc) ranking,
    serpentine subspace dealing, and the permuted-corpus rebuild via
    unnest + list(.. ORDER BY tgt). Everything downstream (training,
    encoding, ADC, re-rank — in permuted fold order) is _pq_oracle
    verbatim pointed at the permuted CTE."""
    two = float(1 << _OPQ_VARBITS)
    m, sub_w = _PQ_M, _PQ_SUB
    lead = (
        f"""opq_var AS (
      SELECT i AS src,
             CAST(COUNT(*) AS BIGINT) * CAST(SUM(qi * qi) AS BIGINT)
               - CAST(SUM(qi) AS BIGINT) * CAST(SUM(qi) AS BIGINT) AS varn
      FROM (SELECT i, CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * {two!r}) AS BIGINT) AS qi
            FROM embeddings, (SELECT unnest(range(1, {_DIM} + 1)) AS i) dims
            WHERE {_USABLE})
      GROUP BY i)""",
        f"""opq_perm AS (
      SELECT src,
             (CASE WHEN ((r // {m}) % 2) = 0 THEN r % {m}
                   ELSE {m} - 1 - (r % {m}) END) * {sub_w} + (r // {m}) + 1 AS tgt
      FROM (SELECT src, ROW_NUMBER() OVER (ORDER BY varn DESC, src) - 1 AS r
            FROM opq_var))""",
        f"""opq_emb AS (
      SELECT e.vec_id, list(e.embedding[p.src] ORDER BY p.tgt) AS embedding
      FROM embeddings e CROSS JOIN opq_perm p
      WHERE {USABLE_VEC_SQL.format(c="e.embedding")}
      GROUP BY e.vec_id)""",
    )
    return _pq_oracle(src="opq_emb", seed=_OPQ_SEED, lead_ctes=lead)


# ---------------------------------------------------------------------------
# Residual quantization: stacked full-width codebooks over successive
# residuals
# ---------------------------------------------------------------------------

_RQ_LEVELS = 2
_RQ_SEED = 59
_RQ_CAND = 10
_RQ_DESCALE = float(1 << 20)


def _rq_oracle() -> str:
    """Replays the ENTIRE RQ chain in DuckDB: level-0 k-means on the
    quantized vectors (the shared _training_ctes chain), exact BIGINT
    residuals de-scaled by 2^20 into a derived corpus CTE (integer /
    power-of-two is IEEE-exact, so the chain's re-quantization is an
    identity — the same trick the Spark side uses to reuse kmeans_fit
    unchanged), level-1 k-means on those residuals, per-vector code
    pairs + composed-centroid squared norm, the separated ADC
    ‖q‖² − 2Σ⟨q,c_ℓ⟩ + cnorm from per-level integer inner-product
    tables, candidate top-N by (adc, id), and the exact-cosine
    re-rank."""
    ctes: list[str] = []
    cents: list[str] = []
    # level 0: train on embeddings
    ctes0, cents0 = _training_ctes(p="rq0_", seed=_RQ_SEED, where=_USABLE)
    ctes.extend(ctes0)
    cents.append(cents0)
    # residual corpus: qv − assigned centroid, de-scaled to DOUBLE
    ctes.append(
        f"""rq1corpus AS (
      SELECT a.vec_id,
             list_transform(range(1, {_DIM} + 1),
               i -> CAST(a.qv[i] - c.cv[i] AS DOUBLE) / {_RQ_DESCALE!r}) AS embedding
      FROM rq0_afinal a JOIN {cents0} c ON a.cell = c.cell)"""
    )
    # level 1: train on the residuals (residuals are never NULL; zero
    # residual vectors are VALID training points, so no usable filter)
    ctes1, cents1 = _training_ctes(
        p="rq1_", seed=_RQ_SEED + 1, src="rq1corpus", where="embedding IS NOT NULL"
    )
    ctes.extend(ctes1)
    cents.append(cents1)
    ctes.extend(
        [
            f"""rq_enc AS (
      SELECT a0.vec_id, a0.cell AS code0, a1.cell AS code1,
             list_reduce(list_transform(range(1, {_DIM} + 1),
               i -> (c0.cv[i] + c1.cv[i]) * (c0.cv[i] + c1.cv[i])), (x, y) -> x + y) AS cnorm
      FROM rq0_afinal a0
      JOIN rq1_afinal a1 USING (vec_id)
      JOIN {cents0} c0 ON a0.cell = c0.cell
      JOIN {cents1} c1 ON a1.cell = c1.cell)""",
            f"""rq_q AS (
      SELECT vec_id AS query_id, embedding AS qemb,
             {QUANTIZE_SQL('embedding')} AS qq
      FROM embeddings WHERE vec_id < 5 AND {_USABLE})""",
            f"""rq_books AS (
      SELECT 0 AS lvl, cell, cv FROM {cents0}
      UNION ALL
      SELECT 1 AS lvl, cell, cv FROM {cents1})""",
            f"""rq_dtable AS (
      SELECT y.query_id, b.lvl, b.cell AS code,
             {IDOT_SQL('y.qq', 'b.cv')} AS ip
      FROM rq_q y CROSS JOIN rq_books b)""",
            f"""rq_adc AS (
      SELECT y.query_id, e.vec_id,
             {IDOT_SQL('y.qq', 'y.qq')}
               - 2 * (d0.ip + d1.ip) + e.cnorm AS adc
      FROM rq_enc e
      CROSS JOIN rq_q y
      JOIN rq_dtable d0 ON d0.query_id = y.query_id AND d0.lvl = 0 AND d0.code = e.code0
      JOIN rq_dtable d1 ON d1.query_id = y.query_id AND d1.lvl = 1 AND d1.code = e.code1
      WHERE e.vec_id <> y.query_id)""",
            _shortlist_cte("rq_cand", "rq_adc", _RQ_CAND),
            f"""rq_scored AS (
      SELECT p.query_id, p.neighbor_id, {COSINE_SQL('y.qemb', 'e2.embedding')} AS cosine
      FROM rq_cand p
      JOIN rq_q y USING (query_id)
      JOIN embeddings e2 ON p.neighbor_id = e2.vec_id)""",
        ]
    )
    return "WITH " + ",\n".join(ctes) + "\n" + TOPK_SQL("rq_scored", _TOPK)


@query(
    "s_rq_adc_topk",
    oracle=_rq_oracle(),
    category="clustering",
    survey="ann-rq[abs],kmeans[abs]",
)
def s_rq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual-quantized ANN, end to end: a level-0 codebook (k=4, 2 exact integer Lloyd
    iterations) is trained on the full 64-dim vectors, a level-1
    codebook on the exact BIGINT residuals, the corpus is encoded to 2
    stacked codes + one precomputed composed-norm scalar per vector,
    5 queries scan via the SEPARATED ADC identity
    ‖q‖² − 2Σ⟨q,c_ℓ⟩ + ‖Σc‖² (per-level broadcast tables of
    levels·k integer entries — never a k^levels composed table), and
    the top-10 candidates are exactly re-ranked to a cosine top-3. The
    oracle replays both trainings, the residual arithmetic, encoding,
    ADC and re-rank — the stacked trained index is hash-compared, not
    just the search results."""
    e = load(spark, sf_dir, "embeddings", fan_out=True)
    q = e.filter(F.col("vec_id") < 5)
    out = rq_adc_topk(
        e,
        q,
        levels=_RQ_LEVELS,
        codebook_k=_K,
        iterations=_ITERS,
        n_candidates=_RQ_CAND,
        topk=_TOPK,
        seed=_RQ_SEED,
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


@query(
    "s_opq_pq_adc_topk",
    oracle=_opq_oracle(),
    category="clustering",
    survey="ann-pq[abs],kmeans[abs]",
)
def s_opq_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC ANN behind an OPQ-lite space transform: a
    variance-balancing dimension PERMUTATION (the structured,
    integer-exact member of the OPQ family) is trained from corpus
    statistics in one map-side aggregate, applied map-side to corpus
    and queries, and the full PQ train->encode->ADC->re-rank chain
    runs in the permuted space.
    The oracle replays permutation training too — the learned space
    transform itself is hash-compared, same discipline as the k-means
    and PQ gates."""
    e = load(spark, sf_dir, "embeddings", fan_out=True)
    q = e.filter(F.col("vec_id") < 5)
    out = opq_pq_adc_topk(
        e,
        q,
        m_subs=_PQ_M,
        codebook_k=_K,
        iterations=_ITERS,
        n_candidates=_PQ_CAND,
        topk=_TOPK,
        seed=_OPQ_SEED,
        var_scale_bits=_OPQ_VARBITS,
    )
    return out.withColumn("rank", F.col("rank").cast("long"))
