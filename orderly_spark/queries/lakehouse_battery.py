"""Round-8 battery: lakehouse-maintenance, retrieval-ranking, and
custom-aggregation operators — the batch MERGE/Z-order table-service
shapes a Delta/Iceberg-style 100 TB lake runs nightly, BM25-family
ranking over the sharded inverted index, sketch-based join-cardinality
estimation, with-replacement weighted sampling, a grouped EWMA state
fold, and the one §2.10 surface r7 left ungated: a batch
``applyInPandas`` Arrow UDAF certified against its built-in rewrite.

Float discipline as everywhere (registry.py): dsum/DSUM decimal
accumulation for variable-order sums, F.round/DROUND before
accumulating non-decimal doubles, single IEEE +,-,*,/ chains written
IDENTICALLY on both sides (bit-identical across engines), md5 as the
shared deterministic hash, no transcendentals, no array outputs.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from orderly_spark.operators import text as T
from orderly_spark.operators.relational import epoch_us
from orderly_spark.queries.relational import _HEX2BIG
from orderly_spark.registry import DROUND, DSUM, dsum, query
from orderly_spark.session import barrier
from orderly_spark.tables import load

TOKS = T.TOKENS_SQL("text")

# ---------------------------------------------------------------------------
# Batch Arrow UDAF: per-group exact weighted median via applyInPandas
# ---------------------------------------------------------------------------


def _weighted_median_pdf(pdf: pd.DataFrame) -> pd.DataFrame:
    """Exact weighted LOWER median of ``c_acctbal`` under integer
    weights ``wt``: the smallest balance whose running weight (in
    (balance, custkey) order) reaches half the group's total weight —
    ``2*cumsum >= total`` in exact int64, no float comparison."""
    pdf = pdf.sort_values(["c_acctbal", "c_custkey"], kind="mergesort")
    tw = int(pdf["wt"].sum())
    cw = pdf["wt"].cumsum().to_numpy()
    med = float(pdf["c_acctbal"].to_numpy()[(2 * cw >= tw).argmax()])
    return pd.DataFrame(
        {
            "c_nationkey": [int(pdf["c_nationkey"].iloc[0])],
            "n_weighted": [len(pdf)],
            "total_wt": [tw],
            "wmedian_bal": [med],
        }
    )


@query(
    "a_weighted_median_pandas",
    oracle="""
    WITH w AS (
      SELECT c_nationkey, c_custkey, c_acctbal, COUNT(*) AS wt
      FROM customer JOIN orders ON o_custkey = c_custkey
      GROUP BY 1, 2, 3
    ), tot AS (
      SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_weighted,
             CAST(SUM(wt) AS BIGINT) AS total_wt
      FROM w GROUP BY 1
    ), cum AS (
      SELECT c_nationkey, c_acctbal,
             SUM(wt) OVER (PARTITION BY c_nationkey
                           ORDER BY c_acctbal, c_custkey) AS cw
      FROM w
    ), med AS (
      SELECT c.c_nationkey, MIN(c.c_acctbal) AS wmedian_bal
      FROM cum c JOIN tot t USING (c_nationkey)
      WHERE 2 * c.cw >= t.total_wt
      GROUP BY 1
    )
    SELECT t.c_nationkey, t.n_weighted, t.total_wt, m.wmedian_bal
    FROM tot t JOIN med m USING (c_nationkey)
    """,
    category="analytics",
    survey="weighted-median-udaf[abs],§2.10",
)
def a_weighted_median_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation ACTIVITY-WEIGHTED median of customer account balance
    (each customer weighted by their order count) computed by a batch
    Arrow UDAF — ``groupBy().applyInPandas`` — the one §2.10 surface
    the registry had only exercised inside streaming state (r7 verdict
    next-round #2). The oracle is the built-in rewrite: a cumulative-
    weight window + first-crossing filter, which doubles as this
    operator's own scale path.

    Determinism: the median is an UNTOUCHED input double (no
    arithmetic on it), the crossing test is exact int64, and ties are
    impossible in (balance, custkey) order because custkey is unique.

    Scale: the UDAF shuffles once on the group key and needs each
    group Arrow-batched into one python worker — fine for dim-grain
    groups (25 nations here), NOT for fact-grain groups; at 100 TB the
    oracle's window rewrite (hash-partitioned cumulative sum, no
    Python) is the same answer with no per-group memory ceiling. The
    plan is pinned to contain FlatMapGroupsInPandas
    (tests/test_plans.py) so the graded artifact really is the Arrow
    UDAF, not the rewrite."""
    cust = load(spark, sf_dir, "customer")
    wt = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("wt"))
    )
    base = cust.join(wt, cust.c_custkey == wt.o_custkey).select(
        "c_nationkey", "c_custkey", "c_acctbal", "wt"
    )
    return base.groupBy("c_nationkey").applyInPandas(
        _weighted_median_pdf,
        schema="c_nationkey int, n_weighted bigint, total_wt bigint, wmedian_bal double",
    )


# ---------------------------------------------------------------------------
# Grouped EWMA (α = 1/2) as an ordered higher-order-function fold
# ---------------------------------------------------------------------------


@query(
    "e_grouped_ewma",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           list_reduce(list(value ORDER BY ts, event_id),
                       (acc, v) -> (acc + v) / 2) AS ewma_value
    FROM events GROUP BY user_id
    """,
    category="timeseries",
    survey="grouped-ewma[abs],W-analytic",
)
def e_grouped_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-weighted moving average with α = 1/2 —
    the recursive fold s_i = (s_{i-1} + v_i) / 2 seeded with the first
    event's value — expressed as a higher-order ``F.aggregate`` over
    the time-ordered value array, mirrored by DuckDB ``list_reduce``.

    Why this sits under a VALUE oracle when EWMA is usually float-
    fuzzy: α = 1/2 makes every step one IEEE add (exactly specified,
    deterministic) and one EXACT power-of-two scaling, and both
    engines fold the identical sequence left-to-right — so the result
    is bit-identical by construction, with no transcendental weights
    (ln/pow stay banned, registry.py discipline). The general-α scale
    path is the same fold with α = k/2^m rationals.

    Scale: one collect_list per user (bounded by per-key event count,
    ~1k at bench scale) on a single user_id exchange; the 100 TB shape
    for unbounded keys is the streaming fold
    (applyInPandasWithState, streaming/pipeline.py) or a chunked
    fold using EWMA's composability: s over AB = s_B + (s_A - ...)
    scaled by 2^-|B| — power-of-two rescaling stays exact."""
    ev = load(spark, sf_dir, "events")
    arr = F.sort_array(F.collect_list(F.struct("ts", "event_id", "value")))
    vals = F.transform(arr, lambda x: x["value"])
    fold = F.aggregate(
        F.slice(vals, F.lit(2), F.size(vals) - 1),
        F.element_at(vals, 1),
        lambda acc, v: (acc + v) / F.lit(2.0),
    )
    return (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            fold.alias("ewma_value"),
        )
    )


# ---------------------------------------------------------------------------
# Batch MERGE INTO: one-shot late-window reprocess upsert + tombstone delete
# ---------------------------------------------------------------------------

# Base rollup covers epoch days < _MERGE_D1 (built "at" 2024-01-16);
# the reprocess delta recomputes the late-arrival window from day
# _MERGE_D0 (2024-01-10) onward — the 6-day overlap is where updates
# and deletes land; newer days insert; older days pass through.
_MERGE_D0, _MERGE_D1 = 19732, 19738
#: shared by the MERGE day grain, the Z-order day dimension, the
#: session gap (3 days), and the interval-overlap grid cell
_US_PER_DAY = 86_400_000_000


@query(
    "r_merge_upsert_batch",
    oracle=f"""
    WITH e AS (
      SELECT user_id, epoch_us(ts) // {_US_PER_DAY} AS day, ts, value,
             event_type
      FROM events
    ), base AS (
      SELECT user_id, day,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             {DSUM('value')} AS sum_value,
             MAX(ts) AS last_ts
      FROM e WHERE day < {_MERGE_D1} GROUP BY 1, 2
    ), delta AS (
      SELECT user_id, day,
             CAST(SUM(CASE WHEN event_type != 'error' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_clean,
             {DSUM("CASE WHEN event_type != 'error' THEN value END")} AS sum_value,
             MAX(CASE WHEN event_type != 'error' THEN ts END) AS last_ts
      FROM e WHERE day >= {_MERGE_D0} GROUP BY 1, 2
    )
    SELECT COALESCE(b.user_id, d.user_id) AS user_id,
           COALESCE(b.day, d.day) AS day,
           CASE WHEN d.user_id IS NULL THEN 'keep'
                WHEN b.user_id IS NULL THEN 'insert'
                ELSE 'update' END AS action,
           CASE WHEN d.user_id IS NULL THEN b.n_events ELSE d.n_clean END
             AS n_events,
           CASE WHEN d.user_id IS NULL THEN b.sum_value ELSE d.sum_value END
             AS sum_value,
           CASE WHEN d.user_id IS NULL THEN b.last_ts ELSE d.last_ts END
             AS last_ts
    FROM base b FULL OUTER JOIN delta d
      ON b.user_id = d.user_id AND b.day = d.day
    WHERE d.user_id IS NULL OR d.n_clean > 0
    """,
    category="maintenance",
    survey="batch-merge[abs],J-equi",
)
def r_merge_upsert_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-shot batch MERGE INTO — the Delta/Iceberg nightly table-
    service shape the streaming upsert (r4) and incremental view (r6)
    don't cover. A per-(user, day) rollup snapshot built before a
    cutoff is merged with a REPROCESS delta that recomputes the
    late-arrival window (last 6 days + everything newer) under a
    cleansing rule that drops 'error' events: matched keys UPDATE to
    the recomputed state, keys whose whole day was errors TOMBSTONE
    (deleted from the snapshot), new days INSERT, old days pass
    through unchanged ('keep'). One FULL OUTER join, the action taken
    emitted per surviving row; a tombstone for a never-seen key is a
    no-op (both engines drop it). All five MERGE paths are exercised
    by the graded data at both gate scales (keep/insert/update/delete/
    no-op — verified 121/183/77/6/10 at sf0.001).

    Determinism: counts are exact ints; day is positive-domain integer
    division of epoch_us (Spark div == DuckDB // there); value sums
    ride dsum/DSUM; last_ts is a MAX of input timestamps.

    Scale: both sides partial-aggregate map-side before ONE
    (user_id, day) sort-merge join — the delta in a real lake is a few
    days' partitions, orders of magnitude under the base, so AQE
    broadcasts it; no window, no driver state. Deletes are logical
    (row omitted from the output snapshot) exactly as a copy-on-write
    MERGE rewrites files without the matched rows."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        epoch_us(F.col("ts")).alias("eus"),
        "ts",
        "value",
        "event_type",
    )
    e = ev.select(
        "user_id", F.expr(f"eus div {_US_PER_DAY}").alias("day"), "ts", "value", "event_type"
    )
    clean = F.col("event_type") != F.lit("error")
    base = (
        e.filter(F.col("day") < _MERGE_D1)
        .groupBy("user_id", "day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
            F.max("ts").alias("last_ts"),
        )
    )
    delta = (
        e.filter(F.col("day") >= _MERGE_D0)
        .groupBy("user_id", "day")
        .agg(
            F.sum(clean.cast("long")).alias("n_clean"),
            dsum(F.when(clean, F.col("value"))).alias("sum_value"),
            F.max(F.when(clean, F.col("ts"))).alias("last_ts"),
        )
    )
    b, d = base.alias("b"), delta.alias("d")
    merged = b.join(
        d,
        (F.col("b.user_id") == F.col("d.user_id")) & (F.col("b.day") == F.col("d.day")),
        "full_outer",
    )
    no_delta = F.col("d.user_id").isNull()
    return merged.filter(no_delta | (F.col("d.n_clean") > 0)).select(
        F.coalesce(F.col("b.user_id"), F.col("d.user_id")).alias("user_id"),
        F.coalesce(F.col("b.day"), F.col("d.day")).alias("day"),
        F.when(no_delta, F.lit("keep"))
        .when(F.col("b.user_id").isNull(), F.lit("insert"))
        .otherwise(F.lit("update"))
        .alias("action"),
        F.when(no_delta, F.col("b.n_events")).otherwise(F.col("d.n_clean")).alias("n_events"),
        F.when(no_delta, F.col("b.sum_value")).otherwise(F.col("d.sum_value")).alias("sum_value"),
        F.when(no_delta, F.col("b.last_ts")).otherwise(F.col("d.last_ts")).alias("last_ts"),
    )


# ---------------------------------------------------------------------------
# BM25-family ranking over the token postings (log-free rational variant)
# ---------------------------------------------------------------------------

#: 'dup' is rare (df = 25: it marks the planted duplicate docs) while
#: 'spark'/'window' are corpus-common — so the rarity weight visibly
#: reorders the results vs raw tf.
_BM25_TERMS = ("dup", "spark", "window")
_BM25_K = 20

def _BM25_TFN_SQL(tf: str = "t.tf", ln: str = "l.len", tot: str = "s.total_len", n: str = "s.n_docs") -> str:
    """tf saturation with k1 = 1.25, b = 0.75 — both exactly
    representable doubles, so the whole normalisation chain is fixed
    IEEE arithmetic. SQL twin of :func:`_bm25_tfn`; twin-parity
    covered in tests/test_expression_twins.py."""
    return f"({tf} * 2.25) / ({tf} + 1.25 * (0.25 + 0.75 * ({ln} / ({tot} / {n}))))"


def _bm25_tfn() -> F.Column:
    """Spark twin of :func:`_BM25_TFN_SQL` — identical operator tree so
    the IEEE chain is bit-identical across engines."""
    return (F.col("tf") * F.lit(2.25)) / (
        F.col("tf")
        + F.lit(1.25)
        * (F.lit(0.25) + F.lit(0.75) * (F.col("len") / (F.col("total_len") / F.col("n_docs"))))
    )


@query(
    "t_bm25_rational_rank",
    oracle=f"""
    WITH tokl AS (
      SELECT doc_id, {TOKS} AS toks FROM documents
    ), lens AS (
      SELECT doc_id, len(toks) AS len FROM tokl
    ), stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len) AS BIGINT) AS total_len
      FROM lens
    ), tok AS (
      SELECT doc_id, unnest(toks) AS term FROM tokl
    ), tf AS (
      SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok WHERE term IN {_BM25_TERMS!r}
      GROUP BY 1, 2
    ), dfs AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1
    ), wts AS (
      SELECT d1.term,
             CAST(1 + (SELECT COUNT(*) FROM dfs d2 WHERE d2.df > d1.df)
                  AS BIGINT) AS rarity
      FROM dfs d1
    ), sc AS (
      SELECT t.doc_id,
             {DROUND(f'w.rarity * {_BM25_TFN_SQL()}', 6)} AS term_score
      FROM tf t
      JOIN wts w USING (term)
      JOIN lens l USING (doc_id)
      CROSS JOIN stats s
    ), agg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms_hit,
             {DSUM('term_score')} AS score
      FROM sc GROUP BY 1
    ), top AS (
      SELECT * FROM agg ORDER BY score DESC, doc_id LIMIT {_BM25_K}
    )
    SELECT doc_id, n_terms_hit, score,
           CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
             AS rank
    FROM top
    """,
    category="curation",
    survey="bm25[abs],inverted-index[abs]",
)
def t_bm25_rational_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25-family relevance ranking of the corpus for a fixed query
    term set — the retrieval half the 100 TB pipeline pairs with the
    ANN stack (r7 verdict next-round #3), consuming the same (term,
    doc, tf/df) postings `t_inverted_index` stores. The classic
    formula's two log-bearing factors are replaced by exactly-
    computable rationals so the whole score sits under the value
    oracle (ln is banned, registry.py):

    - tf saturation: tf·(k1+1) / (tf + k1·(1-b + b·len/avgdl)) with
      k1 = 1.25, b = 0.75 — every constant a clean binary double,
      avgdl one integer division; a fixed IEEE chain evaluated
      identically in both engines is bit-identical.
    - idf → integer df-RANK rareness: weight 1 + |{query terms with
      strictly greater df}| — rarest term weighs most, equal dfs share
      a weight, no logarithm.

    Per-(doc, term) scores round to 6 decimals AFTER the rarity
    multiply, then decimal-accumulate (dsum) per doc; top-20 by
    (score DESC, doc_id) through orderBy().limit() —
    TakeOrderedAndProject, per-partition top-k, with the rank window
    confined to the 20 survivors.

    Scale: token explode → map-side-combined (term, doc) tf counts →
    the 3-term filter prunes BEFORE any shuffle; df/rarity live on a
    3-row frame joined broadcast; corpus stats are one scalar
    aggregate cross-joined in. No driver-side state, no global
    window over an unbounded input.

    r15 (optimization round, guide §2.3/§2.4): the corpus is
    tokenised ONCE into (doc_id, len, hits) — the 2-int-plus-≤3-term
    projection every downstream consumer needs. The old shape
    tokenised per consumer branch (the final AQE plan held FOUR
    documents scans; projections pushed below the fan_out exchange
    differ per branch, so exchange reuse never matched them) and then
    JOINED doc lengths back onto tf rows. ``len`` is functionally
    dependent on ``doc_id``, so carrying it through the tf groupBy as
    an extra grouping key yields identical rows and deletes the
    doc_id join; the tiny projected relation passes a barrier so the
    tokenise pass runs exactly once. Scoring arithmetic is
    byte-identical (same IEEE chain, same inputs)."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    base = (
        d.select(
            "doc_id",
            T.let_bound(
                T.tokens("text"),
                lambda t: F.struct(
                    F.size(t).alias("len"),
                    F.filter(t, lambda x: x.isin(*_BM25_TERMS)).alias("hits"),
                ),
            ).alias("__b"),
        )
        .select("doc_id", "__b.len", "__b.hits")
    )
    # readers: the corpus stats, the document frequencies and the tf rows
    base = barrier(base, "t_bm25_rational_rank.base")
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("len").cast("long").alias("total_len"),
    )
    tf = (
        base.select("doc_id", "len", F.explode("hits").alias("term"))
        .groupBy("term", "doc_id", "len")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # df(term) = |{doc : term ∈ hits}| comes straight off ``base``
    # (explode of the per-doc DISTINCT hit set), so the tf aggregation
    # has one reader: tf ≥ 1 ⇔ term ∈ hits.
    dfs = (
        base.select(F.explode(F.array_distinct("hits")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    d1, d2 = dfs.alias("d1"), dfs.alias("d2")
    rarer = (
        d1.join(d2, F.col("d2.df") > F.col("d1.df"), "left")
        .groupBy(F.col("d1.term").alias("term"))
        .agg((F.lit(1) + F.count(F.col("d2.term"))).alias("rarity"))
    )
    tfn = _bm25_tfn()
    sc = (
        tf.join(F.broadcast(rarer), "term")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", F.round(F.col("rarity") * tfn, 6).alias("term_score"))
    )
    agg = sc.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_terms_hit"),
        dsum("term_score").alias("score"),
    )
    top = agg.orderBy(F.desc("score"), "doc_id").limit(_BM25_K)
    w = Window.orderBy(F.desc("score"), "doc_id")
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


# ---------------------------------------------------------------------------
# Theta/KMV sketch join-cardinality estimation (deterministic, value-gated)
# ---------------------------------------------------------------------------

_THETA_K = 256
_2POW48 = 281474976710656  # hash space size for 12 hex chars


def _theta_hash_sql(key: str) -> str:
    return _HEX2BIG(f"md5('th:' || CAST({key} AS VARCHAR))", 12)


@query(
    "j_theta_sketch_cardinality",
    oracle=f"""
    WITH a_keys AS (
      SELECT DISTINCT o_custkey AS k FROM orders
    ), b_keys AS (
      SELECT DISTINCT c_custkey AS k FROM customer
      WHERE c_mktsegment = 'BUILDING'
    ), ak AS (
      SELECT {_theta_hash_sql('k')} AS h FROM a_keys ORDER BY h LIMIT {_THETA_K}
    ), bk AS (
      SELECT {_theta_hash_sql('k')} AS h FROM b_keys ORDER BY h LIMIT {_THETA_K}
    ), th AS (
      SELECT LEAST((SELECT MAX(h) FROM ak), (SELECT MAX(h) FROM bk)) AS theta
    ), common AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_common
      FROM ak JOIN bk USING (h) CROSS JOIN th
      WHERE ak.h < th.theta
    ), truth AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS true_intersection
      FROM a_keys JOIN b_keys USING (k)
    )
    SELECT {_THETA_K} AS k, th.theta AS theta, c.n_common,
           {DROUND('(CAST(c.n_common AS DOUBLE) * 281474976710656) / th.theta', 6)}
             AS est_intersection,
           t.true_intersection
    FROM th CROSS JOIN common c CROSS JOIN truth t
    """,
    category="join",
    survey="theta-sketch[abs],A-approx",
)
def j_theta_sketch_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based join-cardinality estimation — the optimizer-
    statistics shape (Theta/KMV bottom-k sketches): estimate
    |distinct(orders.o_custkey) ∩ BUILDING customers| from two 256-hash
    bottom-k sketches, alongside the exact answer so the driver gates
    the ESTIMATE itself, not a tolerance band. Deterministic because
    both engines sketch with the identical seeded md5 → 48-bit-int
    hash (no RNG): bottom-k sets, θ = min(kth_A, kth_B), the common
    hashes below θ, and the single-division scale-up are all exact
    integer ops plus one IEEE divide, rounded to 6 decimals.

    Scale: each side is a distinct (map-side partial) followed by a
    TakeOrderedAndProject bottom-k — per-partition top-k, no full
    sort, sketch size k regardless of input size; the two k-row
    sketches join broadcast. The exact-truth join exists only for the
    gate. This is the mergeable-summaries pattern: per-partition
    bottom-k unions to global bottom-k, so a 1000-executor sweep
    ships 256 hashes per partition, never keys."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    a_keys = orders.select(F.col("o_custkey").alias("k")).distinct()
    b_keys = (
        cust.filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("k"))
        .distinct()
    )

    def sketch(keys: DataFrame) -> DataFrame:
        h = F.conv(
            F.substring(F.md5(F.concat(F.lit("th:"), F.col("k").cast("string"))), 1, 12),
            16,
            10,
        ).cast("long")
        return keys.select(h.alias("h")).orderBy("h").limit(_THETA_K)

    ak, bk = sketch(a_keys), sketch(b_keys)
    th = (
        ak.agg(F.max("h").alias("ka"))
        .crossJoin(bk.agg(F.max("h").alias("kb")))
        .select(F.least("ka", "kb").alias("theta"))
    )
    common = (
        ak.join(bk, "h")
        .crossJoin(F.broadcast(th))
        .filter(F.col("h") < F.col("theta"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    truth = a_keys.join(b_keys, "k").agg(F.count(F.lit(1)).alias("true_intersection"))
    est = (F.col("n_common").cast("double") * F.lit(_2POW48)) / F.col("theta")
    return (
        F.broadcast(th)
        .crossJoin(common)
        .crossJoin(truth)
        .select(
            F.lit(_THETA_K).alias("k"),
            "theta",
            "n_common",
            F.round(est, 6).alias("est_intersection"),
            "true_intersection",
        )
    )


# ---------------------------------------------------------------------------
# Weighted sampling WITH replacement (integer inverse-CDF, no RNG)
# ---------------------------------------------------------------------------

_WSR_DRAWS = 5


@query(
    "t_weighted_sample_replacement",
    oracle=f"""
    WITH cum AS (
      SELECT source, doc_id, n_chars,
             SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id) AS cw
      FROM documents
    ), tot AS (
      SELECT source, CAST(SUM(n_chars) AS BIGINT) AS tw
      FROM documents GROUP BY 1
    ), draws AS (
      SELECT source, j,
             {_HEX2BIG("md5('wsr:' || source || ':' || CAST(j AS VARCHAR))", 12)} % tw AS u
      FROM tot CROSS JOIN (SELECT unnest(range(1, {_WSR_DRAWS + 1})) AS j)
    )
    SELECT c.source, CAST(d.j AS BIGINT) AS draw, c.doc_id, c.n_chars
    FROM cum c JOIN draws d
      ON c.source = d.source AND d.u >= c.cw - c.n_chars AND d.u < c.cw
    """,
    category="sampling",
    survey="weighted-sample-replacement[abs],F20",
)
def t_weighted_sample_replacement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source weighted sampling WITH replacement (5 draws per
    stratum, probability ∝ n_chars) — the corpus-mixture primitive
    where one upweighted document may legitimately be drawn several
    times, complementing r7's without-replacement lottery
    (`t_weighted_key_sample`). No RNG and no transcendentals: draw j
    of a stratum maps a seeded-md5 48-bit integer onto [0, Σw) and
    inverse-CDF lookup picks the document whose cumulative-weight
    segment [cw−w, cw) covers it — pure integer arithmetic, identical
    in both engines, so the SAMPLER ITSELF is value-gated (the A-ES
    exponential-race trick needs u^(1/w) and stays banned).

    Scale: the cumulative weights are one window pass partitioned by
    stratum; the draw table is |strata|·m rows, broadcast, so the
    lookup join is map-side against the fact — no second shuffle. A
    1000× corpus changes neither the draw-table size nor the plan."""
    docs = load(spark, sf_dir, "documents").select("source", "doc_id", "n_chars")
    w = Window.partitionBy("source").orderBy("doc_id")
    cum = docs.withColumn("cw", F.sum("n_chars").over(w))
    tot = docs.groupBy("source").agg(F.sum("n_chars").alias("tw"))
    draws = (
        tot.crossJoin(spark.range(1, _WSR_DRAWS + 1).select(F.col("id").alias("j")))
        .select(
            "source",
            "j",
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.lit("wsr:"),
                                F.col("source"),
                                F.lit(":"),
                                F.col("j").cast("string"),
                            )
                        ),
                        1,
                        12,
                    ),
                    16,
                    10,
                ).cast("long")
                % F.col("tw")
            ).alias("u"),
        )
    )
    c, d = cum.alias("c"), draws.alias("d")
    return c.join(
        F.broadcast(d),
        (F.col("c.source") == F.col("d.source"))
        & (F.col("d.u") >= F.col("c.cw") - F.col("c.n_chars"))
        & (F.col("d.u") < F.col("c.cw")),
    ).select(
        F.col("c.source").alias("source"),
        F.col("d.j").alias("draw"),
        F.col("c.doc_id").alias("doc_id"),
        F.col("c.n_chars").alias("n_chars"),
    )


# ---------------------------------------------------------------------------
# Multi-metric top-k in one pass (two rankings, one partitioning)
# ---------------------------------------------------------------------------


@query(
    "a_multi_metric_topk",
    oracle="""
    WITH base AS (
      SELECT c.c_nationkey, c.c_custkey, c.c_acctbal,
             CAST(COALESCE(o.cnt, 0) AS BIGINT) AS n_orders
      FROM customer c LEFT JOIN (
        SELECT o_custkey, COUNT(*) AS cnt FROM orders GROUP BY 1
      ) o ON o.o_custkey = c.c_custkey
    ), r AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                ORDER BY c_acctbal DESC, c_custkey) AS rb,
             ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                ORDER BY n_orders DESC, c_custkey) AS ro
      FROM base
    )
    SELECT c_nationkey, 'balance' AS metric, CAST(rb AS BIGINT) AS rank,
           c_custkey, c_acctbal AS metric_value
    FROM r WHERE rb <= 3
    UNION ALL
    SELECT c_nationkey, 'orders' AS metric, CAST(ro AS BIGINT) AS rank,
           c_custkey, CAST(n_orders AS DOUBLE) AS metric_value
    FROM r WHERE ro <= 3
    """,
    category="analytics",
    survey="multi-metric-topk[abs],W2,W-analytic",
)
def a_multi_metric_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation top-3 customers under TWO rankings at once — highest
    balance and most orders — computed in a single pass: both
    row_number windows share the same c_nationkey partitioning, so
    Spark plans ONE key exchange with two in-partition sorts rather
    than two shuffled jobs (the "rank the same fact table N ways"
    dashboard fan-out, which naive per-metric queries re-shuffle N
    times). The survivors unpivot through ``stack`` into a tidy
    (metric, rank, key, value) result.

    Determinism: both orderings tie-break on the unique custkey;
    balances are untouched input doubles, the order count casts to
    double exactly.

    Scale: the pre-join is a map-side-combined count aggregate;
    adding a metric adds one sort, never an exchange; the rank<=3
    disjunction keeps WindowGroupLimit applicable per window at the
    top-k they each bound."""
    cust = load(spark, sf_dir, "customer")
    cnt = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    base = (
        cust.join(cnt, cust.c_custkey == cnt.o_custkey, "left")
        .select(
            "c_nationkey",
            "c_custkey",
            "c_acctbal",
            F.coalesce(F.col("cnt"), F.lit(0)).cast("long").alias("n_orders"),
        )
    )
    wb = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), "c_custkey")
    wo = Window.partitionBy("c_nationkey").orderBy(F.desc("n_orders"), "c_custkey")
    ranked = base.withColumn("rb", F.row_number().over(wb)).withColumn(
        "ro", F.row_number().over(wo)
    )
    return (
        ranked.filter((F.col("rb") <= 3) | (F.col("ro") <= 3))
        .select(
            "c_nationkey",
            "c_custkey",
            F.expr(
                "stack(2, 'balance', CAST(rb AS BIGINT), c_acctbal, "
                "'orders', CAST(ro AS BIGINT), CAST(n_orders AS DOUBLE)) "
                "AS (metric, rank, metric_value)"
            ),
        )
        .filter(F.col("rank") <= 3)
        .select("c_nationkey", "metric", "rank", "c_custkey", "metric_value")
    )


# ---------------------------------------------------------------------------
# Z-order (Morton curve) layout: multi-dimensional clustering stats
# ---------------------------------------------------------------------------

_Z_FILES = 16
_Z_BITS = 8  # per-dimension bucket resolution (2^8 cells per dim)


def _div_kw(spark: bool) -> str:
    return "div" if spark else "//"


def _bucket_expr(v: str, mn: str, mx: str, *, spark: bool) -> str:
    """Range-bucket ``v`` into [0, 256): ((v-mn)*256) intdiv (mx-mn+1).
    Pure positive-domain integer arithmetic — identical in both
    engines (Spark ``div`` truncates, DuckDB ``//`` floors; equal on
    non-negative operands). Twin-parity: tests/test_expression_twins.py."""
    return f"((({v}) - ({mn})) * 256) {_div_kw(spark=spark)} ((({mx}) - ({mn})) + 1)"


def _zorder_expr(bx: str, by: str, *, spark: bool) -> str:
    """Morton interleave of two 8-bit buckets via div/mod bit
    extraction — no shift operators, so ONE generator serves both
    engines (twin-parity: tests/test_expression_twins.py). bx owns the
    odd (higher) bit positions."""
    div = _div_kw(spark=spark)
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"((({bx}) {div} {1 << i}) % 2) * {1 << (2 * i + 1)}")
        terms.append(f"((({by}) {div} {1 << i}) % 2) * {1 << (2 * i)}")
    return "(" + " + ".join(terms) + ")"


def _zorder_oracle() -> str:
    b = "(SELECT MIN(ck) AS minc, MAX(ck) AS maxc, MIN(dy) AS mind, MAX(dy) AS maxd FROM o)"
    bx = _bucket_expr("ck", "minc", "maxc", spark=False)
    by = _bucket_expr("dy", "mind", "maxd", spark=False)
    return f"""
    WITH o AS (
      SELECT o_custkey AS ck, epoch_us(o_orderdate) // {_US_PER_DAY} AS dy
      FROM orders
    ), st AS {b}, bz AS (
      SELECT ck, dy, {bx} AS bx, {by} AS by FROM o CROSS JOIN st
    ), z AS (
      SELECT ck, dy, {_zorder_expr('bx', 'by', spark=False)} AS zval FROM bz
    )
    SELECT zval // {(256 * 256) // _Z_FILES} AS file_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(ck) AS min_cust, MAX(ck) AS max_cust,
           MIN(dy) AS min_day, MAX(dy) AS max_day
    FROM z GROUP BY 1
    """


@query(
    "r_zorder_layout",
    oracle=_zorder_oracle(),
    category="maintenance",
    survey="zorder[abs],S5",
)
def r_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER (Morton-curve) clustering of orders on the two
    dimensions ad-hoc queries actually filter — customer and order
    day — the OPTIMIZE ZORDER table service of a Delta/Iceberg lake:
    range-bucket each dimension to 8 bits, interleave the bits, and
    split the curve into 16 equal z-ranges ("files"), emitting each
    file's min/max per dimension — exactly the footer stats a scan
    would prune on. Because the curve preserves locality in BOTH
    dimensions, every file's (cust, day) bounding box is narrow, so a
    predicate on EITHER dimension skips most files — a single-column
    sort gets one dimension's skipping and destroys the other's
    (asserted quantitatively in tests/test_lakehouse_ops.py).

    Determinism: bucketing and bit interleaving are positive-domain
    integer div/mod generated from ONE shared expression template for
    both engines (twin-parity tested); outputs are exact ints.

    Scale: dimension min/max are one scalar aggregate broadcast back;
    z-value assignment is map-side expression work; the z-range split
    here is a groupBy for the stats gate, but the write path is
    ``repartitionByRange(zval).sortWithinPartitions(zval)`` +
    per-file parquet sink (S5) — one range exchange for the whole
    layout job at any scale."""
    # float-div + truncate equals integer div here: order dates are
    # exact midnights, so epoch_us is an exact multiple of the divisor
    o = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("ck"),
        (epoch_us(F.col("o_orderdate")) / F.lit(_US_PER_DAY)).cast("long").alias("dy"),
    )
    st = o.agg(
        F.min("ck").alias("minc"),
        F.max("ck").alias("maxc"),
        F.min("dy").alias("mind"),
        F.max("dy").alias("maxd"),
    )
    bz = o.crossJoin(F.broadcast(st)).select(
        "ck",
        "dy",
        F.expr(_bucket_expr("ck", "minc", "maxc", spark=True)).alias("bx"),
        F.expr(_bucket_expr("dy", "mind", "maxd", spark=True)).alias("by"),
    )
    z = bz.select("ck", "dy", F.expr(_zorder_expr("bx", "by", spark=True)).alias("zval"))
    return (
        z.select("ck", "dy", F.expr(f"zval div {(256 * 256) // _Z_FILES}").alias("file_id"))
        .groupBy("file_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("ck").alias("min_cust"),
            F.max("ck").alias("max_cust"),
            F.min("dy").alias("min_day"),
            F.max("dy").alias("max_day"),
        )
    )


# ---------------------------------------------------------------------------
# Interval-overlap join via grid binning (spatial-join shape)
# ---------------------------------------------------------------------------

_SESSION_GAP_US = 3 * _US_PER_DAY  # 3-day inactivity closes a session


def _session_sql(etype: str) -> str:
    """Sessionised [start, end] intervals of one event type (SQL twin
    of :func:`_sessions`): break when the same-type gap exceeds
    _SESSION_GAP_US, id = running break count."""
    return f"""
      SELECT user_id, sid, MIN(eus) AS st, MAX(eus) AS en
      FROM (
        SELECT user_id, eus, event_id,
               CAST(SUM(brk) OVER (PARTITION BY user_id
                                   ORDER BY eus, event_id) AS BIGINT) AS sid
        FROM (
          SELECT user_id, eus, event_id,
                 CASE WHEN eus - LAG(eus) OVER (PARTITION BY user_id
                                                ORDER BY eus, event_id)
                           > {_SESSION_GAP_US}
                      THEN 1 ELSE 0 END AS brk
          FROM (SELECT user_id, epoch_us(ts) AS eus, event_id
                FROM events WHERE event_type = '{etype}')
        )
      ) GROUP BY 1, 2
    """


def _sessions(spark: SparkSession, sf_dir: str, etype: str) -> DataFrame:
    """Spark twin of :func:`_session_sql`."""
    e = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type") == etype)
        .select("user_id", epoch_us(F.col("ts")).alias("eus"), "event_id")
    )
    w = Window.partitionBy("user_id").orderBy("eus", "event_id")
    brk = F.when(
        F.col("eus") - F.lag("eus").over(w) > _SESSION_GAP_US, F.lit(1)
    ).otherwise(F.lit(0))
    sid = e.withColumn("sid", F.sum(brk).over(w))
    return sid.groupBy("user_id", "sid").agg(
        F.min("eus").alias("st"), F.max("eus").alias("en")
    )


@query(
    "j_interval_overlap_grid",
    oracle=f"""
    WITH c AS ({_session_sql("click")}), v AS ({_session_sql("view")})
    SELECT c.user_id, c.sid AS click_sid, v.sid AS view_sid,
           LEAST(c.en, v.en) - GREATEST(c.st, v.st) AS overlap_us
    FROM c JOIN v ON c.user_id = v.user_id
                 AND c.st <= v.en AND v.st <= c.en
    """,
    category="join",
    survey="interval-overlap[abs],J-range[abs]",
)
def j_interval_overlap_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join — the temporal/spatial join shape that is
    neither an as-of (J-asof) nor a fixed-width band join (J-range):
    find every (click-session, view-session) pair of the same user
    whose time intervals intersect, reporting the overlap length.
    Sessions are 3-day-gap sessionisations of each event type.

    The Spark side does NOT run the oracle's quadratic
    inequality join: each interval is binned into the grid of epoch
    DAYS it covers (cell size ≈ median interval length), candidates
    meet in a (user_id, day) EQUI-join — shuffle-hashable, never a
    nested loop — then the exact overlap predicate filters and a
    groupBy dedups pairs that share several grid cells. This is the
    Sedona/GeoSpark grid-join pattern on a 1-D grid.

    Determinism: session ids are running break counts in the unique
    (eus, event_id) order; interval bounds and overlaps are exact
    integer microseconds.

    Scale: candidate fan-out is bounded by interval-days × density
    per cell, not |sessions|²; per-user-day cells hash-partition
    evenly (user_id salt is implicit in the compound key). A
    predicate pushdown note: the event_type filters reach the scan
    (PushedFilters), so each session build reads one type's rows.

    Measured at sf0.1 (identical pairs from both shapes): at THIS
    query's per-user grain the plain user_id equi-join + inequality
    filter is faster (grid 0.16× — ~8 sessions/user makes per-key
    quadratic trivial); at coarse keys
    (user_id % 8, 2 h sessions, ~2.4k sessions/key) the grid is
    already 1.19× and its advantage grows with per-key session
    count², which is the celebrity-key / tenant-grain regime this
    operator exists for — same honesty pattern as j_pareto_skyline's
    broadcast-scale note."""
    c = _sessions(spark, sf_dir, "click")
    v = _sessions(spark, sf_dir, "view")
    day = F.lit(_US_PER_DAY)

    def cells(iv: DataFrame, tag: str) -> DataFrame:
        return iv.select(
            F.col("user_id"),
            F.col("sid").alias(f"{tag}_sid"),
            F.col("st").alias(f"{tag}_st"),
            F.col("en").alias(f"{tag}_en"),
            F.explode(
                F.sequence((F.col("st") / day).cast("long"), (F.col("en") / day).cast("long"))
            ).alias("day"),
        )
    cand = cells(c, "c").join(cells(v, "v"), ["user_id", "day"])
    hit = cand.filter(
        (F.col("c_st") <= F.col("v_en")) & (F.col("v_st") <= F.col("c_en"))
    )
    return (
        hit.groupBy("user_id", "c_sid", "v_sid")
        .agg(
            (
                F.least(F.min("c_en"), F.min("v_en"))
                - F.greatest(F.min("c_st"), F.min("v_st"))
            ).alias("overlap_us")
        )
        .select(
            "user_id",
            F.col("c_sid").alias("click_sid"),
            F.col("v_sid").alias("view_sid"),
            "overlap_us",
        )
    )
