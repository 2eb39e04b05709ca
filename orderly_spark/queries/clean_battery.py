"""Clean-pipeline battery: the ORDerly clean pipeline (SURVEY §3.2,
operators P2-P6, P11, A3-A6, W1, F13, F16, F20, J3, J4) under the
DuckDB correctness gate.

The reference pipeline operates on per-reaction molecule-role lists;
testdata has no such table, so every query here first builds a
synthetic ``reactions`` frame from ``lineitem`` — per-order part/supp
keys play the molecule roles — IDENTICALLY in Spark and in the oracle
CTE, then applies the real library stage from
``orderly_spark.operators.cleaning``. What the gate certifies is the
stage semantics, not the scaffold.

Float discipline: yields are floor()ed to integral doubles so their
string forms ('37.0') agree between engines inside dedup keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orderly_spark.functions import chem
from orderly_spark.operators import cleaning as C
from orderly_spark.registry import query
from orderly_spark.tables import load

MAX_RID = 4000

# the synthetic reactions frame, as a DuckDB CTE (mirrored by
# _reactions); {where} parameterises the rid cap (gate queries cap at
# MAX_RID for speed; the *_fullscale bench twins run uncapped)
_RX_TEMPLATE = """
rx AS (
  SELECT l_orderkey AS rid,
         COALESCE(list_sort(list_distinct(list(CAST(l_partkey AS VARCHAR)) FILTER (WHERE l_linenumber <= 3))), []) AS reactants,
         COALESCE(list_sort(list_distinct(list('s' || CAST(l_suppkey AS VARCHAR)) FILTER (WHERE l_linenumber <= 2))), []) AS agents,
         COALESCE(list_sort(list_distinct(list('v' || CAST(l_partkey AS VARCHAR)) FILTER (WHERE l_linenumber = 3))), []) AS solvents,
         COALESCE(list('p' || CAST(l_partkey AS VARCHAR) ORDER BY 'p' || CAST(l_partkey AS VARCHAR), CAST(FLOOR(l_quantity) AS DOUBLE)) FILTER (WHERE l_linenumber > 3), []) AS products,
         COALESCE(list(CAST(FLOOR(l_quantity) AS DOUBLE) ORDER BY 'p' || CAST(l_partkey AS VARCHAR), CAST(FLOOR(l_quantity) AS DOUBLE)) FILTER (WHERE l_linenumber > 3), CAST([] AS DOUBLE[])) AS yields,
         CAST([] AS VARCHAR[]) AS reagents,
         CAST([] AS VARCHAR[]) AS catalysts,
         (l_orderkey % 2 = 0) AS is_mapped,
         l_orderkey AS original_index
  FROM lineitem {where}
  GROUP BY l_orderkey
)"""

RX_SQL = _RX_TEMPLATE.format(where=f"WHERE l_orderkey < {MAX_RID}")
RX_SQL_FULL = _RX_TEMPLATE.format(where="")

BAD_SQL = """
badl AS (
  SELECT COALESCE(list(CAST(p_partkey AS VARCHAR)), []) AS bl
  FROM part WHERE p_partkey % 13 = 0
)"""

ALL_CONCAT = "reactants || agents || reagents || solvents || catalysts || products"
COND_CONCAT = "agents || solvents || reagents || catalysts"


def _reactions(spark: SparkSession, sf_dir: str, max_rid: int | None = MAX_RID) -> DataFrame:
    """Spark twin of RX_SQL (see module docstring); max_rid=None ↔
    RX_SQL_FULL."""
    # fan_out: the scaffold's partial collect_list aggregation runs in
    # the scan stage; single-row-group local files would pin it to one
    # core (see tables.load)
    l = load(spark, sf_dir, "lineitem", fan_out=True)
    if max_rid is not None:
        l = l.filter(F.col("l_orderkey") < max_rid)
    # the aggregate and projection expressions ship as SQL-parsed
    # strings (the same trees the Column builders produce: CASE,
    # collect_list and array_sort defaults; c_reactions_build's exact
    # oracle pins the values); the Column-builder form costs ~0.3 s of
    # py4j round trips per query construction (see cleaning._arr).
    g = l.groupBy(F.col("l_orderkey").alias("rid")).agg(
        F.expr(
            "array_sort(array_distinct(collect_list("
            "CASE WHEN l_linenumber <= 3 THEN CAST(l_partkey AS string) END))) AS reactants"
        ),
        F.expr(
            "array_sort(array_distinct(collect_list("
            "CASE WHEN l_linenumber <= 2 THEN concat('s', CAST(l_suppkey AS string)) END))) AS agents"
        ),
        F.expr(
            "array_sort(array_distinct(collect_list("
            "CASE WHEN l_linenumber = 3 THEN concat('v', CAST(l_partkey AS string)) END))) AS solvents"
        ),
        F.expr(
            "array_sort(collect_list(CASE WHEN l_linenumber > 3 THEN "
            "struct(concat('p', CAST(l_partkey AS string)) AS p, "
            "CAST(FLOOR(l_quantity) AS double) AS y) END)) AS __py"
        ),
    )
    return g.selectExpr(
        "rid",
        "reactants",
        "agents",
        "solvents",
        "transform(__py, s -> s.p) AS products",
        "transform(__py, s -> s.y) AS yields",
        "CAST(array() AS array<string>) AS reagents",
        "CAST(array() AS array<string>) AS catalysts",
        "(rid % 2) = 0 AS is_mapped",
        "rid AS original_index",
    )


def _bad_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part")
    return p.filter((F.col("p_partkey") % 13) == 0).select(
        F.col("p_partkey").cast("string").alias("name")
    )


def _j(col: str, sep: str = ".") -> F.Column:
    return F.concat_ws(sep, F.col(col))


# ---------------------------------------------------------------------------
# scaffold self-check
# ---------------------------------------------------------------------------

@query(
    "c_reactions_build",
    oracle=f"""
    WITH {RX_SQL}
    SELECT rid,
           COALESCE(array_to_string(reactants, '.'), '') AS r,
           COALESCE(array_to_string(agents, '.'), '') AS a,
           COALESCE(array_to_string(solvents, '.'), '') AS v,
           COALESCE(array_to_string(products, '.'), '') AS p,
           COALESCE(array_to_string(yields, ';'), '') AS y,
           is_mapped
    FROM rx
    """,
    category="clean",
    survey="A2,O2,P8,J5",
)
def c_reactions_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reactions scaffold itself: per-group sorted-distinct role
    lists with parallel products↔yields alignment (extractor.py:879-923
    semantics) — certifies every downstream clean query's input."""
    rx = _reactions(spark, sf_dir)
    return rx.select(
        "rid",
        _j("reactants").alias("r"),
        _j("agents").alias("a"),
        _j("solvents").alias("v"),
        _j("products").alias("p"),
        F.concat_ws(";", F.transform("yields", lambda y: y.cast("string"))).alias("y"),
        "is_mapped",
    )


# ---------------------------------------------------------------------------
# P11 — unresolved names
# ---------------------------------------------------------------------------

@query(
    "c_unresolved_drop_rows",
    oracle=f"""
    WITH {RX_SQL}, {BAD_SQL}
    SELECT rid, COALESCE(array_to_string(reactants, '.'), '') AS r
    FROM rx, badl
    WHERE len(list_filter({ALL_CONCAT}, x -> list_contains(bl, x))) = 0
    """,
    category="clean",
    survey="P11",
)
def c_unresolved_drop_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11 mode (b) (cleaner.py:572-657): drop any reaction containing
    an unresolved name — members exploded beside the packed row, one
    broadcast hash join on the name set (O(1) per member), collapse
    back by row id."""
    rx = _reactions(spark, sf_dir)
    cfg = C.CleanConfig(
        unresolved_names="remove_rxn",
    )
    out = C.handle_unresolved_names(rx, _bad_names(spark, sf_dir), cfg)
    return out.select("rid", _j("reactants").alias("r"))


@query(
    "c_unresolved_null_if_mapped",
    oracle=f"""
    WITH {RX_SQL}, {BAD_SQL}
    SELECT rid,
           COALESCE(array_to_string(list_filter(reactants, x -> NOT list_contains(bl, x)), '.'), '') AS r,
           is_mapped
    FROM rx, badl
    WHERE is_mapped OR len(list_filter({ALL_CONCAT}, x -> list_contains(bl, x))) = 0
    """,
    category="clean",
    survey="P11",
)
def c_unresolved_null_if_mapped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11 mode (a): unresolved members removed everywhere; rows that
    contained one and lack a mapped rxn_str are dropped."""
    rx = _reactions(spark, sf_dir)
    cfg = C.CleanConfig()  # default = mode (a)
    out = C.handle_unresolved_names(rx, _bad_names(spark, sf_dir), cfg)
    return out.select("rid", _j("reactants").alias("r"), "is_mapped")


# ---------------------------------------------------------------------------
# P2-P6 — the fused filter stack
# ---------------------------------------------------------------------------

FILTER_CONDS = f"""
      len(reactants) <= 5 AND len(products) <= 5 AND len(solvents) <= 2
      AND len(agents) <= 3 AND len(catalysts) = 0 AND len(reagents) = 0
      AND len(reactants) > 0 AND len(products) > 0
      AND len(agents) + len(solvents) + len(reagents) + len(catalysts) > 0
      AND list_sort(list_distinct(reactants)) <> list_sort(list_distinct(products))
      AND len(list_filter(yields, y -> y < 0 OR y > 100)) = 0
      AND COALESCE(list_sum(yields), 0) <= 100
"""


@query(
    "c_filter_stack",
    oracle=f"""
    WITH {RX_SQL}
    SELECT rid, len(reactants) AS nr, len(products) AS np
    FROM rx
    WHERE {FILTER_CONDS}
    """,
    category="clean",
    survey="P2,P3,P4,P5,P6",
)
def c_filter_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2-P6 (cleaner.py:170-316) as one Catalyst-fused pass: component
    trims, non-empty requirements, reactants≠products, yield
    consistency. One scan, zero shuffles — .explain shows a single
    WholeStageCodegen filter over the grouped scaffold."""
    rx = _reactions(spark, sf_dir)
    cfg = C.CleanConfig(num_reactant=5, num_product=5, num_solv=2, num_agent=3)
    out = C.trim_components(rx, cfg)
    out = C.require_core_components(out)
    out = C.remove_reactants_equal_products(out)
    out = C.enforce_yield_consistency(out)
    return out.select(
        "rid", F.size("reactants").alias("nr"), F.size("products").alias("np")
    )


# ---------------------------------------------------------------------------
# A6/W1 — deterministic random-survivor dedup
# ---------------------------------------------------------------------------

@query(
    "c_dedup_random_survivor",
    oracle=f"""
    WITH crx AS (
      SELECT l_orderkey AS rid,
             list_sort(list_distinct(list(CAST(l_partkey % 5 AS VARCHAR)))) AS reactants,
             list_sort(list_distinct(list('p' || CAST(l_suppkey % 5 AS VARCHAR)))) AS products
      FROM lineitem WHERE l_orderkey < {MAX_RID} GROUP BY l_orderkey
    ),
    keyed AS (
      SELECT rid,
             COALESCE(array_to_string(list_transform(reactants, x -> md5(COALESCE(x, 'NULL'))), '.'), '')
               || '|' ||
             COALESCE(array_to_string(list_transform(products, x -> md5(COALESCE(x, 'NULL'))), '.'), '') AS k
      FROM crx
    ),
    ranked AS (
      SELECT rid, k,
             row_number() OVER (
               PARTITION BY k
               ORDER BY md5('12345:' || CAST(rid AS VARCHAR)), rid) AS rn
      FROM keyed
    )
    SELECT rid, k FROM ranked WHERE rn = 1
    """,
    category="clean",
    survey="A6,W1",
)
def c_dedup_random_survivor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6+W1 (cleaner.py:796-866): dedup where a seeded-random
    duplicate survives. Coarsened keys (mod-5) force real collisions.
    The survivor is a pure function of (data, seed) — identical across
    partitionings, unlike the reference's platform-dependent shuffle."""
    l = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < MAX_RID)
    crx = (
        l.groupBy(F.col("l_orderkey").alias("rid"))
        .agg(
            F.array_sort(
                F.array_distinct(F.collect_list((F.col("l_partkey") % 5).cast("string")))
            ).alias("reactants"),
            F.array_sort(
                F.array_distinct(
                    F.collect_list(F.concat(F.lit("p"), (F.col("l_suppkey") % 5).cast("string")))
                )
            ).alias("products"),
        )
        .withColumn("original_index", F.col("rid"))
    )
    cfg = C.CleanConfig(dedup_subset_roles=["reactants", "products"])
    out = C.dedup_reactions(crx, cfg)
    key = C.reaction_key(out, ["reactants", "products"])
    return out.select("rid", key.alias("k"))


# ---------------------------------------------------------------------------
# A3/A4/A5/J3 — global frequency + rare-molecule handling
# ---------------------------------------------------------------------------

COUNTS_SQL = f"""
    counts AS (
      SELECT m, COUNT(*) AS cnt
      FROM (SELECT unnest({COND_CONCAT}) AS m FROM rx)
      GROUP BY m
    ),
    rare AS (SELECT COALESCE(list(m), []) AS rl FROM counts WHERE cnt < 4)
"""


@query(
    "c_rare_remove_rows",
    oracle=f"""
    WITH {RX_SQL}, {COUNTS_SQL}
    SELECT rid, COALESCE(array_to_string(agents, '.'), '') AS a, COALESCE(array_to_string(solvents, '.'), '') AS v
    FROM rx, rare
    WHERE len(list_filter({COND_CONCAT}, x -> list_contains(rl, x))) = 0
    """,
    category="clean",
    survey="A3,A5,J3",
)
def c_rare_remove_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3→A5 (cleaner.py:318-396): global condition-molecule frequency
    (two-phase hash aggregate) then drop rows containing any molecule
    with count < k — broadcast anti-join, no second shuffle of facts."""
    rx = _reactions(spark, sf_dir)
    counts = C.condition_value_counts(rx)
    out = C.remove_rows_with_rare_molecules(rx, counts, 4)
    return out.select("rid", _j("agents").alias("a"), _j("solvents").alias("v"))


@query(
    "c_rare_to_other",
    oracle=f"""
    WITH {RX_SQL}, {COUNTS_SQL}
    SELECT rid,
           COALESCE(array_to_string(list_transform(agents,   x -> CASE WHEN list_contains(rl, x) THEN 'other' ELSE x END), '.'), '') AS a,
           COALESCE(array_to_string(list_transform(solvents, x -> CASE WHEN list_contains(rl, x) THEN 'other' ELSE x END), '.'), '') AS v
    FROM rx, rare
    """,
    category="clean",
    survey="A3,A4",
)
def c_rare_to_other(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3→A4 (cleaner.py:341-368): rare condition molecules mapped to
    'other' in place, order preserved. The frequent set meets the
    members in a broadcast hash join; nothing is collected to the
    driver (plan-asserted in tests/test_plans.py)."""
    rx = _reactions(spark, sf_dir)
    counts = C.condition_value_counts(rx)
    out = C.map_rare_molecules_to_other(rx, counts, 4)
    return out.select("rid", _j("agents").alias("a"), _j("solvents").alias("v"))


# ---------------------------------------------------------------------------
# F16 — deterministic scramble
# ---------------------------------------------------------------------------

SCRAMBLE_SQL = """
    sr AS (
      SELECT rid, COALESCE(array_to_string(
               list(x ORDER BY md5('12345:' || CAST(rid AS VARCHAR) || ':' || x), x), '.'), '') AS r
      FROM (SELECT rid, unnest(reactants) AS x FROM rx) GROUP BY rid
    ),
    sv AS (
      SELECT rid, COALESCE(array_to_string(
               list(x ORDER BY md5('12345:' || CAST(rid AS VARCHAR) || ':' || x), x), '.'), '') AS v
      FROM (SELECT rid, unnest(solvents) AS x FROM rx) GROUP BY rid
    )
"""


@query(
    "c_scramble_deterministic",
    oracle=f"""
    WITH {RX_SQL}, {SCRAMBLE_SQL}
    SELECT rx.rid, COALESCE(sr.r, '') AS r, COALESCE(sv.v, '') AS v
    FROM rx LEFT JOIN sr ON rx.rid = sr.rid LEFT JOIN sv ON rx.rid = sv.rid
    """,
    category="clean",
    survey="F16,W1",
)
def c_scramble_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F16 (cleaner.py:471-509): per-row role-list permutation keyed by
    md5(seed:row:member) — the distributed-safe replacement for the
    reference's seeded numpy shuffle (platform-dependent per its own
    admission, cleaner.py:483)."""
    rx = _reactions(spark, sf_dir)
    out = C.scramble_role_lists(rx, C.CleanConfig(), roles=("reactants", "solvents"))
    return out.select("rid", _j("reactants").alias("r"), _j("solvents").alias("v"))


# ---------------------------------------------------------------------------
# F13/F20/J4 — hash split with leakage repair
# ---------------------------------------------------------------------------

def _split_oracle(rx_sql: str) -> str:
    return f"""
    WITH {rx_sql},
    keyed AS (
      SELECT rid,
             sha256(COALESCE(array_to_string(list_sort(reactants) || list_sort(products), '.'), '')) AS h,
             substr(md5('split12345:' || CAST(rid AS VARCHAR)), 1, 8) < 'e6666666' AS tr
      FROM rx
    ),
    th AS (SELECT DISTINCT h FROM keyed WHERE tr)
    SELECT rid,
           CASE WHEN tr OR h IN (SELECT h FROM th) THEN 'train' ELSE 'test' END AS split
    FROM keyed
    """


@query(
    "c_train_test_split",
    oracle=_split_oracle(RX_SQL),
    category="clean",
    survey="F13,F20,J4",
)
def c_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F20+J4 (cleaner.py:1375-1421, 886-945): deterministic 90/10
    split, then test rows whose reaction hash appears in train move to
    train. The reference's 15-minute row-loop becomes one semi-join on
    a sha256 key (the BASELINE.md headline win)."""
    rx = _reactions(spark, sf_dir)
    train, test = C.train_test_split(rx, C.CleanConfig())
    return train.select("rid").withColumn("split", F.lit("train")).unionByName(
        test.select("rid").withColumn("split", F.lit("test"))
    )


# ---------------------------------------------------------------------------
# the whole pipeline, end to end, under the gate
# ---------------------------------------------------------------------------

# POSITIONAL keys — the reference's drop_duplicates compares wide slot
# columns as-is (cleaner.py:806-866); the scaffold arrays are built
# sorted, so this matches reaction_key exactly
DEDUP_KEY_Y = (
    "COALESCE(array_to_string(list_transform(reactants, x -> md5(COALESCE(x, 'NULL'))), '.'), '') || '|' || "
    "COALESCE(array_to_string(list_transform(agents, x -> md5(COALESCE(x, 'NULL'))), '.'), '') || '|' || "
    "COALESCE(array_to_string(list_transform(reagents, x -> md5(COALESCE(x, 'NULL'))), '.'), '') || '|' || "
    "COALESCE(array_to_string(list_transform(solvents, x -> md5(COALESCE(x, 'NULL'))), '.'), '') || '|' || "
    "COALESCE(array_to_string(list_transform(catalysts, x -> md5(COALESCE(x, 'NULL'))), '.'), '') || '|' || "
    "COALESCE(array_to_string(list_transform(products, x -> md5(COALESCE(x, 'NULL'))), '.'), '') || '|' || "
    # members are md5'd before joining, mirroring reaction_key's
    # collision-free encoding (SMILES salts contain '.'); null
    # members become md5('NULL') so [NULL,10] and [10,NULL] stay
    # distinct
    "COALESCE(array_to_string(list_transform(yields, y -> md5(COALESCE(CAST(y AS VARCHAR), 'NULL'))), '.'), '')"
)


def _pipeline_oracle(rx_sql: str) -> str:
    return f"""
    WITH {rx_sql}, {BAD_SQL},
    f1 AS (
      SELECT rx.* FROM rx, badl
      WHERE len(list_filter({ALL_CONCAT}, x -> list_contains(bl, x))) = 0
    ),
    f2 AS (SELECT * FROM f1 WHERE {FILTER_CONDS}),
    d1 AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY {DEDUP_KEY_Y}
          ORDER BY md5('12345:' || CAST(original_index AS VARCHAR)), original_index) AS rn
        FROM f2) WHERE rn = 1
    ),
    counts AS (
      SELECT m, COUNT(*) AS cnt
      FROM (SELECT unnest({COND_CONCAT}) AS m FROM d1) GROUP BY m
    ),
    rare AS (SELECT COALESCE(list(m), []) AS rl FROM counts WHERE cnt < 4),
    f3 AS (
      SELECT d1.* FROM d1, rare
      WHERE len(list_filter({COND_CONCAT}, x -> list_contains(rl, x))) = 0
    ),
    d2 AS (
      -- consistent_yield=True keeps yields in the subset for BOTH
      -- dedups (get_columns_for_duplicate_checking, cleaner.py:768)
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY {DEDUP_KEY_Y}
          ORDER BY md5('12345:' || CAST(original_index AS VARCHAR)), original_index) AS rn2
        FROM f3) WHERE rn2 = 1
    ),
    rx2 AS (SELECT rid, reactants, solvents, agents FROM d2),
    sr AS (
      SELECT rid, COALESCE(array_to_string(
               list(x ORDER BY md5('12345:' || CAST(rid AS VARCHAR) || ':' || x), x), '.'), '') AS r
      FROM (SELECT rid, unnest(reactants) AS x FROM rx2) GROUP BY rid
    ),
    sv AS (
      SELECT rid, COALESCE(array_to_string(
               list(x ORDER BY md5('12345:' || CAST(rid AS VARCHAR) || ':' || x), x), '.'), '') AS v
      FROM (SELECT rid, unnest(solvents) AS x FROM rx2) GROUP BY rid
    )
    SELECT rx2.rid, COALESCE(sr.r, '') AS r,
           COALESCE(array_to_string(rx2.agents, '.'), '') AS a, COALESCE(sv.v, '') AS v
    FROM rx2 LEFT JOIN sr ON rx2.rid = sr.rid LEFT JOIN sv ON rx2.rid = sv.rid
    """


@query(
    "c_full_clean_pipeline",
    oracle=_pipeline_oracle(RX_SQL),
    category="clean",
    survey="P2-P6,P11,A3,A5,A6,W1,F16,J3",
)
def c_full_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full cleaner._get_dataframe stage chain (cleaner.py:533-882)
    — unresolved-name drop, fused filters, random-survivor dedup
    (yields in key), rare-row removal at global k=4, second dedup,
    deterministic scramble — as ONE lazy DataFrame. Catalyst fuses
    P2-P6 into a single stage; shuffles: the two dedup windows and the
    frequency aggregate (counts are distinct-molecule sized and
    broadcast back)."""
    rx = _reactions(spark, sf_dir)
    cfg = C.CleanConfig(
        num_reactant=5, num_product=5, num_solv=2, num_agent=3,
        min_frequency_of_occurrence=4,
        unresolved_names="remove_rxn",
    )
    out = C.clean_pipeline(rx, _bad_names(spark, sf_dir), cfg)
    return out.select(
        "rid", _j("reactants").alias("r"), _j("agents").alias("a"), _j("solvents").alias("v")
    )


# ---------------------------------------------------------------------------
# F3 — two-phase canonicalisation plumbing (chem UDF dimension pattern)
# ---------------------------------------------------------------------------

@query(
    "c_canonicalise_dimension_roundtrip",
    # the scaffold's reactants are digit strings, which the parser
    # canonicaliser returns unchanged (outside the SMILES grammar), so
    # the oracle is the unchanged scaffold — what the gate certifies is
    # the explode → distinct → UDF → broadcast-join → positional-
    # reassembly plumbing (SURVEY §7.3.2, the 100 TB canonicalisation
    # pattern)
    oracle=f"""
    WITH {RX_SQL}
    SELECT rid, COALESCE(array_to_string(reactants, '.'), '') AS r
    FROM rx
    """,
    category="chem",
    survey="F3",
)
def c_canonicalise_dimension_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 (canonicalise.py:12-72) at scale: NEVER one kernel call per
    fact row — distinct (molecule, is_mapped) pairs are canonicalised
    once and broadcast-joined back (reduces UDF work from Σ|arr| to
    |distinct|, keeping the expensive stage off the fact shuffle)."""
    rx = _reactions(spark, sf_dir).select("rid", "reactants", "is_mapped")
    out = chem.canonicalise_via_dimension(rx, "reactants")
    return out.select("rid", _j("reactants").alias("r"))


# ---------------------------------------------------------------------------
# full-scale bench twins (no rid cap): the reference's own workload —
# its 19-min single-node clean + 15-min leakage split (BASELINE.md) —
# over the whole fact table. Same oracles, uncapped scaffold.
# ---------------------------------------------------------------------------

@query(
    "c_clean_pipeline_fullscale",
    oracle=_pipeline_oracle(RX_SQL_FULL),
    category="clean",
    survey="P2-P6,P11,A3,A5,A6,W1,F16,J3",
)
def c_clean_pipeline_fullscale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """c_full_clean_pipeline without the rid cap — the bench headliner
    standing in for the reference's full-USPTO clean run."""
    rx = _reactions(spark, sf_dir, max_rid=None)
    cfg = C.CleanConfig(
        num_reactant=5, num_product=5, num_solv=2, num_agent=3,
        min_frequency_of_occurrence=4,
        unresolved_names="remove_rxn",
    )
    out = C.clean_pipeline(rx, _bad_names(spark, sf_dir), cfg)
    return out.select(
        "rid", _j("reactants").alias("r"), _j("agents").alias("a"), _j("solvents").alias("v")
    )


@query(
    "c_split_fullscale",
    oracle=_split_oracle(RX_SQL_FULL),
    category="clean",
    survey="F13,F20,J4",
)
def c_split_fullscale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """c_train_test_split without the rid cap — the reference's 15-min
    leakage-matching hot spot (cleaner.py:885) as one hash semi-join
    over the whole table.

    The split decision reads only (reactants, products), via the
    reaction hash, and original_index; this query's output is only
    (rid, split), so the scaffold is projected down BEFORE the split
    (dropping the agents/solvents/yields collect_lists from the
    scaffold aggregation) and the routed single-relation core emits
    the label directly: one scaffold pass, one hash exchange, no
    filter/union fan-out (a union of filters re-runs the scaffold
    aggregation per branch, and AQE stage reuse does not dedupe it)."""
    rx = _reactions(spark, sf_dir, max_rid=None).select(
        "rid", "reactants", "products", "original_index"
    )
    routed = C.train_test_split_routed(rx, C.CleanConfig())
    return routed.select(
        "rid", F.when(F.col("__to_train"), "train").otherwise("test").alias("split")
    )


@query(
    "c_wide_export_pivot",
    oracle=f"""
    WITH {RX_SQL}
    SELECT rid,
           reactants[1] AS reactant_000,
           reactants[2] AS reactant_001,
           reactants[3] AS reactant_002,
           products[1] AS product_000,
           products[2] AS product_001,
           yields[1] AS yield_000,
           yields[2] AS yield_001
    FROM rx
    """,
    category="clean",
    survey="O4,O6,P2",
)
def c_wide_export_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The export pivot (schema.array_to_wide): array model →
    positional wide columns with null padding — the reference's
    on-disk layout (extractor.py:1164-1182, cleaner.py:170-225)
    reproduced at write time only. Nulls-trail-data (O4) is automatic:
    arrays hold no interior nulls, so slot i empty ⇒ all j>i empty."""
    from orderly_spark.schema import array_to_wide

    rx = _reactions(spark, sf_dir)
    wide = array_to_wide(rx, {"reactant": 3, "product": 2, "yield": 2})
    return wide.select(
        "rid", "reactant_000", "reactant_001", "reactant_002",
        "product_000", "product_001", "yield_000", "yield_001",
    )


# ---------------------------------------------------------------------------
# P9/S6 — sentinel normalisation through the wide→array pivot
# ---------------------------------------------------------------------------

@query(
    "c_sentinel_wide_roundtrip",
    oracle=f"""
    WITH wide AS (
      SELECT l_orderkey AS rid,
             COALESCE(MAX(CASE WHEN l_linenumber = 1 THEN CAST(l_partkey AS VARCHAR) END), '<missing>') AS reactant_000,
             MAX(CASE WHEN l_linenumber = 2 THEN CAST(l_partkey AS VARCHAR) END) AS reactant_001,
             COALESCE(MAX(CASE WHEN l_linenumber = 3 THEN 'p' || CAST(l_partkey AS VARCHAR) END), '<missing>') AS product_000,
             MAX(CASE WHEN l_linenumber = 4 THEN 'p' || CAST(l_partkey AS VARCHAR) END) AS product_001,
             MAX(CASE WHEN l_linenumber = 3 THEN CAST(FLOOR(l_quantity) AS DOUBLE) END) AS yield_000,
             MAX(CASE WHEN l_linenumber = 4 THEN CAST(FLOOR(l_quantity) AS DOUBLE) END) AS yield_001
      FROM lineitem WHERE l_orderkey < {MAX_RID}
      GROUP BY l_orderkey
    ),
    arr AS (
      SELECT rid,
             list_filter([reactant_000, reactant_001], x -> x IS NOT NULL AND x != '<missing>') AS reactants,
             list_filter([{{'p': product_000, 'y': yield_000}}, {{'p': product_001, 'y': yield_001}}],
                         s -> s.p IS NOT NULL AND s.p != '<missing>') AS pz
      FROM wide
    )
    SELECT rid,
           COALESCE(array_to_string(reactants, '.'), '') AS r,
           COALESCE(array_to_string(list_transform(pz, s -> s.p), '.'), '') AS p,
           COALESCE(array_to_string(list_transform(pz, s -> COALESCE(CAST(s.y AS VARCHAR), 'NULL')), ';'), '') AS y
    FROM arr
    """,
    category="clean",
    survey="P9,S6,O4",
)
def c_sentinel_wide_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9 (cleaner.py:129-134) through schema.wide_to_array: positional
    wide columns carrying the on-disk '<missing>' sentinel pivot into
    clean arrays — sentinels and nulls dropped, with yields keeping a
    (possibly-null) slot wherever the paired product survives
    (extractor.py:879-923 alignment). This is the read-normalisation
    every merge (S6) applies before the clean pipeline."""
    from orderly_spark.schema import wide_to_array

    l = load(spark, sf_dir, "lineitem", fan_out=True).filter(F.col("l_orderkey") < MAX_RID)
    ln = F.col("l_linenumber")
    pk = F.col("l_partkey").cast("string")
    qty = F.floor(F.col("l_quantity")).cast("double")
    wide = l.groupBy(F.col("l_orderkey").alias("rid")).agg(
        F.coalesce(F.max(F.when(ln == 1, pk)), F.lit("<missing>")).alias("reactant_000"),
        F.max(F.when(ln == 2, pk)).alias("reactant_001"),
        F.coalesce(F.max(F.when(ln == 3, F.concat(F.lit("p"), pk))), F.lit("<missing>")).alias("product_000"),
        F.max(F.when(ln == 4, F.concat(F.lit("p"), pk))).alias("product_001"),
        F.max(F.when(ln == 3, qty)).alias("yield_000"),
        F.max(F.when(ln == 4, qty)).alias("yield_001"),
    )
    arr = wide_to_array(wide)
    return arr.select(
        "rid",
        _j("reactants").alias("r"),
        _j("products").alias("p"),
        F.concat_ws(
            ";", F.transform("yields", lambda y: F.coalesce(y.cast("string"), F.lit("NULL")))
        ).alias("y"),
    )


# ---------------------------------------------------------------------------
# U4/J3 — index-union of rare-offending rows across role columns
# ---------------------------------------------------------------------------

@query(
    "c_rare_offender_ids",
    oracle=f"""
    WITH {RX_SQL},
    counts AS (
      SELECT m, COUNT(*) AS cnt
      FROM (SELECT unnest({COND_CONCAT}) AS m FROM rx) GROUP BY m
    ),
    rare AS (SELECT m FROM counts WHERE cnt < 4)
    SELECT DISTINCT rid
    FROM (SELECT rid, unnest({COND_CONCAT}) AS m FROM rx) mem
    WHERE m IN (SELECT m FROM rare)
    """,
    category="clean",
    survey="U4,J3,A5",
)
def c_rare_offender_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U4 (cleaner.py:384-395): the union of row-index sets offending
    across the condition columns — materialised as the distinct id set
    the A5 anti-join consumes. Explode → broadcast-hash semi-join the
    rare set → distinct: every shuffle carries (id, molecule) pairs
    only, never rows."""
    rx = _reactions(spark, sf_dir)
    counts = C.condition_value_counts(rx)
    rare = counts.filter(F.col("count") < 4).select("molecule")
    members = rx.select(
        F.col("rid"),
        F.explode(F.concat(*[F.coalesce(F.col(r), F.array().cast("array<string>")) for r in C.CONDITION_ROLES])).alias("m"),
    )
    return (
        members.join(F.broadcast(rare), members["m"] == rare["molecule"], "left_semi")
        .select("rid")
        .distinct()
    )


# ---------------------------------------------------------------------------
# S5/S6/O1 — per-file parquet sink + merge with global original_index
# ---------------------------------------------------------------------------

@query(
    "c_merge_extracted_roundtrip",
    oracle=f"""
    WITH {RX_SQL},
    keyed AS (
      SELECT rid, 'f' || CAST(rid % 8 AS VARCHAR) AS file, CAST(rid AS VARCHAR) AS rxn
      FROM rx
    )
    SELECT rid,
           ROW_NUMBER() OVER (ORDER BY file, md5(rxn)) - 1 AS original_index
    FROM keyed
    """,
    category="clean",
    survey="S5,S6,O1,U1",
)
def c_merge_extracted_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5+S6 (main.py:223 + cleaner.py:98-135): the scaffold written
    through the per-file-partitioned parquet sink, then merged back by
    merge_extracted — the two-phase global index (per-file row_number +
    broadcast running-sum offsets) must reproduce the single-window
    total order (file asc, md5(rxn_str) asc) EXACTLY, through a real
    disk round trip of 8 partitions."""
    import tempfile

    from orderly_spark.sources.ord import write_extracted

    rx = _reactions(spark, sf_dir)
    keyed = rx.select(
        "rid",
        F.col("rid").cast("string").alias("rxn_str"),
        F.concat(F.lit("f"), (F.col("rid") % 8).cast("string")).alias("extracted_from_file"),
    )
    root = tempfile.mkdtemp(prefix="orderly_merge_rt_")
    d = root + "/extracted"
    write_extracted(keyed, d)
    merged = C.merge_extracted(spark, d)
    from orderly_spark.tables import materialize_then_clean

    return materialize_then_clean(merged.select("rid", "original_index"), root)


# ---------------------------------------------------------------------------
# S9 — train/test parquet sinks (disk round trip of the split)
# ---------------------------------------------------------------------------

@query(
    "c_split_sink_roundtrip",
    oracle=_split_oracle(RX_SQL),
    category="clean",
    survey="S9,F20,J4",
)
def c_split_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 (cleaner.py:1420-1425): the *_train.parquet / *_test.parquet
    sink pair — the split written to disk and read back, so the gate
    certifies the persisted artifacts, not just the in-plan frames."""
    import tempfile

    rx = _reactions(spark, sf_dir)
    train, test = C.train_test_split(rx, C.CleanConfig())
    d = tempfile.mkdtemp(prefix="orderly_split_sink_")
    train.write.parquet(f"{d}/benchmark_train.parquet")
    test.write.parquet(f"{d}/benchmark_test.parquet")
    tr = spark.read.parquet(f"{d}/benchmark_train.parquet").select("rid")
    te = spark.read.parquet(f"{d}/benchmark_test.parquet").select("rid")
    from orderly_spark.tables import materialize_then_clean

    return materialize_then_clean(
        tr.withColumn("split", F.lit("train")).unionByName(
            te.withColumn("split", F.lit("test"))
        ),
        d,
    )
