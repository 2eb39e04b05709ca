"""Extract-pipeline battery (SURVEY §2 M3: F1/F2/F6-F10, S4, J1, J5,
O3, O5, P7, P10, P12, P13) under the DuckDB gate.

Each query drives the real expression builders from
``orderly_spark.functions.rxn`` / ``sources.solvents`` over synthetic
inputs derived from testdata (reaction strings assembled from
lineitem part keys, unit enums from event types, filenames from order
keys) — assembled IDENTICALLY in the oracle CTE, so what the gate
certifies is the operator semantics.

All of these are pure expressions: zero shuffles beyond the scaffold
groupBy, fully inside WholeStageCodegen — extraction logic runs at
scan speed with no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orderly_spark.functions import rxn as R
from orderly_spark.functions.sql_registry import register_sql_functions
from orderly_spark.queries.clean_battery import RX_SQL, _reactions
from orderly_spark.registry import DBROUND, DROUND, query
from orderly_spark.sources import solvents as SV
from orderly_spark.tables import load


# ---------------------------------------------------------------------------
# F1 — filename normalisation
# ---------------------------------------------------------------------------

@query(
    "x_strip_filename",
    oracle="""
    SELECT doc_id,
           lower(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             source || '/Doc: ' || CAST(doc_id AS VARCHAR) || ' v1.2',
             '/', '-fs-', 'g'), '[:"'']', '', 'g'), ' ', '_', 'g'), '\\.', '-', 'g'))
             AS normalised
    FROM documents
    """,
    category="extract",
    survey="F1",
)
def x_strip_filename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 (extractor.py:23-26,55-65): chained replace normalisation as
    one codegen'd regexp pipeline."""
    d = load(spark, sf_dir, "documents")
    raw = "concat(source, '/Doc: ', CAST(doc_id AS STRING), ' v1.2')"
    return d.selectExpr("doc_id", f"{R.strip_filename(raw)} AS normalised")


# ---------------------------------------------------------------------------
# F2 — reaction-string parse (round-trip through the scaffold arrays)
# ---------------------------------------------------------------------------

RXNSTR_SQL = """
    rs AS (
      SELECT rid,
             CASE WHEN rid % 10 = 0
                  THEN COALESCE(array_to_string(reactants, '.'), '') || '>' ||
                       COALESCE(array_to_string(products, '.'), '')
                  ELSE COALESCE(array_to_string(reactants, '.'), '') || '>' ||
                       COALESCE(array_to_string(agents, '.'), '') || '>' ||
                       COALESCE(array_to_string(products, '.'), '') || ' |f:1.2|'
             END AS rxn
      FROM rx
    )
"""


@query(
    "x_rxn_string_parse",
    oracle=f"""
    WITH {RX_SQL}, {RXNSTR_SQL}
    SELECT rid,
           COALESCE(array_to_string(CASE WHEN seg[2] = '' THEN [] ELSE string_split(seg[2], '.') END, ','), '') AS agents_parsed,
           COALESCE(array_to_string(CASE WHEN seg[3] = '' THEN [] ELSE string_split(seg[3], '.') END, ','), '') AS products_parsed
    FROM (SELECT rid, string_split(string_split(rxn, ' ')[1], '>') AS seg FROM rs)
    WHERE len(seg) = 3
    """,
    category="extract",
    survey="F2",
)
def x_rxn_string_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 (extractor.py:160-198): CXSMILES split — drop extension,
    require exactly two '>', '.'-split each segment. Rows built with a
    missing agents segment (rid%10=0) are rejected by the validity
    gate, mirroring the reference's `continue`."""
    rx = _reactions(spark, sf_dir)
    rxn = F.when(
        (F.col("rid") % 10) == 0,
        F.concat(F.concat_ws(".", "reactants"), F.lit(">"), F.concat_ws(".", "products")),
    ).otherwise(
        F.concat(
            F.concat_ws(".", "reactants"),
            F.lit(">"),
            F.concat_ws(".", "agents"),
            F.lit(">"),
            F.concat_ws(".", "products"),
            F.lit(" |f:1.2|"),
        )
    )
    rs = rx.select("rid", rxn.alias("rxn"))
    return rs.filter(R.rxn_is_valid("rxn")).selectExpr(
        "rid",
        f"concat_ws(',', {R.rxn_role('rxn', 1)}) AS agents_parsed",
        f"concat_ws(',', {R.rxn_role('rxn', 2)}) AS products_parsed",
    )


# ---------------------------------------------------------------------------
# F6/F7 — unit conversions over the events stream table
# ---------------------------------------------------------------------------

@query(
    "x_unit_conversions",
    oracle=f"""
    SELECT event_id,
           CASE WHEN event_type = 'click' THEN (value - 32) * 5.0 / 9.0
                WHEN event_type = 'view' THEN value - 273.15
                WHEN event_type = 'purchase' THEN value
                WHEN event_type = 'signup' THEN 25.0
                WHEN event_type = 'error' THEN -78.5
           END AS celsius,
           {DBROUND('''CASE WHEN event_type = 'click' THEN value / 60.0
                      WHEN event_type = 'view' THEN value / 3600.0
                      WHEN event_type = 'error' THEN value * 24.0
                      ELSE value END''', 2)} AS hours
    FROM events
    """,
    category="extract",
    survey="F6,F7",
)
def x_unit_conversions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6/F7 (extractor.py:424-474): temperature F/K/C + control-type
    defaults, time min/s/day→hours with round(2) — event_type plays
    the unit enum."""
    e = load(spark, sf_dir, "events")
    unit = "CASE event_type WHEN 'click' THEN 'FAHRENHEIT' WHEN 'view' THEN 'KELVIN' WHEN 'purchase' THEN 'CELSIUS' END"
    control = "CASE event_type WHEN 'signup' THEN 'AMBIENT' WHEN 'error' THEN 'DRY_ICE' END"
    tunit = "CASE event_type WHEN 'click' THEN 'MINUTE' WHEN 'view' THEN 'SECOND' WHEN 'error' THEN 'DAY' ELSE 'HOUR' END"
    return e.selectExpr(
        "event_id",
        f"{R.temperature_to_celsius('value', unit, control)} AS celsius",
        f"{R.time_to_hours('value', tunit)} AS hours",
    )


# ---------------------------------------------------------------------------
# S4/F9 — date derivations
# ---------------------------------------------------------------------------

@query(
    "x_date_parsing",
    oracle=f"""
    WITH {RX_SQL}
    SELECT rid,
           strptime(CAST(1990 + rid % 20 AS VARCHAR) || '_' ||
                    lpad(CAST(1 + rid % 12 AS VARCHAR), 2, '0'), '%Y_%m') AS grant_date,
           CASE WHEN rid % 7 = 0 THEN NULL
                ELSE strptime(lpad(CAST(1 + rid % 12 AS VARCHAR), 2, '0') || '/' ||
                              lpad(CAST(1 + rid % 28 AS VARCHAR), 2, '0') || '/' ||
                              CAST(1990 + rid % 20 AS VARCHAR), '%m/%d/%Y')
           END AS exp_date
    FROM rx
    """,
    category="extract",
    survey="S4,F9",
)
def x_date_parsing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4+F9: grant date from a 'uspto-grants-YYYY_MM' filename
    (intended-month semantics; the reference's %Y_%M minutes quirk is
    documented divergence, SURVEY F9) and 'MM/dd/yyyy' experiment-date
    parse with coerce-to-null (rid%7 rows are unparseable junk)."""
    rx = _reactions(spark, sf_dir).select("rid")
    yy = (F.lit(1990) + F.col("rid") % 20).cast("string")
    mm = F.lpad((F.lit(1) + F.col("rid") % 12).cast("string"), 2, "0")
    dd = F.lpad((F.lit(1) + F.col("rid") % 28).cast("string"), 2, "0")
    fname = F.concat(F.lit("uspto-grants-"), yy, F.lit("_"), mm)
    datestr = F.when((F.col("rid") % 7) == 0, "not a date").otherwise(
        F.concat(mm, F.lit("/"), dd, F.lit("/"), yy)
    )
    return rx.select("rid", fname.alias("fname"), datestr.alias("datestr")).selectExpr(
        "rid",
        f"{R.grant_date_from_filename('fname')} AS grant_date",
        f"{R.parse_experiment_date('datestr')} AS exp_date",
    )


# ---------------------------------------------------------------------------
# P7/F10 — numeric-identifier removal
# ---------------------------------------------------------------------------

@query(
    "x_numeric_identifier_filter",
    oracle=f"""
    WITH {RX_SQL}
    SELECT rid,
           COALESCE(array_to_string(
             list_filter(reactants || ['35', 'x35', '1.5e3', '1_000', ''] ,
                         x -> TRY_CAST(x AS DOUBLE) IS NULL AND x <> ''), ','), '') AS kept
    FROM rx
    """,
    category="extract",
    survey="P7,P8,F10",
)
def x_numeric_identifier_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7+P8 (extractor.py:754-781, 879-923): strip numeric-parsing and
    empty identifiers from a role list. Pinned here: '1_000' and
    '1.5e3' ARE numbers (Python float() semantics incl. the
    digit-sandwiched-underscore rule, SURVEY F10), 'x35' is not."""
    rx = _reactions(spark, sf_dir)
    noisy = "concat(reactants, array('35', 'x35', '1.5e3', '1_000', ''))"
    kept = R.drop_empty_members(R.drop_numeric_identifiers(noisy))
    return rx.selectExpr("rid", f"concat_ws(',', {kept}) AS kept")


# ---------------------------------------------------------------------------
# J1 — solvent/agent partition against the broadcast dimension
# ---------------------------------------------------------------------------

@query(
    "x_solvent_agent_split",
    oracle=f"""
    WITH {RX_SQL},
    sset AS (
      SELECT list_sort(list_distinct(list('s' || CAST(s_suppkey AS VARCHAR)))) AS ss
      FROM supplier WHERE s_suppkey % 3 = 0
    )
    SELECT rid,
           COALESCE(array_to_string(list_sort(list_distinct(
             list_filter(agents || solvents, x -> list_contains(ss, x)))), ','), '') AS solvents_out,
           COALESCE(array_to_string(list_sort(list_distinct(
             list_filter(agents || solvents, x -> NOT list_contains(ss, x)))), ','), '') AS agents_out
    FROM rx, sset
    """,
    category="extract",
    survey="J1,U3",
)
def x_solvent_agent_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 (extractor.py:546-593 merge_to_agents): partition components
    into solvents (∈ dimension set) vs agents (∉), sorted-distinct each
    side. The set rides in via one broadcast row — membership is
    map-side array_contains at any scale."""
    rx = _reactions(spark, sf_dir)
    s = load(spark, sf_dir, "supplier").filter((F.col("s_suppkey") % 3) == 0)
    sset = s.agg(
        F.array_sort(
            F.array_distinct(F.collect_list(F.concat(F.lit("s"), F.col("s_suppkey").cast("string"))))
        ).alias("ss")
    )
    sv, ag = R.split_solvents_agents("concat(agents, solvents)", "ss")
    return rx.join(F.broadcast(sset)).selectExpr(
        "rid", f"concat_ws(',', {sv}) AS solvents_out", f"concat_ws(',', {ag}) AS agents_out"
    )


# ---------------------------------------------------------------------------
# J5 — yield↔product alignment
# ---------------------------------------------------------------------------

@query(
    "x_yield_product_alignment",
    oracle=f"""
    WITH {RX_SQL}
    SELECT rid,
           COALESCE(array_to_string(
             list_transform(products,
               p -> CAST(yields[list_position(list_reverse(products), p)] AS VARCHAR)),
             ','), '') AS aligned
    FROM rx WHERE len(products) > 0
    """,
    category="extract",
    survey="J5",
)
def x_yield_product_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 (extractor.py:519-543): outcome yields keyed by labelled
    product, re-ordered to rxn-string product order — labelled side is
    the reversed product list, so alignment must invert it. First-match
    per-row lookup, no shuffle."""
    rx = _reactions(spark, sf_dir).filter(F.size("products") > 0)
    aligned = R.align_yields_to_products("products", "reverse(products)", "yields")
    return rx.selectExpr(
        "rid", f"concat_ws(',', transform({aligned}, _y -> CAST(_y AS STRING))) AS aligned"
    )


# ---------------------------------------------------------------------------
# O3/P12/P13 — agent ordering + chemistry exceptions
# ---------------------------------------------------------------------------

@query(
    "x_tm_first_and_pd_c",
    oracle=f"""
    WITH {RX_SQL},
    tm AS (
      SELECT list_sort(list_distinct(list('s' || CAST(s_suppkey AS VARCHAR)))) AS ts
      FROM supplier WHERE s_suppkey % 4 = 0
    ),
    staged AS (
      SELECT rid,
             CASE WHEN len(list_filter(agents, x -> list_contains(ts, x))) > 0
                       OR rid % 5 = 0
                  THEN list_filter(agents || ['C'], x -> x <> 'C' AND x <> '[C]')
                  ELSE agents || ['C'] END AS cleaned,
             ts
      FROM rx
      CROSS JOIN tm
    )
    SELECT rid,
           COALESCE(array_to_string(
             list_filter(cleaned, x -> list_contains(ts, x)) ||
             list_filter(cleaned, x -> NOT list_contains(ts, x)), ','), '') AS agents_out
    FROM staged
    """,
    category="extract",
    survey="O3,P12",
)
def x_tm_first_and_pd_c(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P12 (extractor.py:1024-1039) + O3 (extractor.py:586-590): inject
    a support-carbon 'C' into every agent list; rows with a transition-
    metal agent (dimension membership) or a 'charcoal' procedure
    (rid%5) have it removed; then stable TM-first reorder."""
    rx = _reactions(spark, sf_dir)
    s = load(spark, sf_dir, "supplier").filter((F.col("s_suppkey") % 4) == 0)
    tm = s.agg(
        F.array_sort(
            F.array_distinct(F.collect_list(F.concat(F.lit("s"), F.col("s_suppkey").cast("string"))))
        ).alias("ts")
    )
    df = rx.join(F.broadcast(tm)).withColumn(
        "agents_c", F.concat(F.col("agents"), F.array(F.lit("C")))
    )

    def in_ts(m: str) -> str:
        return f"array_contains(ts, {m})"

    has_tm = f"exists(agents, _x -> {in_ts('_x')})"
    procedure = "CASE WHEN rid % 5 = 0 THEN 'heated over charcoal' END"
    cleaned = R.remove_pd_c_carbon("agents_c", has_tm, procedure)
    return df.select("rid", F.expr(f"concat_ws(',', {R.tm_first(cleaned, in_ts)})").alias("agents_out"))


@query(
    "x_ice_imputation",
    oracle=f"""
    WITH {RX_SQL}
    SELECT rid,
           CASE WHEN rid % 3 = 0 THEN CAST(rid % 40 AS DOUBLE)
                WHEN rid % 4 = 0 THEN 0.0
           END AS temperature
    FROM rx
    """,
    category="extract",
    survey="P13,F12",
)
def x_ice_imputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P13 (extractor.py:341-343,1045-1048): 'ice' identifier + null
    temperature ⇒ 0 °C; measured temperatures win."""
    rx = _reactions(spark, sf_dir)
    temp = "CASE WHEN rid % 3 = 0 THEN CAST(rid % 40 AS DOUBLE) END"
    idents = "CASE WHEN rid % 4 = 0 THEN array('Ice Water', 'x') ELSE array('x') END"
    return rx.selectExpr("rid", f"{R.impute_ice_temperature(temp, idents)} AS temperature")


# ---------------------------------------------------------------------------
# O5 — yield to longest product
# ---------------------------------------------------------------------------

@query(
    "x_yield_longest_product",
    oracle=f"""
    WITH {RX_SQL},
    ordered AS (
      SELECT rid, list(p ORDER BY length(p) DESC, p) AS op,
             CAST(rid % 100 AS DOUBLE) AS y
      FROM (SELECT rid, unnest(products) AS p FROM rx) GROUP BY rid
    )
    SELECT rid, op[1] AS longest,
           CAST(y AS VARCHAR) || repeat(',NULL', len(op) - 1) AS attached
    FROM ordered
    """,
    category="extract",
    survey="O5",
)
def x_yield_longest_product(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5 (extractor.py:409-419): multi-product single-yield — sort by
    descending SMILES length (custom array_sort comparator), attach the
    lone yield to the longest."""
    rx = _reactions(spark, sf_dir).filter(F.size("products") > 0)
    attached = R.yields_to_longest_product("products", "CAST(rid % 100 AS DOUBLE)")
    return rx.selectExpr(
        "rid",
        f"get({R.sort_products_longest_first('products')}, 0) AS longest",
        f"concat_ws(',', transform({attached}, _v -> coalesce(CAST(_v AS STRING), 'NULL'))) AS attached",
    )


# ---------------------------------------------------------------------------
# P10/J2/F11 — dictionary replacement via broadcast dimension
# ---------------------------------------------------------------------------

@query(
    "x_name_replacement",
    oracle=f"""
    WITH {RX_SQL},
    dim AS (
      SELECT list('s' || CAST(s_suppkey AS VARCHAR) ORDER BY s_suppkey) AS names,
             list('S' || CAST(s_suppkey AS VARCHAR) ORDER BY s_suppkey) AS vals
      FROM supplier WHERE s_suppkey % 4 = 1
    )
    SELECT rid,
           COALESCE(array_to_string(
             list_transform(agents, x ->
               COALESCE(vals[list_position(names, x)], x)), ','), '') AS agents_out
    FROM rx, dim
    """,
    category="extract",
    survey="P10,J2,F11",
)
def x_name_replacement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10/J2 (extractor.py:502-516 + solvents.py:32-69): molecule-name
    → canonical replacement through a broadcast map dimension;
    unmatched names pass through. The reference's dict.map becomes a
    per-row map lookup on one broadcast MapType value."""
    rx = _reactions(spark, sf_dir)
    s = load(spark, sf_dir, "supplier").filter((F.col("s_suppkey") % 4) == 1)
    dim = s.agg(
        F.map_from_arrays(
            F.collect_list(F.concat(F.lit("s"), F.col("s_suppkey").cast("string"))),
            F.collect_list(F.concat(F.lit("S"), F.col("s_suppkey").cast("string"))),
        ).alias("nmap")
    )
    out = rx.join(F.broadcast(dim)).withColumn(
        "agents_out",
        F.transform(
            F.col("agents"), lambda x: F.coalesce(F.try_element_at(F.col("nmap"), x), x)
        ),
    )
    return out.select("rid", F.concat_ws(",", "agents_out").alias("agents_out"))


# ---------------------------------------------------------------------------
# A1/U2/S7 — global distinct + sort of molecule names
# ---------------------------------------------------------------------------

@query(
    "x_distinct_sorted_names",
    oracle=f"""
    WITH {RX_SQL}
    SELECT DISTINCT m AS name
    FROM (SELECT unnest(reactants || agents) AS m FROM rx)
    ORDER BY name
    """,
    category="extract",
    survey="A1,U2,S7",
)
def x_distinct_sorted_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/U2 (main.py:54-89 merge_mol_names): the per-file name lists
    union into one globally distinct, sorted list — explode → distinct
    (one exchange, map-side partial) → sort. The CSV sink/source pair
    (S7, data/util.py:10-21) writes exactly this frame."""
    rx = _reactions(spark, sf_dir)
    return (
        rx.select(F.explode(F.concat("reactants", "agents")).alias("name"))
        .distinct()
        .orderBy("name")
    )


# ---------------------------------------------------------------------------
# F8 — yield extraction
# ---------------------------------------------------------------------------

@query(
    "x_yield_extraction",
    oracle=f"""
    SELECT event_id,
           CASE WHEN event_type IN ('click', 'view')
                THEN {DBROUND('value * 0.97', 2)}
           END AS yield_pct
    FROM events
    WHERE event_id % 7 = 0
    """,
    category="extract",
    survey="F8",
)
def x_yield_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 (extractor.py:404-408): measurement→percentage-yield mapping
    — only PERCENTAGEYIELD-typed measurements produce a value,
    round(2). Scaffold: 'click'/'view' events play PERCENTAGEYIELD."""
    e = load(spark, sf_dir, "events").filter((F.col("event_id") % 7) == 0)
    mtype = "CASE WHEN event_type IN ('click', 'view') THEN 'PERCENTAGEYIELD' ELSE event_type END"
    return e.selectExpr("event_id", f"{R.yield_percentage('value * 0.97D', mtype)} AS yield_pct")


# ---------------------------------------------------------------------------
# F5 (exact, r11) / O3 — transition-metal walk on the parsed graph
# ---------------------------------------------------------------------------

_ELEMS_SQL = "['Ti','Pd','Fe','W','Na','K','C','Rh']"


@query(
    "x_tm_isotope_scan",
    oracle=f"""
    WITH mols AS (
      SELECT p_partkey AS pk,
             'CC[' ||
             CASE WHEN p_partkey % 3 = 0 THEN CAST(50 + p_partkey % 150 AS VARCHAR) ELSE '' END ||
             {_ELEMS_SQL}[1 + p_partkey % 8] || ']O' AS mol
      FROM part WHERE p_partkey % 11 = 0
    )
    SELECT pk, mol,
           regexp_matches(mol, '\\[[0-9]*(Ti|V|Cr|Mn|Fe|Co|Ni|Cu|Zr|Nb|Mo|Tc|Ru|Rh|Pd|Ag|Hf|Ta|W|Re|Os|Ir|Pt|Au)') AS has_tm
    FROM mols
    """,
    category="extract",
    survey="F5,O3",
)
def x_tm_isotope_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 (defaults.py:10-39) through the ``has_transition_metal`` SQL
    function, the predicate extract's P12/O3 run (functions/rxn.py
    has_tm) — isotope prefixes ([106Pd]) included. Scaffold
    synthesises bracket molecules over a TM/non-TM symbol mix with
    isotope prefixes on every third key; the oracle writes the rule as
    DuckDB's regex over the same molecules."""
    register_sql_functions(spark)
    p = load(spark, sf_dir, "part").filter((F.col("p_partkey") % 11) == 0)
    elems = F.array(*[F.lit(s) for s in ["Ti", "Pd", "Fe", "W", "Na", "K", "C", "Rh"]])
    iso = F.when(
        (F.col("p_partkey") % 3) == 0, (F.lit(50) + F.col("p_partkey") % 150).cast("string")
    ).otherwise(F.lit(""))
    mol = F.concat(
        F.lit("CC["), iso, F.element_at(elems, (F.col("p_partkey") % 8 + 1).cast("int")), F.lit("]O")
    )
    return p.select(
        F.col("p_partkey").alias("pk"),
        mol.alias("mol"),
        F.call_function("has_transition_metal", mol).alias("has_tm"),
    )


# ---------------------------------------------------------------------------
# F14 (real on the parseable subset, r11) — Morgan fingerprints from the
# pure-Python SMILES graph parser
# ---------------------------------------------------------------------------

#: curated parseable molecules the fingerprint queries synthesise over
#: — TM complexes, aromatics, rings, isotopes, charges, disconnected
#: salts; every one inside the parser subset (pinned by test)
FP_TEMPLATES = [
    "CCO", "CC(=O)O", "c1ccccc1", "CC(=O)Nc1ccc(O)cc1",
    "[Pd]", "CC(=O)O[Cu]OC(C)=O", "Cl[Ni]Cl", "[106Pd]",
    "C1CCCCC1", "N#N", "O=C=O", "[Na+].[Cl-]",
    "C[Si](C)(C)Cl", "CCN(CC)CC", "OC(=O)c1ccccc1", "[NH4+].[NH4+].[S-2]",
]
_FP_TEMPLATES_SQL = "[" + ",".join("'" + t.replace("\\", "\\\\") + "'" for t in FP_TEMPLATES) + "]"


def _fp_literal_rows(n_bits: int, radius: int) -> str:
    """The replayed-kernel oracle rows: per-template fingerprint
    summary values computed AT REGISTRATION TIME by the same
    pure-Python kernel the Spark UDF runs (functions/smiles.py).

    Epistemics, stated plainly (the s_lsh replayed-training pattern):
    this gate certifies DETERMINISM of the kernel, the distinct→memo
    UDF plumbing, and that the Spark-side molecule synthesis matches
    the SQL's; the kernel's chemical correctness is established
    independently by tests/test_smiles.py (hand-derived graph truth,
    renumbering invariance, pinned literal values, skip-gated RDKit
    parity)."""
    import hashlib

    from orderly_spark.functions.smiles import morgan_fingerprint

    rows = []
    for t in FP_TEMPLATES:
        fp = morgan_fingerprint(t, radius=radius, n_bits=n_bits)
        assert fp is not None, t  # templates are parseable by construction
        h = hashlib.md5(",".join(map(str, fp)).encode()).hexdigest()
        nz = sum(1 for v in fp if v)
        rows.append(f"('{t}', '{h}', {nz}, {sum(fp)})")
    return ",\n      ".join(rows)


@query(
    "x_morgan_fp_parsed",
    oracle=f"""
    WITH tpl(mol, fp_md5, nz_bits, total_count) AS (
      VALUES {_fp_literal_rows(128, 2)}
    ),
    mols AS (
      SELECT p_partkey AS pk,
             {_FP_TEMPLATES_SQL}[1 + p_partkey % {len(FP_TEMPLATES)}] AS mol
      FROM part WHERE p_partkey % 5 = 0
    )
    SELECT pk, mols.mol AS mol, fp_md5, nz_bits, total_count
    FROM mols JOIN tpl ON mols.mol = tpl.mol
    """,
    category="extract",
    survey="F14,F15",
)
def x_morgan_fp_parsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F14 on the parseable subset (fingerprints.py:76-99 contract):
    REAL radius-2 Morgan/ECFP fingerprints from the pure-Python SMILES
    graph parser — counted features, env-dedup, blake2b chain — over a
    curated template dimension synthesised from part keys. Emits
    scalar summaries (md5 of the count vector, nonzero bins, total
    feature count) per the no-array-outputs oracle discipline. The
    oracle replays the kernel at registration time into a VALUES
    table (see _fp_literal_rows for what that does and does not
    certify)."""
    from orderly_spark.functions.chem import morgan_fingerprint_udf

    p = load(spark, sf_dir, "part").filter((F.col("p_partkey") % 5) == 0)
    tpl = F.array(*[F.lit(t) for t in FP_TEMPLATES])
    mol = F.element_at(tpl, (F.col("p_partkey") % len(FP_TEMPLATES) + 1).cast("int"))
    fp = morgan_fingerprint_udf(n_bits=128, radius=2)(mol)
    return p.select(
        F.col("p_partkey").alias("pk"),
        mol.alias("mol"),
        F.md5(F.concat_ws(",", F.transform(fp, lambda x: x.cast("string")))).alias("fp_md5"),
        F.size(F.filter(fp, lambda x: x != 0)).alias("nz_bits"),
        F.aggregate(fp, F.lit(0), lambda a, b: a + b).alias("total_count"),
    )


# ---------------------------------------------------------------------------
# F3 (real on the parseable subset, r12) — canonical SMILES from the
# pure-Python ranking + writer
# ---------------------------------------------------------------------------

#: respelled-twin groups: every spelling inside a group is the SAME
#: molecule written with a different atom order / start atom / ring
#: numbering (one group carries atom maps and is canonicalised with
#: stripping). Canonicalisation must collapse each group to ONE string.
CANON_GROUPS: list[tuple[str, list[str], bool]] = [
    ("ethanol", ["CCO", "OCC", "C(O)C"], False),
    ("acetic_acid", ["CC(=O)O", "OC(C)=O", "C(C)(=O)O"], False),
    ("toluene", ["Cc1ccccc1", "c1ccccc1C", "c1ccc(C)cc1"], False),
    ("paracetamol", ["CC(=O)Nc1ccc(O)cc1", "Oc1ccc(NC(C)=O)cc1"], False),
    ("benzoic_acid", ["OC(=O)c1ccccc1", "c1ccc(cc1)C(=O)O"], False),
    ("triethylamine", ["CCN(CC)CC", "N(CC)(CC)CC"], False),
    ("cyclohexane", ["C1CCCCC1", "C2CCCCC2"], False),
    ("nacl", ["[Na+].[Cl-]", "[Cl-].[Na+]"], False),
    ("pdcl2", ["Cl[Pd]Cl", "[Pd](Cl)Cl"], False),
    ("cu_acetate", ["CC(=O)O[Cu]OC(C)=O", "[Cu](OC(C)=O)OC(C)=O"], False),
    ("difluoroethene", ["FC=CF", "C(F)=CF"], False),
    ("tms_cl", ["C[Si](C)(C)Cl", "Cl[Si](C)(C)C"], False),
    ("mapped_ethanol", ["[CH3:1][CH2:2][OH:3]", "OCC", "CCO"], True),
    ("aspirin", ["CC(=O)Oc1ccccc1C(=O)O", "O=C(O)c1ccccc1OC(C)=O",
                 "CC(=O)OC1=CC=CC=C1C(=O)O"], False),
    # r13 Kekulé twins: aromaticity perception must collapse Kekulé and
    # aromatic spellings of one molecule (the reference's F3 via RDKit
    # does; this was the last semantic delta, VERDICT r12 item 2).
    # naphthalene carries TWO different Kekulé matchings — the verdict
    # must not depend on where the doubles landed.
    ("benzene", ["c1ccccc1", "C1=CC=CC=C1", "C=1C=CC=CC1"], False),
    ("pyridine", ["c1ccncc1", "C1=CC=NC=C1"], False),
    ("pyrrole", ["c1cc[nH]c1", "C1=CC=CN1"], False),
    ("thiophene", ["c1cccs1", "C1=CC=CS1"], False),
    ("naphthalene", ["c1ccc2ccccc2c1", "C1=CC=C2C=CC=CC2=C1",
                     "C1=CC2=CC=CC=C2C=C1"], False),
    ("pyridone2", ["O=c1cccc[nH]1", "O=C1C=CC=CN1"], False),
    ("imidazole", ["c1c[nH]cn1", "C1=CN=CN1"], False),
    # r13 rotation-orbit gate: a hetero-macrocycle respelled from two
    # rotations + the reflected walk (the r12 probe's fallback family,
    # now exact via the simple-cycle path)
    ("azamacrocycle36", ["N1" + "C" * 35 + "1",
                         "C1" + "C" * 17 + "N" + "C" * 17 + "1"], False),
    # r14 stereo gate (VERDICT item 2): same-enantiomer respellings
    # MUST collapse within each family, and the L vs D families MUST
    # stay DISTINCT (enforced by test_canon_groups_templates_consistent
    # pairwise-distinctness on the engine side, and by the replayed
    # canon VALUES on the oracle side). Spellings hand-derived by
    # OpenSMILES slot parity (tests/test_smiles.py derivations).
    ("l_alanine", ["N[C@@H](C)C(=O)O", "[C@H](N)(C)C(=O)O",
                   "C[C@@H](C(=O)O)N", "OC(=O)[C@H](C)N"], False),
    ("d_alanine", ["N[C@H](C)C(=O)O", "[C@@H](N)(C)C(=O)O",
                   "C[C@H](C(=O)O)N", "OC(=O)[C@@H](C)N"], False),
    # ring-closure stereo: digit moved across a branch = one slot
    # transposition, tag flips — same enantiomer
    ("fc_methylcyclopentane_r", ["F[C@]1(Cl)CC(C)CC1",
                                   "F[C@@](Cl)1CC(C)CC1"], False),
    ("fc_methylcyclopentane_s", ["F[C@@]1(Cl)CC(C)CC1",
                                   "F[C@](Cl)1CC(C)CC1"], False),
    # multi-centre: meso-tartaric is achiral — the @/@ and @@/@@
    # linear spellings are mirror images of ONE compound
    ("tartaric_meso", ["OC(=O)[C@H](O)[C@H](O)C(=O)O",
                       "OC(=O)[C@@H](O)[C@@H](O)C(=O)O"], False),
    ("tartaric_rr", ["OC(=O)[C@H](O)[C@@H](O)C(=O)O",
                     "O[C@@H](C(=O)O)[C@@H](O)C(=O)O"], False),
    # non-stereocentre tag: dropped, collapsing with the bare spelling
    ("neopentane_tagged", ["C[C@](C)(C)C", "CC(C)(C)C"], False),
    # r15 E/Z bond-stereo gate (VERDICT r14 item 2): same-isomer slash
    # respellings collapse (incl. the branch-form sign flip C(\F)=C/F
    # ≡ F/C=C/F per OpenSMILES §3.9.4) and E / Z / unspecified stay
    # pairwise DISTINCT. diene_ez pins the shared-slash CONSTRAINT
    # SYSTEM: the middle single bond's token serves both double bonds,
    # and EZ == ZE of the symmetric diene.
    ("dfe_trans", ["F/C=C/F", "F\\C=C\\F", "C(\\F)=C/F"], False),
    ("dfe_cis", ["F/C=C\\F", "F\\C=C/F", "C(/F)=C/F"], False),
    ("butene2_e", ["C/C=C/C", "C\\C=C\\C"], False),
    ("butene2_z", ["C/C=C\\C", "C\\C=C/C"], False),
    ("diene_ee", ["F/C=C/C=C/F", "F\\C=C\\C=C\\F"], False),
    ("diene_ez", ["F/C=C/C=C\\F", "F/C=C\\C=C\\F"], False),
    ("diene_zz", ["F/C=C\\C=C/F", "F\\C=C/C=C\\F"], False),
    ("imine_e", ["C/C=N/O", "C\\C=N\\O"], False),
    # honest drops: a gem-disubstituted end is not stereogenic; an
    # in-ring double bond drops its slashes (documented ceiling)
    ("gem_slash_dropped", ["C/C(C)=C/F", "CC(C)=CF"], False),
    ("ring_slash_dropped", ["C1/C=C/CCCCCCC1", "C1C=CCCCCCCC1"], False),
    # r15 stereo-aware refinement fixpoint + para rule (VERDICT r14
    # item 3, ADVICE r14 cyclohexane): dependent ring stereocentres
    # are KEPT — cis/trans-1,4-disubstituted cyclohexanes distinct,
    # both respelling-invariant; a lone tag in the symmetric ring
    # still drops; pseudo-asymmetric r/s kept on the meso backbone,
    # dropped on the chiral one.
    ("cyhex14_cis", ["C[C@H]1CC[C@@H](C)CC1", "C[C@@H]1CC[C@H](C)CC1"], False),
    ("cyhex14_trans", ["C[C@H]1CC[C@H](C)CC1", "C[C@@H]1CC[C@@H](C)CC1"], False),
    ("cyhex14_lone_tag_dropped", ["C[C@H]1CCC(C)CC1", "CC1CCC(C)CC1"], False),
    ("triol_meso_r", ["C[C@H](O)[C@H](O)[C@H](O)C",
                      "C[C@@H](O)[C@@H](O)[C@@H](O)C"], False),
    ("triol_meso_s", ["C[C@H](O)[C@@H](O)[C@H](O)C",
                      "C[C@@H](O)[C@H](O)[C@@H](O)C"], False),
    ("triol_chiral_c3_dropped", ["C[C@H](O)[C@H](O)[C@@H](O)C",
                                 "C[C@H](O)C(O)[C@@H](O)C"], False),
    # tetrahedral × E/Z in one molecule (odd-perm respell flips tag)
    ("stereo_ez_combo", ["C[C@H](O)/C=C/F", "F/C=C/[C@@H](O)C"], False),
]
#: flattened (group, spelling, strip-maps) variant table
CANON_VARIANTS: list[tuple[str, str, bool]] = [
    (gid, mol, mapped) for gid, mols, mapped in CANON_GROUPS for mol in mols
]


def _canon_literal_rows() -> str:
    """Replayed-kernel oracle rows (vid, gid, mol, canon) computed AT
    REGISTRATION TIME by the same pure-Python kernel the Spark UDF
    runs. Same epistemics as _fp_literal_rows: the canon VALUES certify
    kernel determinism + the distinct→memo UDF plumbing; chemical
    correctness of the writer is established independently by
    tests/test_smiles.py (idempotence, the randomized two-DFS
    spelling-invariance sweep, graph round-trips, skip-gated RDKit
    parity) — and the oracle's ``idem``/``n_canon_grp`` columns are
    hard-coded PROPERTY constants, so a non-idempotent or
    non-invariant kernel fails the driver gate outright."""
    from orderly_spark.functions.chem import _canonicalise_one
    from orderly_spark.functions.smiles import canonical_smiles

    rows = []
    for vid, (gid, mol, mapped) in enumerate(CANON_VARIANTS):
        # templates are inside the parser subset by construction — the
        # canon must come from the WRITER, never the identity fallback
        assert canonical_smiles(mol, strip_atom_map=mapped) is not None, mol
        canon = _canonicalise_one(mol, mapped)
        rows.append(f"({vid}, '{gid}', '{mol}', '{canon}')")
    return ",\n      ".join(rows)


@query(
    "x_canonical_smiles",
    oracle=f"""
    WITH tpl(vid, gid, mol, canon) AS (
      VALUES {_canon_literal_rows()}
    ),
    mols AS (
      SELECT p_partkey AS pk, p_partkey % {len(CANON_VARIANTS)} AS vid
      FROM part WHERE p_partkey % 7 = 0
    )
    SELECT pk, gid, mol, canon,
           TRUE AS idem,
           1 AS n_canon_grp
    FROM mols JOIN tpl USING (vid)
    """,
    category="extract",
    survey="F3",
)
def x_canonical_smiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 REAL on the parseable subset (canonicalise.py:12-72 contract),
    r12: canonical SMILES via Morgan-relaxation ranking + exhaustive
    tie-break + deterministic writer (functions/smiles.py
    canonical_smiles) over respelled-twin template groups synthesised
    from part keys. Two property columns are graded against ORACLE
    CONSTANTS, independent of the kernel replay: ``idem`` (a second
    canonicalisation pass must be a fixed point) and ``n_canon_grp``
    (every spelling of a group must collapse to exactly one canonical
    string — including the atom-mapped group, canonicalised with map
    stripping)."""
    from pyspark.sql import Window

    from orderly_spark.functions.chem import canonical_smiles_udf

    p = load(spark, sf_dir, "part").filter((F.col("p_partkey") % 7) == 0)
    gids = F.array(*[F.lit(g) for g, _m, _s in CANON_VARIANTS])
    mols = F.array(*[F.lit(m) for _g, m, _s in CANON_VARIANTS])
    maps = F.array(*[F.lit(s) for _g, _m, s in CANON_VARIANTS])
    vid = (F.col("p_partkey") % len(CANON_VARIANTS) + 1).cast("int")
    df = p.select(
        F.col("p_partkey").alias("pk"),
        F.element_at(gids, vid).alias("gid"),
        F.element_at(mols, vid).alias("mol"),
        F.element_at(maps, vid).alias("strip"),
    )
    canon = canonical_smiles_udf(F.struct(F.col("mol"), F.col("strip")))
    df = df.withColumn("canon", canon)
    canon2 = canonical_smiles_udf(F.struct(F.col("canon"), F.lit(False)))
    return df.select(
        "pk",
        "gid",
        "mol",
        "canon",
        (canon2 == F.col("canon")).alias("idem"),
        F.size(F.collect_set("canon").over(Window.partitionBy("gid"))).alias(
            "n_canon_grp"
        ),
    )


# ---------------------------------------------------------------------------
# F4 (fallback) — atom-map detection
# ---------------------------------------------------------------------------

@query(
    "x_atom_map_detect",
    oracle="""
    SELECT p_partkey AS pk,
           regexp_matches(
             CASE WHEN p_partkey % 3 = 0 THEN 'C[CH2:0]O'
                  WHEN p_partkey % 2 = 0
                  THEN 'C[CH2:' || CAST(1 + p_partkey % 9 AS VARCHAR) || ']O'
                  ELSE 'CC(=O)O' END,
             ':0*[1-9][0-9]*\\]') AS mapped
    FROM part WHERE p_partkey % 17 = 0
    """,
    category="extract",
    survey="F4",
)
def x_atom_map_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 fallback (extractor.py:249-253): atom-map annotations
    detected by the ':digits]' bracket-suffix regex — drives the
    is_mapped flag that gates canonicalisation's map stripping.
    r14: the synthesized dimension includes MAP CLASS 0 ('[CH2:0]'),
    which must read UNMAPPED (the RDKit GetAtomMapNum()==0 convention
    the parser follows — see functions/chem.has_atom_map; the
    reference's own regex fallback disagrees with its RDKit path
    here, and we side with the property check)."""
    from orderly_spark.functions.chem import has_atom_map

    p = load(spark, sf_dir, "part").filter((F.col("p_partkey") % 17) == 0)
    mol = F.when((F.col("p_partkey") % 3) == 0, F.lit("C[CH2:0]O")).when(
        (F.col("p_partkey") % 2) == 0,
        F.concat(F.lit("C[CH2:"), (F.lit(1) + F.col("p_partkey") % 9).cast("string"), F.lit("]O")),
    ).otherwise(F.lit("CC(=O)O"))
    return p.select(F.col("p_partkey").alias("pk"), has_atom_map(mol).alias("mapped"))


# ---------------------------------------------------------------------------
# S8/J1 — the REAL packaged solvents dimension (615 rows)
# ---------------------------------------------------------------------------

@query(
    "x_real_solvent_partition",
    oracle=f"""
    WITH dim AS (
      SELECT list(DISTINCT smiles ORDER BY smiles) AS sl
      FROM read_csv_auto('{SV.PACKAGED_SOLVENTS_CSV}', header=true)
      WHERE smiles IS NOT NULL
    ),
    comp AS (
      SELECT p_partkey AS pk,
             [CASE WHEN p_partkey % 4 = 0 THEN 'Qq' || CAST(p_partkey AS VARCHAR)
                   ELSE sl[1 + p_partkey % len(sl)] END,
              'Zz' || CAST(p_partkey AS VARCHAR)] AS members, sl
      FROM part, dim WHERE p_partkey % 19 = 0
    )
    SELECT pk,
           COALESCE(array_to_string(list_sort(list_distinct(list_filter(members, x -> list_contains(sl, x)))), ','), '') AS solvents_out,
           COALESCE(array_to_string(list_sort(list_distinct(list_filter(members, x -> NOT list_contains(sl, x)))), ','), '') AS agents_out
    FROM comp
    """,
    category="extract",
    survey="S8,J1,U3",
)
def x_real_solvent_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 (extractor.py:546-593 merge_to_agents) against the REAL
    packaged 615-row solvents dimension (S8, orderly/data/solvents.py:
    12-29): each scaffold row carries one dimension SMILES (or a
    known non-solvent on every 4th key) plus one synthetic agent; the
    set intersection/difference must route members exactly as the
    dimension dictates. The oracle reads the same CSV."""
    # the dimension rides as a broadcast ONE-ROW array column (the J1
    # shape of sources/solvents.solvent_smiles_set), and its size is
    # F.size() on that same column, so no driver job touches the CSV
    dim = SV.default_solvents(spark)
    sset = SV.solvent_smiles_set(
        dim.select("smiles").where(F.col("smiles").isNotNull()).distinct()
    )
    p = (
        load(spark, sf_dir, "part")
        .filter((F.col("p_partkey") % 19) == 0)
        .crossJoin(F.broadcast(sset))
    )
    pk = F.col("p_partkey")
    first = F.when(
        (pk % 4) == 0, F.concat(F.lit("Qq"), pk.cast("string"))
    ).otherwise(
        F.element_at(
            F.col("solvent_set"),
            (pk % F.size(F.col("solvent_set")) + 1).cast("int"),
        )
    )
    members = F.array(first, F.concat(F.lit("Zz"), pk.cast("string")))
    solv, agents = R.split_solvents_agents("members", "solvent_set")
    return p.select(pk.alias("pk"), members.alias("members"), "solvent_set").selectExpr(
        "pk", f"concat_ws(',', {solv}) AS solvents_out", f"concat_ws(',', {agents}) AS agents_out"
    )


# ---------------------------------------------------------------------------
# S1/S3/S2-plumbing — directory scan with source-level pruning + decode
# ---------------------------------------------------------------------------

@query(
    "x_ord_scan_prune_decode",
    # The oracle replays the per-reaction decode arithmetic over the
    # same nation-keyed fixture formulas. Float discipline: fixture
    # values are f32-exact integers, so the F/K conversions are single
    # IEEE expressions evaluated in the same order on both sides, and
    # the time fractions are correctly-rounded rationals (j/10, j/100)
    # whose Python round(x, 2) is the identity on the double.
    oracle="""
    WITH k AS (SELECT DISTINCT n_nationkey AS k FROM nation WHERE n_nationkey % 5 != 0)
    SELECT 'keep_' || CAST(k AS VARCHAR) || '.pb.gz' AS file,
           'C>' || repeat('N', k % 3 + 1) || '>O' || CAST(k AS VARCHAR) AS rxn,
           CAST((k % 2 = 0) AS VARCHAR) AS mapped,
           'CC.N' || CAST(k AS VARCHAR) AS reactants,
           'CCO' AS reagents,
           'O' AS solvents,
           CASE WHEN k % 3 = 0 THEN '[Pd]' ELSE '' END AS catalysts,
           '[OO' || CAST(k AS VARCHAR) || '-].[Na+].OCC' AS products,
           CAST((k * 3) % 100 AS VARCHAR) || '._._' AS yields_pct,
           CASE k % 4
             WHEN 0 THEN CASE WHEN k % 8 = 0 THEN 0.0 ELSE 25.0 END
             WHEN 1 THEN CAST(k AS DOUBLE)
             WHEN 2 THEN (CAST(k AS DOUBLE) - 32) * 5 / 9
             WHEN 3 THEN CAST(k AS DOUBLE) - 273.15
           END AS temp_c,
           CASE k % 5
             WHEN 1 THEN CAST(k % 9 AS DOUBLE)
             WHEN 2 THEN CAST(k % 10 AS DOUBLE) / 10
             WHEN 3 THEN CAST(k % 7 AS DOUBLE) / 100
             WHEN 4 THEN CAST((k % 3) * 24 AS DOUBLE)
           END AS time_h,
           'proc ' || CAST(k AS VARCHAR) AS proc,
           CASE WHEN k % 7 = 3 THEN CAST(NULL AS TIMESTAMP)
                WHEN k % 2 = 0 THEN TIMESTAMP '2023-06-15'
                ELSE CAST(NULL AS TIMESTAMP) END AS exp_date
    FROM k
    UNION ALL
    SELECT 'keep_' || CAST(k AS VARCHAR) || '.pb.gz' AS file,
           CAST(NULL AS VARCHAR) AS rxn, CAST(NULL AS VARCHAR) AS mapped,
           '' AS reactants, '' AS reagents, '' AS solvents, '' AS catalysts,
           '' AS products, '' AS yields_pct,
           CAST(NULL AS DOUBLE) AS temp_c, CAST(NULL AS DOUBLE) AS time_h,
           '' AS proc, CAST(NULL AS TIMESTAMP) AS exp_date
    FROM k
    """,
    category="extract",
    survey="S1,S3,S2",
)
def x_ord_scan_prune_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1+S3 (main.py:27-51): binaryFile scan with pathGlobFilter and an
    inverse file-name predicate — pruned files are never decoded —
    then the one-to-many mapInPandas decode (S2, extractor.py:103-500)
    over REAL gzipped wire-format ``Dataset`` protobufs built by the
    :mod:`~orderly_spark.sources.ord_wire` encoder and decoded by its
    pure-Python protobuf codec. One dataset file per
    nation, each holding a feature-rich reaction (role buckets, dotted
    SMILES, yield padding, every temperature/time unit family, strict
    date parse) plus a degenerate reaction (invalid rxn string, no
    inputs/outcomes); every 5th file is named 'skip_*' and must be
    pruned at the source."""
    import os
    import tempfile

    from orderly_spark.sources import ord_wire as W
    from orderly_spark.sources.ord import decode_reactions, scan_ord_files

    # DISTINCT: one fixture FILE per nation KEY. Without it a duplicate
    # n_nationkey (r11 adversarial-relational corpus) silently
    # overwrites its own file here while the oracle's row-per-row CTE
    # counts it twice — both sides must key on the distinct set.
    n = load(spark, sf_dir, "nation").select("n_nationkey").distinct().collect()
    root = tempfile.mkdtemp(prefix="orderly_ord_scan_")
    for row in n:
        k = row.n_nationkey
        prefix = "skip_" if k % 5 == 0 else "keep_"
        if k % 7 == 3:
            exp = "99/99/9999"  # unparseable → None (errors='coerce')
        elif k % 2 == 0:
            exp = "06/15/2023"
        else:
            exp = ""
        time_units = k % 5
        time_value = {
            1: float(k % 9),          # hours
            2: float(6 * (k % 10)),   # minutes → (k%10)/10 h
            3: float(36 * (k % 7)),   # seconds → (k%7)/100 h
            4: float(k % 3),          # days → (k%3)*24 h
        }.get(time_units)
        temp_kw = (
            {"temp_control_type": 6 if k % 8 == 0 else 2}
            if k % 4 == 0
            else {"temp_value": float(k), "temp_units": k % 4}
        )
        m1 = [
            W.encode_compound([(2, f"CC.N{k}")], 1),   # reactant, dotted
            W.encode_compound([(2, "CCO")], 2),         # reagent
            W.encode_compound([(2, "O")], 3),           # solvent
            W.encode_compound([(2, "WWW")], 5),         # workup → skipped
        ]
        m2 = [W.encode_compound([(2, "[Pd]")], 4)] if k % 3 == 0 else []
        rich = W.encode_reaction(
            cxsmiles=f"C>{'N' * (k % 3 + 1)}>O{k} |f:1|",
            is_mapped=(k % 2 == 0),
            inputs=[("m1", m1)] + ([("m2", m2)] if m2 else []),
            products=[(f"[Na+].[OO{k}-]", float((k * 3) % 100)), ("OCC", None)],
            time_value=time_value,
            time_units=time_units,
            procedure_details=f"proc {k}",
            experiment_start=exp,
            **temp_kw,
        )
        degenerate = W.encode_reaction(cxsmiles="CC>O", with_outcome=False)
        path = os.path.join(root, f"{prefix}{k}.pb.gz")
        with open(path, "wb") as fh:
            fh.write(W.dataset_pb_gz([rich, degenerate], name=f"ds{k}"))
    # decoy that must be excluded by the glob, not the substring
    with open(os.path.join(root, "keep_readme.txt"), "w") as fh:
        fh.write("not a dataset")
    files = scan_ord_files(spark, root, glob="*.pb.gz", name_contains="skip_", inverse=True)
    decoded = decode_reactions(files)  # default = the protobuf wire codec
    from orderly_spark.tables import materialize_then_clean

    def joined(col: str) -> F.Column:
        return F.concat_ws(".", F.col(col))

    return materialize_then_clean(
        decoded.select(
            F.col("extracted_from_file").alias("file"),
            F.col("rxn_str").alias("rxn"),
            # stringified: a nullable BOOLEAN arrives from DuckDB's
            # fetchdf as float NaN and the comparator sees dtype drift
            F.col("is_mapped").cast("string").alias("mapped"),
            joined("reactants").alias("reactants"),
            joined("reagents").alias("reagents"),
            joined("solvents").alias("solvents"),
            joined("catalysts").alias("catalysts"),
            joined("products").alias("products"),
            F.concat_ws(
                ".",
                F.transform(
                    "yields",
                    lambda y: F.coalesce(y.cast("int").cast("string"), F.lit("_")),
                ),
            ).alias("yields_pct"),
            F.col("temperature").alias("temp_c"),
            F.col("rxn_time").alias("time_h"),
            F.col("procedure_details").alias("proc"),
            F.col("date_of_experiment").alias("exp_date"),
        ),
        root,
    )


# ---------------------------------------------------------------------------
# S7 — name-list CSV sink/source round trip
# ---------------------------------------------------------------------------

@query(
    "x_name_list_csv_roundtrip",
    oracle=f"""
    WITH {RX_SQL}
    SELECT DISTINCT m AS name
    FROM (SELECT unnest(agents) AS m FROM rx)
    ORDER BY name
    """,
    category="extract",
    survey="S7,A1,U2",
)
def x_name_list_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 (data/util.py:10-21): the sorted distinct name list written
    to its CSV sink and read back through the CSV source — certifies
    the round trip, not just the aggregation."""
    import tempfile

    from orderly_spark.sources.ord import load_name_list, merge_molecule_names, save_name_list

    rx = _reactions(spark, sf_dir)
    names = merge_molecule_names(rx.select(F.explode("agents").alias("name")))
    root = tempfile.mkdtemp(prefix="orderly_names_")
    path = root + "/names"
    save_name_list(names, path)
    from orderly_spark.tables import materialize_then_clean

    return materialize_then_clean(load_name_list(spark, path), root)


# ---------------------------------------------------------------------------
# S12 — JSON config sink (lineage metadata)
# ---------------------------------------------------------------------------

@query(
    "x_config_json_roundtrip",
    oracle="""
    SELECT * FROM (VALUES
      ('consistent_yield', 'true'),
      ('min_frequency_of_occurrence', '100'),
      ('num_agent', '3'),
      ('num_reactant', '5'),
      ('train_test_split_fraction', '0.9')
    ) AS t(key, value) ORDER BY key
    """,
    category="extract",
    survey="S12",
)
def x_config_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12 (main.py:597-610 / cleaner.py:1325-1347): the reproducibility
    config dumped as JSON and read back through the JSON source —
    stringified key/value view so the oracle is engine-neutral."""
    import json
    import os
    import tempfile

    cfg = {
        "num_reactant": 5,
        "num_agent": 3,
        "min_frequency_of_occurrence": 100,
        "consistent_yield": True,
        "train_test_split_fraction": 0.9,
    }
    d = tempfile.mkdtemp(prefix="orderly_cfg_")
    p = os.path.join(d, "clean_config.json")
    with open(p, "w") as fh:
        json.dump(cfg, fh)
    j = spark.read.json(p)
    pairs = [
        F.struct(F.lit(k).alias("key"), F.col(k).cast("string").alias("value"))
        for k in sorted(cfg)
    ]
    from orderly_spark.tables import materialize_then_clean

    return materialize_then_clean(
        j.select(F.explode(F.array(*pairs)).alias("kv"))
        .select(
            F.col("kv.key").alias("key"),
            F.lower(F.col("kv.value")).alias("value"),
        )
        .orderBy("key"),
        d,
    )


# ---------------------------------------------------------------------------
# Canon-version lineage guard (r15, VERDICT r14 item 6)
# ---------------------------------------------------------------------------

def _canon_guard_oracle() -> str:
    """Oracle rendered at registration with the LIVE CANON_VERSION
    inlined — if the engine constant and the registered constant ever
    diverge mid-session, the gate catches the drift."""
    from orderly_spark.functions.smiles import CANON_VERSION
    from orderly_spark.queries.relational import _HEX2BIG

    h = "md5('epoch:' || p_brand)"
    bit = f"({_HEX2BIG(h, 8)} % 2)"
    return f"""
    SELECT p_brand AS brand,
           count(*) AS n_rows,
           CAST({CANON_VERSION} - {bit} AS INTEGER) AS stamped_version,
           CAST({CANON_VERSION} AS INTEGER) AS live_version,
           {bit} <> 0 AS stale
    FROM part GROUP BY p_brand ORDER BY brand
    """


@query(
    "x_canon_version_guard",
    oracle=_canon_guard_oracle(),
    category="extract",
    survey="F3",
)
def x_canon_version_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-canonicalisation VERSION guard (VERDICT r14 item 6): joins a
    persisted store's per-partition ``canon_version`` stamps (S12
    writes the stamp — ``cli.py _dump_config`` records
    ``smiles.CANON_VERSION``) against the LIVE engine constant and
    reports stale partitions. CANON_VERSION has bumped three times in
    three rounds (2=r13 perception, 3=r14 tetrahedral, 4=r15 E/Z +
    fixpoint); at 100 TB the realistic failure is a silent epoch mix —
    canonical strings from different engine versions joined as if
    comparable. The two-epoch store is SYNTHESIZED deterministically
    (partition = p_brand; stamped epoch = live − md5-parity bit), so
    the guard exercises both the stale and current branches at every
    scale.

    Scale shape: the guard is MANIFEST-grain — one (partition-key)
    aggregate (25 brands here; file/partition metadata in a real
    lake), a map-side literal comparison, no second scan and no
    joins. A real lakehouse reads the stamps from the manifest sink
    rather than re-counting facts; the count here doubles as the
    re-canonicalisation workload estimate per stale partition."""
    from orderly_spark.functions.smiles import CANON_VERSION

    p = load(spark, sf_dir, "part")
    bit = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("epoch:"), F.col("brand"))), 1, 8),
            16,
            10,
        ).cast("long")
        % 2
    )
    return (
        p.groupBy(F.col("p_brand").alias("brand"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(
            "brand",
            "n_rows",
            (F.lit(CANON_VERSION) - bit).cast("int").alias("stamped_version"),
            F.lit(CANON_VERSION).cast("int").alias("live_version"),
            (bit != 0).alias("stale"),
        )
        .orderBy("brand")
    )
