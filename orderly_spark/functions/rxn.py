"""Reaction-extraction functions (SURVEY §2.2/§2.3/§2.8, M3) as pure
Catalyst expressions — the reference implements each as row-at-a-time
Python inside ``orderly/extract/extractor.py``; here every one is a
whole-stage-codegen-able expression, so extraction runs JVM-side at
scan speed with no Python in the hot path.

Every builder takes Spark SQL operands (column names or expressions)
and returns one Spark SQL expression string. Wrap it in ``F.expr`` for
a Column, or compose it into a larger expression and ship a whole
stage as one ``selectExpr``/``withColumns``: a tree built in SQL text
crosses py4j once, where the same tree of Column builders crosses it
once per node. Operands are spliced in parenthesised, and lambda
variables carry a leading underscore (``_x``), so an operand may be
any expression over any columns not themselves named ``_x``, ``_p``,
``_s``, ``_l``, ``_r`` or ``_i``.

Reference parity, cited per function. Nothing here shuffles; the only
exchange in the extract pipeline is the optional distinct() for the
molecule-name side output (SURVEY §3.1).
"""

from __future__ import annotations

EMPTY_STRINGS = "CAST(array() AS ARRAY<STRING>)"
EMPTY_DOUBLES = "CAST(array() AS ARRAY<DOUBLE>)"


def sql_string(s: str) -> str:
    """``s`` as a Spark SQL string literal that reads back as exactly
    ``s``: backslash and quote are escaped, and the ``$`` of a ``${`` is
    written ``\\u0024``, since Spark substitutes ``${name}`` variables
    in the SQL text before it parses the literal."""
    body = s.replace("\\", "\\\\").replace("'", "\\'").replace("${", "\\u0024{")
    return f"'{body}'"


# regex operands, as SQL literals
_DOT = sql_string(r"\.")
_FILENAME_PUNCT = sql_string("[:\"']")
_GRANT_MONTH = sql_string(r"grants?-(\d{4}_\d{2})")
_HEX_FLOAT = sql_string("(?i)^[+-]?0x")
_JAVA_SUFFIX = sql_string("[0-9.][dDfF]$")
_BAD_UNDERSCORE = sql_string("(^_)|(_$)|(_[^0-9])|([^0-9]_)")


def arr_safe(arr: str) -> str:
    """Null-safe string array (null → empty array<string>)."""
    return f"coalesce({arr}, {EMPTY_STRINGS})"


# ---------------------------------------------------------------------------
# F1/S3/S4 — filename functions
# ---------------------------------------------------------------------------


def strip_filename(col: str) -> str:
    """F1 (extractor.py:23-26,55-65): normalise a dataset filename —
    '/'→'-fs-', strip ':' '"' "'", ' '→'_', '.'→'-', lowercase."""
    out = f"regexp_replace({col}, '/', '-fs-')"
    out = f"regexp_replace({out}, {_FILENAME_PUNCT}, '')"
    out = f"regexp_replace({out}, ' ', '_')"
    out = f"regexp_replace({out}, {_DOT}, '-')"
    return f"lower({out})"


def filename_contains(col: str, substring: str, inverse: bool = False) -> str:
    """S3 (extractor.py:84-95): keep/skip by normalised-name substring."""
    pred = f"contains({strip_filename(col)}, {sql_string(substring.lower())})"
    return f"NOT {pred}" if inverse else pred


def grant_date_from_filename(col: str) -> str:
    """S4 (extractor.py:78-81): 'uspto-grants-YYYY_MM' → timestamp.
    The reference parses with '%Y_%M' (minutes — a quirk it itself
    documents as a bug); we parse the intended 'yyyy_MM' month."""
    raw = f"regexp_extract({col}, {_GRANT_MONTH}, 1)"
    return f"try_to_timestamp(nullif({raw}, ''), 'yyyy_MM')"


# ---------------------------------------------------------------------------
# F2 — CXSMILES reaction-string split
# ---------------------------------------------------------------------------


def rxn_segments(rxn_str: str) -> str:
    """F2 (extractor.py:160-180): drop the CXSMILES extension
    (everything after the first space), then split on '>'. Valid
    reaction strings have exactly 3 segments; callers gate on
    :func:`rxn_is_valid`."""
    return f"split(split({rxn_str}, ' ')[0], '>')"


def rxn_is_valid(rxn_str: str) -> str:
    return f"size({rxn_segments(rxn_str)}) = 3"


def rxn_role(rxn_str: str, idx: int) -> str:
    """Segment idx∈{0:reactants, 1:agents, 2:products}, '.'-split into
    a molecule list (extractor.py:191-198); empty segment → []."""
    seg = f"get({rxn_segments(rxn_str)}, {int(idx)})"
    return (
        f"CASE WHEN {seg} IS NULL OR {seg} = '' THEN {EMPTY_STRINGS} "
        f"ELSE split({seg}, {_DOT}) END"
    )


# ---------------------------------------------------------------------------
# F6/F7/F8 — unit conversions
# ---------------------------------------------------------------------------

# control-type defaults (extractor.py:436-445)
TEMP_CONTROL_CELSIUS = {
    "AMBIENT": 25.0,
    "ICE_BATH": 0.0,
    "DRY_ICE": -78.5,
    "LIQUID_NITROGEN": -196.0,
}


def temperature_to_celsius(value: str, unit: str, control_type: str) -> str:
    """F6 (extractor.py:424-455): F→C, K→C, C passthrough; when no
    measurement, fall back to the control-type default."""
    measured = (
        f"CASE WHEN ({unit}) = 'FAHRENHEIT' THEN (({value}) - 32.0D) * 5.0D / 9.0D "
        f"WHEN ({unit}) = 'KELVIN' THEN ({value}) - 273.15D "
        f"WHEN ({unit}) = 'CELSIUS' THEN {value} END"
    )
    control = " ".join(f"WHEN {sql_string(k)} THEN {v!r}D" for k, v in TEMP_CONTROL_CELSIUS.items())
    return f"coalesce({measured}, CASE ({control_type}) {control} END)"


def time_to_hours(value: str, unit: str) -> str:
    """F7 (extractor.py:458-474): min/60, s/3600, day*24 → hours,
    rounded to 2 places with HALF_EVEN: the reference's Python round()
    is banker's rounding, so bround matches it at exactly-representable
    .xx5 boundaries (bround(0.125, 2) = 0.12 = Python; HALF_UP gives
    0.13). The oracle-side DBROUND macro rounds the same way. Residual
    ceiling documented on DBROUND: bround works on the double's
    shortest repr, Python on the true binary value — they still differ
    on non-dyadic ...5-printing doubles (2.675 → 2.68 vs Python 2.67)."""
    return (
        f"bround(CASE WHEN ({unit}) = 'MINUTE' THEN ({value}) / 60.0D "
        f"WHEN ({unit}) = 'SECOND' THEN ({value}) / 3600.0D "
        f"WHEN ({unit}) = 'DAY' THEN ({value}) * 24.0D "
        f"WHEN ({unit}) = 'HOUR' THEN {value} END, 2)"
    )


def yield_percentage(value: str, measurement_type: str) -> str:
    """F8 (extractor.py:404-408): type==PERCENTAGEYIELD → round(v,2).
    HALF_EVEN like the reference's Python round() — see
    :func:`time_to_hours` for the rounding contract."""
    return f"CASE WHEN ({measurement_type}) = 'PERCENTAGEYIELD' THEN bround({value}, 2) END"


# ---------------------------------------------------------------------------
# P7/F10 — numeric-identifier removal
# ---------------------------------------------------------------------------


def is_number(col: str) -> str:
    """F10 (extractor.py:754-771): parses as Python int()/float() —
    including the numeric-underscore rule ('1_000' IS a number, '1_' /
    '_1' / '1__0' are not: every underscore must sit between digits).
    A digit-sandwich regexp gate plus try_cast on the underscore-stripped
    string, MINUS the two Java-isms Spark's cast accepts but Python
    float() rejects: a trailing [dDfF] suffix after a digit/dot ('1d',
    '2.5f', '1e5d') and hex-float literals ('0x1p3'). DuckDB's TRY_CAST
    matches Python on both (and on inf/nan forms), so the engine and the
    oracle agree. Null is not a number."""
    t = f"trim({col})"
    return (
        f"CASE WHEN {t} RLIKE {_HEX_FLOAT} OR {t} RLIKE {_JAVA_SUFFIX} THEN false "
        f"WHEN contains({col}, '_') THEN NOT (({col}) RLIKE {_BAD_UNDERSCORE}) "
        f"AND try_cast(regexp_replace({col}, '_', '') AS DOUBLE) IS NOT NULL "
        f"ELSE try_cast({col} AS DOUBLE) IS NOT NULL END"
    )


def drop_numeric_identifiers(arr: str) -> str:
    """P7: strip members that parse as numbers from a role list."""
    return f"filter({arr}, _x -> NOT ({is_number('_x')}))"


def drop_empty_members(arr: str) -> str:
    """P8 (extractor.py:879-923), unpaired half: strip ''/null."""
    return f"filter({arr}, _x -> _x IS NOT NULL AND _x != '')"


# ---------------------------------------------------------------------------
# J1 — solvent/agent partition (set semi/anti join semantics)
# ---------------------------------------------------------------------------


def split_solvents_agents(components: str, solvent_set: str) -> tuple[str, str]:
    """J1 (extractor.py:546-593 merge_to_agents): partition a component
    list into (solvents ∈ set, agents ∉ set), each sorted-distinct
    (the reference set()s both sides). ``solvent_set`` is a sorted
    array from the broadcast solvent dimension — membership is a
    map-side array_contains, no shuffle at any scale.

    array_contains(set, NULL) is NULL, so the membership test is
    coalesced to false: a null component is an agent, as in the
    reference (None is not in the solvent set), instead of dropping
    out of both sides."""
    member = f"coalesce(array_contains({solvent_set}, _x), false)"
    solvents = f"array_sort(array_distinct(filter({components}, _x -> {member})))"
    agents = f"array_sort(array_distinct(filter({components}, _x -> NOT {member})))"
    return solvents, agents


# ---------------------------------------------------------------------------
# J5/O5 — yield↔product alignment
# ---------------------------------------------------------------------------


def align_yields_to_products(
    products: str, labelled_products: str, labelled_yields: str
) -> str:
    """J5 (extractor.py:519-543 match_yield_with_product): per-row
    first-match lookup — outcome yields keyed by their labelled product
    follow the rxn-string product order. array_position gives the
    reference's FIRST-match on duplicate labels (map_from_arrays would
    throw under Spark's duplicate-key policy); a nested loop in the
    reference, O(|products|²) worst-case per row here but never leaves
    the row — no shuffle."""
    return (
        f"transform({products}, _p -> "
        f"get({labelled_yields}, CAST(array_position({labelled_products}, _p) AS INT) - 1))"
    )


def sort_products_longest_first(products: str) -> str:
    """O5 ordering: descending SMILES length, ties lexicographic."""
    return (
        f"array_sort({products}, (_l, _r) -> "
        "CASE WHEN length(_l) > length(_r) THEN -1 WHEN length(_l) < length(_r) THEN 1 "
        "WHEN _l < _r THEN -1 WHEN _l > _r THEN 1 ELSE 0 END)"
    )


def yields_to_longest_product(products: str, single_yield: str) -> str:
    """O5 (extractor.py:409-419): sort products by descending SMILES
    length (ties lexicographic) and attach the lone yield to the first."""
    ordered = sort_products_longest_first(products)
    return (
        f"transform({ordered}, (_p, _i) -> "
        f"CASE WHEN _i = 0 THEN {single_yield} ELSE CAST(NULL AS DOUBLE) END)"
    )


# ---------------------------------------------------------------------------
# F5/O3 — transition metals
# ---------------------------------------------------------------------------

#: F5 (defaults.py:10-39): a bracket atom whose symbol has atomic number
#: 22-29, 40-47 or 72-79, after an optional isotope prefix ([106Pd]).
#: Every transition metal lies outside SMILES's organic subset, so it is
#: always written in brackets: on SMILES this equals the atomic-number
#: walk (tests/test_chem.py checks it against functions/smiles.py
#: molecule_has_tm), and it flags no plain-text name.
TM_SYMBOL_REGEX = (
    "\\[[0-9]*(Ti|V|Cr|Mn|Fe|Co|Ni|Cu|Zr|Nb|Mo|Tc|Ru|Rh|Pd|Ag|Hf|Ta|W|Re|Os|Ir|Pt|Au)"
)
_TM = sql_string(TM_SYMBOL_REGEX)


def has_tm(mol: str) -> str:
    """F5: molecule ``mol`` contains a transition metal; NULL for NULL.
    ``mol`` is spliced bare, so pass a column name, parameter or lambda
    variable."""
    return f"{mol} RLIKE {_TM}"


def tm_first(arr: str, is_tm=has_tm) -> str:
    """O3 (extractor.py:586-590, 1052-1056): stable reorder with the
    members satisfying ``is_tm`` (a builder from a member expression to
    a predicate) first, relative order otherwise preserved, as the
    reference's stable sorted(key=has_tm, reverse=True). A member whose
    predicate is NULL (a NULL member) falls out of both halves; extract
    reorders lists that hold none."""
    return f"concat(filter({arr}, _x -> {is_tm('_x')}), filter({arr}, _x -> NOT ({is_tm('_x')})))"


# ---------------------------------------------------------------------------
# F13 — reaction hash
# ---------------------------------------------------------------------------


def reaction_hash(reactants: str, products: str) -> str:
    """F13 (cleaner.py:913-924): '.'-join of the sorted reactants and
    the sorted products (null member → 'NULL', null list → empty),
    sha256'd for a fixed-width shuffle key (the reference keeps the raw
    string; hashing bounds the key size). The lambda bodies read no
    operand, so the variable ``x`` cannot capture a column."""
    roles = ", ".join(
        f"array_sort(transform({arr_safe(r)}, x -> coalesce(x, 'NULL')))" for r in (reactants, products)
    )
    return f"sha2(concat_ws('.', concat({roles})), 256)"


# ---------------------------------------------------------------------------
# P12/P13 — chemistry-knowledge exceptions
# ---------------------------------------------------------------------------


def _fold_ascii(col: str, keyword: str) -> str:
    """``col`` with the upper-case forms of ``keyword``'s ASCII letters
    folded to lower case: as good as ``lower(col)`` for matching the
    lower-case ASCII ``keyword`` (whole-string or substring). Outside
    ASCII only U+0130 (to 'i' + U+0307) and U+212A (to 'k') lower-case
    to anything holding ASCII (tests/test_extract.py checks every code
    point), and neither can spell a keyword here: the one 'i' comes with
    a combining dot, and no keyword has a 'k'. NULL stays NULL.

    ``lower`` is not used because Spark's first ICU case mapping in a
    JVM builds a table over every code point (~0.8 s of one core, with
    the other tasks of the job waiting on it), which every cold extract
    would pay for these two rules alone."""
    letters = sorted({c for c in keyword if c.isascii() and c.isalpha()})
    return f"translate({col}, '{''.join(letters).upper()}', '{''.join(letters)}')"


def remove_pd_c_carbon(agents: str, has_tm: str, procedure: str) -> str:
    """P12 (extractor.py:1024-1039): if any agent has a transition
    metal OR the procedure mentions charcoal, 'C'/'[C]' in agents is
    palladium-on-carbon support, not a reagent — remove it. The match
    is case-insensitive (see :func:`_fold_ascii`)."""
    cond = f"({has_tm}) OR coalesce(contains({_fold_ascii(procedure, 'charcoal')}, 'charcoal'), false)"
    return (
        f"CASE WHEN {cond} THEN array_remove(array_remove({agents}, 'C'), '[C]') "
        f"ELSE {agents} END"
    )


def impute_ice_temperature(temperature: str, identifiers: str) -> str:
    """P13 (extractor.py:341-343,1045-1048): an 'ice' / 'ice water'
    input with no measured temperature ⇒ 0 °C, matched
    case-insensitively (see :func:`_fold_ascii`)."""
    ice = f"exists({identifiers}, _x -> {_fold_ascii('_x', 'ice water')} IN ('ice', 'ice water'))"
    return f"coalesce({temperature}, CASE WHEN {ice} THEN 0.0D END)"


# ---------------------------------------------------------------------------
# F9 — date parsing
# ---------------------------------------------------------------------------


def parse_experiment_date(col: str) -> str:
    """F9 (extractor.py:484-499): 'MM/dd/yyyy', coerce-to-null."""
    return f"try_to_timestamp({col}, 'MM/dd/yyyy')"
