"""The extract pipeline composed end-to-end (SURVEY §3.1):

    scan_ord_files → decode_reactions → extract_reactions →
        write_extracted  (+ molecule-name side output)

``extract_reactions`` is the per-reaction transformation the reference
runs row-at-a-time in ``handle_reaction_object``
(orderly/extract/extractor.py:596-1073), composed from the pure
Catalyst expression builders in :mod:`orderly_spark.functions.rxn` —
one codegen'd pass over the decoded rows, no Python in the hot path.
Molecules stay as the decoder wrote them: extract does not
canonicalise (that is :func:`orderly_spark.functions.chem.
canonicalise_via_dimension`, a separate step).

Pipeline shape at scale: decode fans out one task per file; the
transform is map-only; the single shuffle is the molecule-name
distinct.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from orderly_spark.functions import rxn as R

_UNPAIRED_ROLES = ("reactants", "agents", "reagents", "solvents", "catalysts")
_ALL_ROLES = (*_UNPAIRED_ROLES, "products")


def _with_sql(df: DataFrame, exprs: dict[str, str]) -> DataFrame:
    """One stage: each column of ``exprs`` replaced (or added) by its
    SQL expression, all read from the columns as they were before it."""
    return df.withColumns({c: F.expr(e) for c, e in exprs.items()})


def extract_reactions(
    decoded: DataFrame,
    solvent_set: Column | None = None,
    trust_labelling: bool = False,
) -> DataFrame:
    """Columnar re-expression of handle_reaction_object
    (extractor.py:596-1073) over decoded reaction rows.

    - rxn-string path (trust_labelling=False): roles re-derived from
      the reaction string (F2), invalid strings dropped; labelled
      yields re-aligned to the parsed product order (J5).
    - labelled path (trust_labelling=True): keep the dataset's role
      labels as decoded.
    Then, both paths: numeric/empty identifier removal (P7/P8),
    per-role sorted-dedup (A2/O2), solvent/agent partition against the
    broadcast solvent set (J1), Pd/C support-carbon exception (P12),
    ice-temperature imputation (P13).

    Each stage is one ``withColumns`` of SQL expressions from
    :mod:`orderly_spark.functions.rxn`, so building the plan costs a
    few py4j round trips per column, not one per expression node.
    """
    df = decoded
    if not trust_labelling:
        df = df.filter(f"rxn_str IS NULL OR {R.rxn_is_valid('rxn_str')}")

        def parsed(expr: str, labelled: str) -> str:
            return f"CASE WHEN rxn_str IS NOT NULL THEN {expr} ELSE {labelled} END"

        # yields follow the parsed product order, looked up in the
        # labelled products this stage replaces
        df = _with_sql(df, {
            "yields": parsed(
                R.align_yields_to_products(R.rxn_role("rxn_str", 2), "products", "yields"), "yields"
            ),
            "reactants": parsed(R.rxn_role("rxn_str", 0), "reactants"),
            "agents": parsed(f"concat({R.rxn_role('rxn_str', 1)}, {R.arr_safe('agents')})", "agents"),
            "products": parsed(R.rxn_role("rxn_str", 2), "products"),
        })

    # P7 + P8, then A2/O2 sorted-dedup, on every role except products;
    # products and yields are parallel, so they are filtered as pairs
    # (extractor.py:879-923) through the zipped __pz
    stage = {
        r: f"array_sort(array_distinct({R.drop_numeric_identifiers(R.drop_empty_members(R.arr_safe(r)))}))"
        for r in _UNPAIRED_ROLES
    }
    stage["products"] = R.arr_safe("products")
    stage["yields"] = f"coalesce(yields, {R.EMPTY_DOUBLES})"
    df = _with_sql(df, stage)
    keep_product = f"_s.products IS NOT NULL AND _s.products != '' AND NOT ({R.is_number('_s.products')})"
    df = _with_sql(df, {"__pz": f"filter(arrays_zip(products, yields), _s -> {keep_product})"})
    df = _with_sql(df, {
        "products": "transform(__pz, _s -> _s.products)",
        "yields": "transform(__pz, _s -> _s.yields)",
    }).drop("__pz")

    if not trust_labelling:
        # J1: merge_to_agents (extractor.py:546-593) — in the rxn-string
        # path the labelled catalysts/solvents/reagents pool INTO agents,
        # the pool is partitioned against the solvent dimension, catalysts
        # and reagents are emptied, and agents get a stable TM-first order
        # (scramble later preserves agent order on exactly this premise,
        # cleaner.py:497-500)
        df = df.withColumn(
            "__solvent_set", solvent_set if solvent_set is not None else F.expr(R.EMPTY_STRINGS)
        )
        sv, ag = R.split_solvents_agents(
            "concat(agents, catalysts, solvents, reagents)", "__solvent_set"
        )
        df = _with_sql(df, {
            "solvents": sv,
            "agents": R.tm_first(ag),
            "reagents": R.EMPTY_STRINGS,
            "catalysts": R.EMPTY_STRINGS,
        }).drop("__solvent_set")
    else:
        # labelled path keeps the roles; catalysts still get TM-first
        # (extractor.py:1052-1056 — useful when the cleaner renames
        # catalysts to reagents)
        df = _with_sql(df, {"catalysts": R.tm_first("catalysts")})

    # P12: Pd/C support carbon (TM detection via the bracket-symbol scan).
    # P13: ice → 0 °C; removing 'C'/'[C]' never changes whether an ice
    # member is present, so both read the agents before P12.
    return _with_sql(df, {
        "agents": R.remove_pd_c_carbon("agents", f"exists(agents, _x -> {R.has_tm('_x')})", "procedure_details"),
        "temperature": R.impute_ice_temperature("temperature", "concat(agents, solvents)"),
    })


def _name_members() -> str:
    """Every role member of a row, as one array."""
    return f"concat({', '.join(R.arr_safe(r) for r in _ALL_ROLES)})"


def _is_unresolved_name(name: str) -> str:
    return f"{R.is_number(name)} OR {name} = ''"


def molecule_name_side_output(df: DataFrame) -> DataFrame:
    """S7/A1: identifiers that did not resolve to a molecule, read as
    'numeric or empty' members (decode keeps identifiers as written),
    distinct and sorted (main.py:54-89)."""
    names = df.selectExpr(f"explode({_name_members()}) AS name").where(_is_unresolved_name("name"))
    from orderly_spark.sources.ord import merge_molecule_names

    return merge_molecule_names(names)


def unresolved_names_agg() -> Column:
    """The names :func:`molecule_name_side_output` lists, as ONE sorted
    distinct array aggregate — for ``df.observe``, so the list comes
    from a job that already scans the rows."""
    per_row = f"filter({_name_members()}, _x -> {_is_unresolved_name('_x')})"
    return F.expr(f"array_sort(array_distinct(flatten(collect_set({per_row}))))")
