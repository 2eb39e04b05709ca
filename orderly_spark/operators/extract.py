"""The extract pipeline composed end-to-end (SURVEY §3.1):

    scan_ord_files → decode_reactions → extract_reactions →
        write_extracted  (+ molecule-name side output)

``extract_reactions`` is the per-reaction transformation the reference
runs row-at-a-time in ``handle_reaction_object``
(orderly/extract/extractor.py:596-1073), composed from the pure
Catalyst expression builders in :mod:`orderly_spark.functions.rxn` and
the chem dimension pattern in :mod:`orderly_spark.functions.chem` —
one codegen'd pass over the decoded rows, no Python in the hot path
except the (optional) canonicalisation dimension build.

Pipeline shape at scale: decode fans out one task per file; the
transform is map-only; the single shuffle is the molecule-name
distinct; canonicalisation touches only the distinct-molecule
dimension (broadcast back).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from orderly_spark.functions import rxn as R

# bracketed transition-metal symbol scan (atomic № 22-29, 40-47, 72-79
# — defaults.py:10-39), allowing an isotope prefix ([99Tc], [106Pd]);
# the RDKit-backed dimension supersedes this when the library is present
TM_SYMBOL_REGEX = (
    "\\[[0-9]*(Ti|V|Cr|Mn|Fe|Co|Ni|Cu|Zr|Nb|Mo|Tc|Ru|Rh|Pd|Ag|Hf|Ta|W|Re|Os|Ir|Pt|Au)"
)


def _tm_first(arr: Column) -> Column:
    """O3 stable reorder: TM-containing members first, relative order
    otherwise preserved (merge_to_agents sorted(key=has_tm,
    reverse=True) is a stable sort over the alphabetical list)."""
    return F.concat(
        F.filter(arr, lambda x: x.rlike(TM_SYMBOL_REGEX)),
        F.filter(arr, lambda x: ~x.rlike(TM_SYMBOL_REGEX)),
    )


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
    """
    df = decoded
    if not trust_labelling:
        valid = R.rxn_is_valid(F.col("rxn_str"))
        df = df.filter(F.col("rxn_str").isNull() | valid)
        has_rxn = F.col("rxn_str").isNotNull()
        parsed_products = R.rxn_role(F.col("rxn_str"), 2)
        df = (
            df.withColumn(
                "yields",
                F.when(
                    has_rxn,
                    R.align_yields_to_products(
                        parsed_products, F.col("products"), F.col("yields")
                    ),
                ).otherwise(F.col("yields")),
            )
            .withColumn(
                "reactants",
                F.when(has_rxn, R.rxn_role(F.col("rxn_str"), 0)).otherwise(F.col("reactants")),
            )
            .withColumn(
                "agents",
                F.when(
                    has_rxn,
                    F.concat(R.rxn_role(F.col("rxn_str"), 1), R._arr_safe("agents")),
                ).otherwise(F.col("agents")),
            )
            .withColumn(
                "products",
                F.when(has_rxn, parsed_products).otherwise(F.col("products")),
            )
        )

    # P7 + P8 on every role except products (whose yields are parallel)
    for role in ("reactants", "agents", "reagents", "solvents", "catalysts"):
        df = df.withColumn(
            role,
            R.drop_numeric_identifiers(R.drop_empty_members(R._arr_safe(role))),
        )
    # products↔yields: filter the pair together (extractor.py:879-923)
    pz = F.filter(
        F.arrays_zip(
            R._arr_safe("products").alias("p"),
            F.coalesce(F.col("yields"), F.array().cast("array<double>")).alias("y"),
        ),
        lambda s: s["p"].isNotNull() & (s["p"] != "") & ~R.is_number(s["p"]),
    )
    df = df.withColumn("__pz", pz)
    df = (
        df.withColumn("products", F.transform("__pz", lambda s: s["p"]))
        .withColumn("yields", F.transform("__pz", lambda s: s["y"]))
        .drop("__pz")
    )

    # A2/O2: sorted-dedup on unpaired roles
    for role in ("reactants", "agents", "reagents", "solvents", "catalysts"):
        df = df.withColumn(role, F.array_sort(F.array_distinct(F.col(role))))

    # J1: merge_to_agents (extractor.py:546-593) — in the rxn-string
    # path the labelled catalysts/solvents/reagents pool INTO agents,
    # the pool is partitioned against the solvent dimension, catalysts
    # and reagents are emptied, and agents get a stable TM-first order
    # (scramble later preserves agent order on exactly this premise,
    # cleaner.py:497-500)
    if not trust_labelling:
        comp = F.concat(
            F.col("agents"), F.col("catalysts"), F.col("solvents"), F.col("reagents")
        )
        sv, ag = R.split_solvents_agents(
            comp, solvent_set if solvent_set is not None else F.array().cast("array<string>")
        )
        df = (
            df.withColumn("solvents", sv)
            .withColumn("agents", _tm_first(ag))
            .withColumn("reagents", F.array().cast("array<string>"))
            .withColumn("catalysts", F.array().cast("array<string>"))
        )
    else:
        # labelled path keeps the roles; catalysts still get TM-first
        # (extractor.py:1052-1056 — useful when the cleaner renames
        # catalysts to reagents)
        df = df.withColumn("catalysts", _tm_first(F.col("catalysts")))

    # P12: Pd/C support carbon (TM detection via bracket-symbol scan —
    # the chem-UDF TM dimension can replace this flag when RDKit is on)
    has_tm = F.exists(F.col("agents"), lambda x: x.rlike(TM_SYMBOL_REGEX))
    df = df.withColumn(
        "agents", R.remove_pd_c_carbon(F.col("agents"), has_tm, F.col("procedure_details"))
    )

    # P13: ice → 0 °C
    df = df.withColumn(
        "temperature",
        R.impute_ice_temperature(
            F.col("temperature"), F.concat(F.col("agents"), F.col("solvents"))
        ),
    )
    return df


def _name_members() -> Column:
    """Every role member of a row, as one array."""
    return F.concat(
        *[R._arr_safe(r) for r in ("reactants", "agents", "reagents", "solvents", "catalysts", "products")]
    )


def _is_unresolved_name(name: Column) -> Column:
    return R.is_number(name) | (name == "")


def molecule_name_side_output(df: DataFrame) -> DataFrame:
    """S7/A1: identifiers that canonicalisation could not parse —
    with RDKit absent this degrades to 'numeric or empty', keeping the
    distinct+sort plumbing (main.py:54-89) testable."""
    names = df.select(F.explode(_name_members()).alias("name")).where(
        _is_unresolved_name(F.col("name"))
    )
    from orderly_spark.sources.ord import merge_molecule_names

    return merge_molecule_names(names)


def unresolved_names_agg() -> Column:
    """The names :func:`molecule_name_side_output` lists, as ONE sorted
    distinct array aggregate — for ``df.observe``, so the list comes
    from a job that already scans the rows."""
    per_row = F.filter(_name_members(), _is_unresolved_name)
    return F.array_sort(F.array_distinct(F.flatten(F.collect_set(per_row))))
