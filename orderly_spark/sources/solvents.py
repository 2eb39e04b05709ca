"""Solvent dimension table (SURVEY S8, J1's broadcast side).

The reference ships a 615-row solvents.csv (3 name columns, CAS,
formula, SMILES; orderly/data/solvents.py:12-29) and builds two
lookup structures from it: a lower-cased name→canonical-SMILES dict
(solvents.py:32-69) and a canonical-SMILES membership set
(extractor.py:546-593). Here both are DataFrames: dimension tables a
few KB in size, broadcast to every executor — dict lookup becomes a
broadcast hash join, set membership a broadcast array/semi-join.

The full 615-row dimension ships with the engine
(``orderly_spark/data/solvents.csv``) — it is public DATA from the
public reference repo (rows sourced from doi.org/10.1039/C9SC01844A,
per its ``source`` column), not code; ``default_solvents`` loads it,
and ``packaged_solvent_smiles`` parses its SMILES set on the driver
(the set extract ships is then a literal built with no Spark job).
`SAMPLE_SOLVENTS` remains as a tiny in-code seed for unit tests, and
`load_solvents_csv` reads any CSV with the reference's column layout.
"""

from __future__ import annotations

import csv
import functools
import os
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from orderly_spark.functions.rxn import sql_string

PACKAGED_SOLVENTS_CSV = os.path.join(os.path.dirname(os.path.dirname(__file__)), "data", "solvents.csv")

# (name, alt_name, smiles) — common solvents, public knowledge
SAMPLE_SOLVENTS = [
    ("water", "H2O", "O"),
    ("methanol", "MeOH", "CO"),
    ("ethanol", "EtOH", "CCO"),
    ("tetrahydrofuran", "THF", "C1CCOC1"),
    ("dichloromethane", "DCM", "ClCCl"),
    ("chloroform", None, "ClC(Cl)Cl"),
    ("acetonitrile", "MeCN", "CC#N"),
    ("toluene", None, "Cc1ccccc1"),
    ("dimethylformamide", "DMF", "CN(C)C=O"),
    ("dimethyl sulfoxide", "DMSO", "CS(C)=O"),
    ("ethyl acetate", "EtOAc", "CCOC(C)=O"),
    ("diethyl ether", "Et2O", "CCOCC"),
    ("acetone", None, "CC(C)=O"),
    ("1,4-dioxane", "dioxane", "C1COCCO1"),
    ("hexane", None, "CCCCCC"),
]


def sample_solvents(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        SAMPLE_SOLVENTS, "solvent_name string, alt_name string, smiles string"
    )


def load_solvents_csv(spark: SparkSession, path: str) -> DataFrame:
    """S8: read a reference-layout solvents CSV (header row; columns
    incl. solvent_name_1..3 / cas_number / smiles)."""
    # multiLine: the table has quoted fields containing line breaks;
    # without it the line-splitting fast path yields phantom rows.
    # (multiLine reads a file in one task — irrelevant for a ~60 KB
    # dimension; never use it on fact-sized CSVs.)
    return spark.read.option("header", "true").option("multiLine", "true").csv(path)


def default_solvents(spark: SparkSession) -> DataFrame:
    """The full packaged 615-row dimension (reference parity:
    orderly/data/solvents.py:12-29 reads the same table via pkgutil).
    Broadcast-sized at any fact scale."""
    return load_solvents_csv(spark, PACKAGED_SOLVENTS_CSV)


def name_to_smiles_map(solvents: DataFrame) -> DataFrame:
    """The name→SMILES replacement dimension (solvents.py:32-69):
    every name column melted, lower-cased (F11), distinct. Used as the
    broadcast side of the P10/J2 replacement join."""
    name_cols = [c for c in solvents.columns if "name" in c.lower()]
    stacked = solvents.select(
        F.explode(F.array(*[F.col(c) for c in name_cols])).alias("name"),
        F.col("smiles"),
    )
    return (
        stacked.where(F.col("name").isNotNull() & F.col("smiles").isNotNull())
        .select(F.lower(F.col("name")).alias("name"), "smiles")
        .distinct()
    )


def solvent_smiles_set(solvents: DataFrame) -> DataFrame:
    """One-row DataFrame holding the sorted canonical-SMILES array —
    the J1 membership set, cross-joined (broadcast) onto facts for
    map-side `array_contains` tests."""
    return solvents.agg(
        F.array_sort(F.collect_set("smiles")).alias("solvent_set")
    )


@functools.cache
def packaged_solvent_smiles() -> tuple[str, ...]:
    """The packaged dimension's J1 membership set, parsed on the driver:
    the same sorted distinct SMILES that ``solvent_smiles_set`` collects
    from ``default_solvents`` (an empty field is NULL to Spark's CSV
    reader, and ``collect_set`` drops it; Python's code-point order is
    Spark's UTF-8 byte order), without the read and collect jobs."""
    with open(PACKAGED_SOLVENTS_CSV, newline="", encoding="utf-8") as fh:
        return tuple(sorted({r["smiles"] for r in csv.DictReader(fh) if r["smiles"]}))


def smiles_set_literal(smiles: Sequence[str]) -> Column | None:
    """A J1 membership set shipped as ONE literal array expression (None
    when the set is empty). The set is written as SQL text and parsed
    JVM-side, so building it costs O(1) py4j round trips whatever its
    size; a Column built one ``F.lit`` per member costs ~4 per member."""
    return F.expr(f"array({', '.join(map(sql_string, smiles))})") if smiles else None


def solvent_set_literal(solvents: DataFrame) -> Column | None:
    """The J1 membership set of a dimension frame, collected once and
    shipped by :func:`smiles_set_literal`."""
    return smiles_set_literal(solvent_smiles_set(solvents).collect()[0].solvent_set)


def apply_name_replacements(
    arr: Column, name_map: Column
) -> Column:
    """P10/J2 (extractor.py:502-516): map each member through the
    replacement map (a MapType column built once from the dimension and
    broadcast via the enclosing join); unmatched members pass through.

    Scale note: Spark map lookups scan keys LINEARLY (no hash index in
    ArrayBasedMapData), so per-member cost is O(|map|). Right for this
    dimension (~700 names incl. the manual dict — the reference's own
    ceiling); past ~10⁴ entries switch to the explode → broadcast-hash
    join → collapse-by-row-id shape (see cleaning._member_hits)."""
    return F.transform(arr, lambda x: F.coalesce(F.try_element_at(name_map, F.lower(x)), x))
