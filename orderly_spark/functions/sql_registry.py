"""SQL function registry — SURVEY §4 custom-work item 1: "a function
registry so SQL users can call canonical_smiles(x)".

Two tiers, matching how each function should execute:

1. **SQL scalar functions** (``CREATE OR REPLACE TEMPORARY FUNCTION …
   RETURN <expr>``, Spark 4 SQL UDFs): the pure-expression reference
   functions (F1 strip_filename, F5 has_transition_metal, F6/F7 unit
   conversions, F10 is_number, F13 reaction_hash, S4 grant-date
   parse). Each body is the builder of :mod:`orderly_spark.functions.rxn`
   that the pipelines run, so a SQL caller and a pipeline run one
   implementation of each rule. They inline into the calling query's
   plan at analysis time — they stay inside whole-stage codegen, cost
   nothing over hand-written expressions, and never leave the JVM.

2. **Python/pandas UDFs** (``spark.udf.register``): the chem functions
   that need the parsed SMILES graph (F3 canonical_smiles, F14
   morgan_fp). Arrow-batched pandas UDFs with executor-local
   memoisation — the unavoidable slow path, kept off the hot path by
   the distinct→broadcast dimension pattern (functions/chem.py
   canonicalise_via_dimension).

Register once per session with :func:`register_sql_functions`; the
functions are session-scoped temporary functions (at 100 TB these
would ship in a shared catalog — persistent SQL UDFs land the same
plan shape).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from orderly_spark.functions import rxn as R
from orderly_spark.functions.chem import canonical_smiles_udf, morgan_fingerprint_udf


def _sql_function(name: str, params: str, returns: str, body: str) -> tuple[str, str]:
    return name, f"CREATE OR REPLACE TEMPORARY FUNCTION {name}({params}) RETURNS {returns} RETURN {body}"


_SQL_FUNCTIONS = (
    _sql_function("strip_filename", "s STRING", "STRING", R.strip_filename("s")),
    _sql_function("is_number", "s STRING", "BOOLEAN", R.is_number("s")),
    # NULL is not a transition-metal molecule
    _sql_function("has_transition_metal", "s STRING", "BOOLEAN", f"coalesce({R.has_tm('s')}, false)"),
    _sql_function(
        "reaction_hash",
        "reactants ARRAY<STRING>, products ARRAY<STRING>",
        "STRING",
        R.reaction_hash("reactants", "products"),
    ),
    _sql_function(
        "temp_to_celsius",
        "value DOUBLE, unit STRING, control_type STRING",
        "DOUBLE",
        R.temperature_to_celsius("value", "unit", "control_type"),
    ),
    _sql_function("time_to_hours", "value DOUBLE, unit STRING", "DOUBLE", R.time_to_hours("value", "unit")),
    _sql_function("grant_date_from_filename", "s STRING", "TIMESTAMP", R.grant_date_from_filename("s")),
)


def register_sql_functions(spark: SparkSession) -> list[str]:
    """Register the engine's function surface for SQL callers.

    Returns the list of registered function names. Safe to call
    repeatedly (CREATE OR REPLACE / re-register are idempotent).
    """
    for _, ddl in _SQL_FUNCTIONS:
        spark.sql(ddl)
    # Chem tier: Arrow-batched pandas UDFs over the pure-Python
    # parsed-graph kernels (functions/chem.py).
    udfs = {"canonical_smiles": canonical_smiles_udf, "morgan_fp": morgan_fingerprint_udf()}
    for name, udf in udfs.items():
        spark.udf.register(name, udf)
    return [name for name, _ in _SQL_FUNCTIONS] + list(udfs)
