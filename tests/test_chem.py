"""Chem-UDF plumbing tests (SURVEY §2.10/M2). The kernels are the
pure-Python parsed-graph ones (functions/smiles.py — their chemistry is
proven in tests/test_smiles.py). What these tests pin is the Spark-side
machinery: pandas UDF batching, the distinct→broadcast dimension
pattern, array reassembly order, and zip_with arithmetic; and the F5
transition-metal predicate (functions/rxn.py), checked against the
parser's atomic-number walk."""

from __future__ import annotations

from pyspark.sql import functions as F

from orderly_spark.functions import chem
from orderly_spark.functions import rxn as R
from orderly_spark.functions.sql_registry import register_sql_functions


def _spark_tm(spark, mols):
    """rxn.has_tm evaluated in Spark, per distinct molecule."""
    df = spark.createDataFrame([(m,) for m in dict.fromkeys(mols)], "m string")
    return {r.m: r.t for r in df.select("m", F.expr(R.has_tm("m")).alias("t")).collect()}


def test_canonicalise_via_dimension_roundtrip(spark):
    df = spark.createDataFrame(
        [
            (1, ["CCO", "N", "CCO"], True),
            (2, ["O"], False),
            (3, ["N", "CC"], True),
            (4, ["123", "CCO"], False),
        ],
        "rid int, reactants array<string>, is_mapped boolean",
    )
    out = chem.canonicalise_via_dimension(df, "reactants")
    got = {r.rid: r.reactants for r in out.collect()}
    # the parsed-graph writer kernel, applied per distinct (molecule,
    # is_mapped) pair and reassembled in position order incl. duplicates
    c = chem._canonicalise_one
    assert got == {
        1: [c("CCO", True), c("N", True), c("CCO", True)],
        2: [c("O", False)],
        3: [c("N", True), c("CC", True)],
        4: [c("123", False), c("CCO", False)],
    }
    assert got[1][0] == "C(C)O"  # pinned: the writer is live here
    # digit strings (the registry scaffold's molecule ids) are outside
    # the grammar and come back unchanged — what lets
    # c_canonicalise_dimension_roundtrip's oracle be the raw scaffold
    assert got[4][0] == "123"


def test_canonical_udf_null_passthrough(spark):
    df = spark.createDataFrame([(None, False), ("CCO", False)], "s string, m boolean")
    out = df.select(
        chem.canonical_smiles_udf(F.struct(F.col("s"), F.col("m"))).alias("c")
    ).collect()
    assert out[0].c is None
    assert out[1].c is not None


def test_tm_first_order(spark):
    df = spark.createDataFrame([(["CC", "[Pd]", "O", "[Fe]"],)], "agents array<string>")
    out = df.select(F.expr(R.tm_first("agents")).alias("a")).collect()[0].a
    # TM molecules first, both groups keeping original relative order
    assert out == ["[Pd]", "[Fe]", "CC", "O"]
    # a caller-supplied membership predicate replaces the TM test
    df = df.withColumn("tm", F.array(F.lit("O"), F.lit("[Fe]")))
    out = df.select(F.expr(R.tm_first("agents", lambda m: f"array_contains(tm, {m})")).alias("a")).collect()[0].a
    assert out == ["O", "[Fe]", "CC", "[Pd]"]


def test_has_transition_metal_fallback(spark):
    """The SQL function is rxn.has_tm with NULL mapped to false; a
    plain-text name is not flagged."""
    register_sql_functions(spark)
    df = spark.createDataFrame([("[Pd]",), ("CCO",), ("[Fe+2]",), (None,), ("Water",)], "s string")
    got = [r.t for r in df.selectExpr("has_transition_metal(s) AS t").collect()]
    assert got == [True, False, True, False, False]


def test_morgan_fingerprint_shape_and_determinism(spark):
    fp = chem.morgan_fingerprint_udf(n_bits=64)
    df = spark.createDataFrame([("CCO",), ("CCO",), ("N",)], "s string")
    rows = [r.f for r in df.select(fp(F.col("s")).alias("f")).collect()]
    assert all(len(r) == 64 for r in rows)
    assert rows[0] == rows[1]  # same molecule → same fp
    assert rows[0] != rows[2]


def test_fingerprint_difference(spark):
    df = spark.createDataFrame(
        [([5, 3, 1], [1, 1, 0], [2, 0, 1])], "p array<int>, r1 array<int>, r2 array<int>"
    )
    out = df.select(
        chem.fingerprint_difference(F.col("p"), F.col("r1"), F.col("r2")).alias("d")
    ).collect()[0].d
    assert out == [2, 2, 0]


def test_reaction_fingerprint_udf_matches_column_kernels(spark):
    """The fused gen-fp kernel equals the per-column path it replaced:
    morgan_fingerprint_udf per slot, then fingerprint_difference in the
    JVM — over a null product array, a null reactant member, three
    reactants and a repeated molecule."""
    df = spark.createDataFrame(
        [
            (0, ["CCO"], ["CC", "O"]),
            (1, None, ["N"]),
            (2, ["CCO"], [None, "O", "N"]),
            (3, ["CC"], ["CC"]),
        ],
        "i int, products array<string>, reactants array<string>",
    )
    n_bits, slots = 32, 3
    fp = chem.morgan_fingerprint_udf(n_bits=n_bits)
    want = df.withColumn("p", fp(F.get(F.col("products"), 0)))
    for k in range(slots):
        want = want.withColumn(f"r{k}", fp(F.get(F.col("reactants"), k)))
    want = want.select(
        "i", "p", chem.fingerprint_difference(F.col("p"), *[F.col(f"r{k}") for k in range(slots)]).alias("d")
    )
    got = df.select(
        "i",
        chem.reaction_fingerprint_udf(n_bits=n_bits)(
            F.col("products"), F.col("reactants")
        ).alias("x"),
    ).select("i", F.col("x.product_fp").alias("p"), F.col("x.rxn_diff_fp").alias("d"))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert not any(got.filter("i = 3").first().d)  # CC − CC


def test_reaction_fingerprint_udf_is_a_scalar_iter_arrow_udf():
    """gen-fp's kernel takes and returns Arrow arrays batch by batch; its
    type comes from the kernel's type hints."""
    from pyspark.util import PythonEvalType

    assert chem.reaction_fingerprint_udf(n_bits=8).evalType == PythonEvalType.SQL_SCALAR_ARROW_ITER_UDF


def test_npy_export_matches_reference_artifact_shape(spark, tmp_path):
    """S10 byte-parity: the .npy export is a dense int64 matrix in
    id order (fingerprints.py:41-56)."""
    import numpy as np

    from orderly_spark.functions.chem import export_fingerprint_matrix_npy, morgan_fingerprint_udf

    df = spark.createDataFrame([(2, "CCO"), (1, "O"), (3, "CC")], "rid long, m string")
    fps = df.withColumn("fp", morgan_fingerprint_udf(n_bits=32)(F.col("m")))
    out = str(tmp_path / "fp.npy")
    shape = export_fingerprint_matrix_npy(fps, "fp", out, "rid")
    assert shape == (3, 32)
    mat = np.load(out)
    assert mat.dtype == np.int64 and mat.shape == (3, 32)
    # row order follows rid, and each row is the UDF's output for that rid
    expect = {r.rid: list(r.fp) for r in fps.collect()}
    for i, rid in enumerate([1, 2, 3]):
        assert list(mat[i]) == expect[rid]


# Curated F5 ground truth (TM present by actual chemistry), split by
# input class.
#: bracket-atom SMILES / organometallics — zero divergences allowed.
_TM_SMILES_CASES = [
    ("[Pd]", True), ("[Pd+2]", True), ("[106Pd]", True),          # isotope prefix
    ("[Fe+2].[O-]S([O-])(=O)=O", True), ("[W]", True), ("[V]", True),
    ("CC(=O)O[Cu]OC(C)=O", True), ("Cl[Ni]Cl", True), ("[Co+3]", True),
    ("O", False), ("CCO", False), ("ClCCl", False), ("[Na+].[Cl-]", False),
    ("c1ccccc1", False), ("CC(=O)Nc1ccc(O)cc1", False),
    ("[NH4+].[NH4+].[S-2]", False), ("CCOC(=O)C", False),
    ("C[Si](C)(C)Cl", False),                                      # Si is not a TM
    ("[Sc+3]", False),                                             # Sc (21) excluded by design
]
#: plain-text molecule NAMES (members that are not SMILES, such as
#: unresolved names, reach the same predicate): TM symbols hiding
#: inside words, which a bare symbol scan would flag.
_TM_NAME_CASES = [
    ("Water", False),        # 'W'
    ("Feldspar", False),     # 'Fe'
    ("Vinegar", False),      # 'V'
    ("Regent street", False),# 'Re'
    ("sodium chloride", False),
    ("palladium on carbon", False),  # a name, not a bracket atom
    ("acetone", False),
]


def test_has_tm_exact_on_bracket_smiles(spark):
    """Every curated SMILES agrees with ground truth."""
    got = _spark_tm(spark, [s for s, _ in _TM_SMILES_CASES])
    diverging = [s for s, want in _TM_SMILES_CASES if got[s] != want]
    assert diverging == []


def test_has_tm_smiles_cases_all_route_through_parser():
    """Every curated SMILES case is INSIDE the parser subset, so the
    parser's atomic-number walk is a reference for each of them."""
    from orderly_spark.functions.smiles import molecule_has_tm

    unrouted = [s for s, _ in _TM_SMILES_CASES if molecule_has_tm(s) is None]
    assert unrouted == []


def test_has_tm_fallback_name_surface_is_measured(spark):
    """Names fail the SMILES parser; the predicate reads bracketed
    symbols only, so no name diverges from ground truth — none of the
    W/Fe/V/Re-containing words is flagged."""
    got = _spark_tm(spark, [s for s, _ in _TM_NAME_CASES])
    diverging = sorted(s for s, want in _TM_NAME_CASES if got[s] != want)
    assert diverging == []


def test_tm_predicate_equals_parser_walk(spark):
    """rxn.has_tm evaluated in Spark equals smiles.molecule_has_tm on
    every parseable molecule of the curated corpora and of the random
    two-spelling sweep (tests/test_smiles.py, same seeds): transition
    metals sit outside SMILES's organic subset, so they are always
    bracket atoms and the bracketed-symbol regex is the walk."""
    import random

    from orderly_spark.functions.smiles import molecule_has_tm
    from tests.test_smiles import (
        _DIFFERENT_MOLECULES,
        _SAME_MOLECULE_SPELLINGS,
        _random_molecule,
        _serialize,
    )

    mols = [s for s, _ in _TM_SMILES_CASES]
    mols += [s for pair in _SAME_MOLECULE_SPELLINGS + _DIFFERENT_MOLECULES for s in pair]
    rng = random.Random(1106)
    for trial in range(300):
        tokens, edges, _zs = _random_molecule(rng)
        mols.append(_serialize(tokens, edges, 0, random.Random(trial)))
        mols.append(_serialize(tokens, edges, rng.randrange(len(tokens)), random.Random(trial + 7919)))
    want = {m: molecule_has_tm(m) for m in mols}
    want = {m: t for m, t in want.items() if t is not None}
    # 581 distinct parseable molecules, both classes present
    assert len(want) > 550 and 0 < sum(want.values()) < len(want)
    assert _spark_tm(spark, list(want)) == want
