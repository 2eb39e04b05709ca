"""Chem-UDF plumbing tests (SURVEY §2.10/M2). RDKit is absent in the
harness image; since r12 canonicalisation runs the REAL pure-Python
ranking+writer kernel on the parseable subset (functions/smiles.py —
its chemistry is proven in tests/test_smiles.py). What these tests pin
is the Spark-side machinery: pandas UDF batching, the
distinct→broadcast dimension pattern, array reassembly order, and
zip_with arithmetic."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from orderly_spark.functions import chem


def test_canonicalise_via_dimension_roundtrip(spark):
    df = spark.createDataFrame(
        [
            (1, ["CCO", "N", "CCO"], True),
            (2, ["O"], False),
            (3, ["N", "CC"], True),
        ],
        "rid int, reactants array<string>, is_mapped boolean",
    )
    out = chem.canonicalise_via_dimension(df, "reactants")
    got = {r.rid: r.reactants for r in out.collect()}
    if not chem.HAVE_RDKIT:
        # r12: the parsed-graph writer kernel, applied per distinct
        # (molecule, is_mapped) pair and reassembled in position order
        # incl. duplicates
        c = chem._parsed_canonicalise_one
        assert got == {
            1: [c("CCO", True), c("N", True), c("CCO", True)],
            2: [c("O", False)],
            3: [c("N", True), c("CC", True)],
        }
        assert got[1][0] == "C(C)O"  # pinned: the writer is live here
    else:
        assert set(got) == {1, 2, 3} and len(got[1]) == 3


def test_canonical_udf_null_passthrough(spark):
    df = spark.createDataFrame([(None, False), ("CCO", False)], "s string, m boolean")
    out = df.select(
        chem.canonical_smiles_udf(F.struct(F.col("s"), F.col("m"))).alias("c")
    ).collect()
    assert out[0].c is None
    assert out[1].c is not None


def test_tm_first_order(spark):
    df = spark.createDataFrame(
        [(["CC", "[Pd]", "O", "[Fe]"],)], "agents array<string>"
    ).withColumn("tm", F.array(F.lit("[Pd]"), F.lit("[Fe]")))
    out = df.select(chem.tm_first_order(F.col("agents"), F.col("tm")).alias("a")).collect()[0].a
    # TM molecules first, both groups keeping original relative order
    assert out == ["[Pd]", "[Fe]", "CC", "O"]


def test_has_transition_metal_fallback(spark):
    df = spark.createDataFrame([("[Pd]",), ("CCO",), ("[Fe+2]",)], "s string")
    got = [r.t for r in df.select(chem.has_transition_metal_udf(F.col("s")).alias("t")).collect()]
    assert got == [True, False, True]


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
    JVM — over a null product array, a null reactant member, reactants
    past the slot cap and a repeated molecule."""
    df = spark.createDataFrame(
        [
            (0, ["CCO"], ["CC", "O"]),
            (1, None, ["N"]),
            (2, ["CCO"], [None, "O", "N"]),
            (3, ["CC"], ["CC"]),
        ],
        "i int, products array<string>, reactants array<string>",
    )
    n_bits, slots = 32, 2
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
            F.col("products"), F.col("reactants"), F.lit(slots)
        ).alias("x"),
    ).select("i", F.col("x.product_fp").alias("p"), F.col("x.rxn_diff_fp").alias("d"))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert not any(got.filter("i = 3").first().d)  # CC − CC


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
# input class — the _has_tm_one symbol-scan fallback's ceiling is
# MEASURED against it (r10, verdict item 8), not just asserted.
#: bracket-atom SMILES / organometallics: the class the fallback is
#: documented adequate for — zero divergences allowed.
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
#: plain-text molecule NAMES (the consider_molecule_names path can
#: route these through the same predicate): the scan's KNOWN
#: false-positive surface — TM symbols hiding inside words.
_TM_NAME_CASES = [
    ("Water", False),        # 'W'
    ("Feldspar", False),     # 'Fe'
    ("Vinegar", False),      # 'V'
    ("Regent street", False),# 'Re'
    ("sodium chloride", False),
    ("palladium on carbon", False),  # scan MISSES (lowercase 'pd')
    ("acetone", False),
]


def test_has_tm_exact_on_bracket_smiles():
    """Since r11 this class routes through the pure-Python SMILES
    parser's atomic-number walk (functions/smiles.py) — exact by
    chemistry, not regex adequacy; every curated SMILES must agree
    with ground truth."""
    from orderly_spark.functions.chem import _has_tm_one

    diverging = [s for s, want in _TM_SMILES_CASES if _has_tm_one(s) != want]
    assert diverging == []


def test_has_tm_smiles_cases_all_route_through_parser():
    """Every curated SMILES case is INSIDE the parser subset — none
    falls back to the symbol scan — so the exactness above is the
    parser's, not the scan's."""
    from orderly_spark.functions.smiles import molecule_has_tm

    unrouted = [s for s, _ in _TM_SMILES_CASES if molecule_has_tm(s) is None]
    assert unrouted == []


def test_has_tm_fallback_name_surface_is_measured():
    """The MEASURED ceiling on name strings (which fail the SMILES
    parser and fall to the symbol scan): exactly the four
    W/Fe/V/Re-containing words false-positive; everything else
    (including the lowercase-symbol miss) agrees. If the fallback
    changes, this count moves and the ceiling gets re-documented —
    that is the point of pinning it."""
    from orderly_spark.functions.chem import HAVE_RDKIT, _has_tm_one

    if HAVE_RDKIT:
        pytest.skip("fallback path only (RDKit routes through atoms)")
    diverging = sorted(s for s, want in _TM_NAME_CASES if _has_tm_one(s) != want)
    assert diverging == ["Feldspar", "Regent street", "Vinegar", "Water"]


@pytest.mark.skipif(
    not __import__("orderly_spark.functions.chem", fromlist=["HAVE_RDKIT"]).HAVE_RDKIT,
    reason="RDKit not installed",
)
def test_has_tm_rdkit_exact_on_full_curated_list():  # pragma: no cover
    """With RDKit present the atomic-number walk must match ground
    truth on BOTH classes (names fail MolFromSmiles → False)."""
    from orderly_spark.functions.chem import _has_tm_one

    for s, want in _TM_SMILES_CASES + _TM_NAME_CASES:
        assert _has_tm_one(s) == want, s
