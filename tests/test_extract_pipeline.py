"""End-to-end extract pipeline (SURVEY §3.1): decoded reaction rows →
columnar extract transform → (clean pipeline →) split, and the same
from wire-format ORD files through binaryFile scan → mapInPandas
decode. Together they drive the whole engine path the reference's two
CLIs cover."""

from __future__ import annotations

import re
import shutil
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from orderly_spark.operators import cleaning as C
from orderly_spark.operators.extract import extract_reactions, molecule_name_side_output
from orderly_spark.schema import REACTION_SCHEMA
from orderly_spark.sources import ord as O

TMP = Path(__file__).parent / "tmp_e2e"


@pytest.fixture(scope="module")
def decoded(spark):
    """Decoded rows the wire codec cannot produce: a literal invalid
    reaction string, an extended-SMILES suffix, labelled agents. Shaped
    as decode_reactions emits them (absent fields NULL, the source file
    named)."""
    if TMP.exists():
        shutil.rmtree(TMP)
    rows = [
        # rxn-string path: roles re-derived, labelled yields realigned
        {"rxn_str": "CC.OO>N>CCO |f:1|", "reactants": ["junk"],
         "products": ["CCO"], "yields": [88.0], "agents": ["[Pd]", "C"],
         "solvents": [], "temperature": None, "is_mapped": True,
         "procedure_details": "standard"},
        # numeric + empty identifiers must be stripped
        {"rxn_str": "CC.35>>CN", "reactants": [], "products": ["CN"],
         "yields": [None], "agents": ["", "42"], "solvents": [],
         "is_mapped": False, "procedure_details": None},
        # invalid rxn string → dropped
        {"rxn_str": "no-arrows-here", "reactants": ["X"], "products": ["Y"],
         "yields": [None], "is_mapped": False},
        # ice imputation + solvent partition (OO rides the agent
        # segment so J1 can claim it)
        {"rxn_str": "O>ice.OO>CC", "reactants": ["O"], "products": ["CC"],
         "yields": [None], "temperature": None, "is_mapped": False},
    ]
    full = [{**{f: r.get(f) for f in REACTION_SCHEMA.fieldNames()}, "extracted_from_file": "a.pb.gz"}
            for r in rows]
    yield spark.createDataFrame(full, REACTION_SCHEMA)
    shutil.rmtree(TMP, ignore_errors=True)


def test_extract_end_to_end(spark, decoded):
    solvent_set = F.array(F.lit("OO"))  # pretend OO is a known solvent
    out = extract_reactions(decoded, solvent_set=solvent_set)
    rows = {r.rxn_str: r for r in out.collect()}

    # invalid rxn string dropped
    assert "no-arrows-here" not in rows and len(rows) == 3

    r1 = rows["CC.OO>N>CCO |f:1|"]
    assert r1.reactants == ["CC", "OO"]  # re-derived from rxn_str
    assert r1.products == ["CCO"] and r1.yields == [88.0]  # realigned
    # rxn-string agent N + labelled [Pd]; support carbon removed (P12,
    # TM present); solvent OO was claimed by reactants so not here;
    # TM-first order puts [Pd] ahead of N (merge_to_agents,
    # extractor.py:586-590)
    assert r1.agents == ["[Pd]", "N"]

    r2 = rows["CC.35>>CN"]
    assert r2.reactants == ["CC"]  # '35' numeric → stripped
    assert r2.agents == []  # '' and '42' stripped, empty segment

    r4 = rows["O>ice.OO>CC"]
    assert r4.temperature == 0.0  # P13: 'ice' agent + null temp
    assert r4.solvents == ["OO"]  # J1 partition against the set
    assert r4.agents == ["ice"]

    # write → read round trip (S5)
    sink = str(TMP / "extracted")
    O.write_extracted(out, sink)
    assert spark.read.parquet(sink).count() == 3


def test_extract_plan_builds_in_few_py4j_round_trips(spark, decoded):
    """Building extract's plan over the packaged 615-row solvent set
    stays within a fixed py4j budget: each stage ships SQL text, and the
    whole set is one literal expression. Built node by node, with one
    Column per set member, the same plan took ~6,800 round trips."""
    from orderly_spark.session import py4j_commands
    from orderly_spark.sources import solvents as SV

    with py4j_commands(spark) as sent:
        solvent_set = SV.smiles_set_literal(SV.packaged_solvent_smiles())
        extract_reactions(decoded, solvent_set=solvent_set)
    assert solvent_set is not None
    assert sent[0] <= 300, sent[0]


@pytest.mark.parametrize("trust_labelling", [False, True])
def test_extract_plan_has_no_case_mapping(spark, decoded, trust_labelling):
    """No case-mapping function in extract's plan: Spark's first ICU
    case mapping in a JVM builds a table over every code point, which a
    cold extract would pay. ``ilike`` is checked too, as the optimizer
    rewrites it to ``lower``."""
    out = extract_reactions(decoded, solvent_set=F.array(F.lit("OO")), trust_labelling=trust_labelling)
    qe = out._jdf.queryExecution()
    for plan in (qe.analyzed(), qe.optimizedPlan()):
        text = plan.toString()
        assert "exists(" in text and "translate(" in text, text
        assert not re.findall(r"\b(lower|upper|initcap|ilike)\(", text, re.IGNORECASE), text


def test_molecule_name_side_output(spark, decoded):
    names = [r.name for r in molecule_name_side_output(decoded).collect()]
    assert "35" in names or "42" in names


def test_extract_then_clean_then_split(spark, decoded):
    """The full engine path: extract → clean → leakage-aware split."""
    extracted = extract_reactions(decoded, solvent_set=F.array(F.lit("OO")))
    with_idx = extracted.withColumn("original_index", F.monotonically_increasing_id())
    cfg = C.CleanConfig(
        min_frequency_of_occurrence=0,
        unresolved_names="remove_rxn",
        scramble=False,
    )
    names = spark.createDataFrame([("junk",)], "name string")
    cleaned = C.clean_pipeline(with_idx, names, cfg)
    n = cleaned.count()
    assert n >= 1
    train, test = C.train_test_split(cleaned, cfg)
    assert train.count() + test.count() == n


def test_extract_end_to_end_wire_protobuf(spark, tmp_path):
    """The same pipeline over REAL wire-format protobuf through the
    decoder — and the semantic difference the wire path makes
    explicit: an invalid CXSMILES becomes rxn_str=None at DECODE time
    (extractor.py:161-180 returns None), so the row survives
    extract_reactions on its labelled roles (the reference's
    use_labelling_if_extract_fails=True), unlike a decoded row
    carrying a literal invalid string, which the validity filter
    drops."""
    from orderly_spark.sources import ord_wire as W

    d = tmp_path / "pb"
    d.mkdir()
    rxns = [
        W.encode_reaction(
            cxsmiles="CC.OO>N>CCO |f:1|",
            is_mapped=True,
            inputs=[("m", [W.encode_compound([(2, "CC")], 1),
                           W.encode_compound([(2, "[Pd]")], 2)])],
            products=[("CCO", 88.0)],
            procedure_details="standard",
        ),
        W.encode_reaction(cxsmiles="CC>O>CN", products=[("CN", None)]),
        W.encode_reaction(cxsmiles="no-arrows", products=[("Y", None)]),
    ]
    (d / "a.pb.gz").write_bytes(W.dataset_pb_gz(rxns))
    files = O.scan_ord_files(spark, str(d))
    decoded = O.decode_reactions(files)  # default = wire protobuf
    out = extract_reactions(decoded, solvent_set=F.array(F.lit("OO")))
    rows = {r.rxn_str: r for r in out.collect()}
    # extended-SMILES suffix already stripped at decode; the invalid
    # third reaction is retained as a labelled (rxn_str=None) row
    assert set(rows) == {"CC.OO>N>CCO", "CC>O>CN", None}
    r1 = rows["CC.OO>N>CCO"]
    assert r1.reactants == ["CC", "OO"]  # re-derived from the rxn string
    assert r1.products == ["CCO"] and r1.yields == [88.0]
    assert r1.is_mapped is True
    assert rows[None].products == ["Y"]  # labelled fallback path
