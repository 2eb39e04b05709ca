"""CLI round trip: python -m orderly_spark extract -> clean -> gen-fp
over fake ORD files — the switch-over path for a user of the
reference's `orderly.extract` / `orderly.clean` / `orderly.gen_fp`
CLIs (main.py:239-454, cleaner.py:948-1196)."""

from __future__ import annotations

import json
import shutil
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from orderly_spark.cli import main
from orderly_spark.sources import ord as O

TMP = Path(__file__).parent / "tmp_cli"


@pytest.fixture(scope="module")
def workdir(spark):  # spark fixture keeps one session for the in-process CLI
    if TMP.exists():
        shutil.rmtree(TMP)
    (TMP / "data" / "d1").mkdir(parents=True)
    rows = [
        {
            "rxn_str": f"CC.OO>N>CCO |{i}|",
            "reactants": ["CC", "OO"],
            "products": ["CCO"],
            "yields": [50.0 + i],
            "agents": ["N"],
            "solvents": [],
            "is_mapped": i % 2 == 0,
            "procedure_details": "p",
        }
        for i in range(8)
    ] + [
        {
            "rxn_str": "CC.CN>O>CN",  # rare molecule CN -> removed at min-freq 2
            "reactants": ["CC", "CN"],
            "products": ["CN"],
            "yields": [10.0],
            "agents": ["O"],
            "solvents": [],
            "is_mapped": False,
        }
    ]
    (TMP / "data" / "d1" / "a.pb.gz").write_bytes(O.fake_dataset_bytes(rows))
    yield TMP
    shutil.rmtree(TMP, ignore_errors=True)


def test_cli_extract_clean_genfp_roundtrip(workdir, spark, capsys):
    ex_out = str(workdir / "extracted")
    rc = main(
        [
            "extract",
            "--data-path", str(workdir / "data"),
            "--output-path", ex_out,
            "--decoder", "json",
        ]
    )
    assert rc == 0
    assert (Path(ex_out) / "extract_config.json").exists()
    extracted = spark.read.parquet(f"{ex_out}/extracted_ords")
    assert extracted.count() == 9
    assert "reactants" in extracted.columns

    cl_out = str(workdir / "cleaned")
    rc = main(
        [
            "clean",
            "--ord-extraction-path", f"{ex_out}/extracted_ords",
            "--molecules-to-remove-path", f"{ex_out}/molecule_names",
            "--output-path", cl_out,
            "--min-frequency-of-occurrence", "2",
            "--num-agent", "2",
            "--train-test-split-fraction", "0.75",
        ]
    )
    assert rc == 0
    train = spark.read.parquet(f"{cl_out}/train.parquet")
    test = spark.read.parquet(f"{cl_out}/test.parquet")
    # 9 extracted -> dedup collapses the 8 same-role rows by role
    # subset only at the second dedup (include_yields=False), and the
    # rare CN row is removed at min-freq 2
    assert train.count() + test.count() >= 1
    cfg = json.loads((Path(cl_out) / "clean_config.json").read_text())
    assert cfg["min_frequency_of_occurrence"] == 2

    fp_out = str(workdir / "fp.parquet")
    npy_out = str(workdir / "fp.npy")
    rc = main([
        "gen-fp", "--clean-data-path", f"{cl_out}/train.parquet",
        "--output-path", fp_out, "--fp-size", "64",
        "--npy-output-path", npy_out,
    ])
    assert rc == 0
    fp = spark.read.parquet(fp_out)
    row = fp.select("rxn_fp").first()
    assert row is not None and len(row["rxn_fp"]) == 128  # concat(diff, product)
    import numpy as np

    mat = np.load(npy_out)  # the reference's dense artifact (S10)
    assert mat.dtype == np.int64 and mat.shape == (fp.count(), 128)


def test_cli_genfp_slot_cap_from_config_and_guard(workdir, spark, capsys):
    """gen-fp derives --reactant-slots from the clean stage's
    clean_config.json; under-sized slots are loud (review finding r5:
    a fixed default of 5 silently omitted reactants beyond slot 5
    when clean ran with a bigger --num-reactant)."""
    d = workdir / "genfp_guard"
    df = spark.createDataFrame(
        [(["CC", "OO", "CN"], ["CCO"])], "reactants array<string>, products array<string>"
    )
    df.write.mode("overwrite").parquet(str(d / "train.parquet"))
    # lineage record claims the clean cap was 2 — data disagrees (3
    # reactants), so the config-derived default must FAIL loudly
    (d / "clean_config.json").write_text(json.dumps({"num_reactant": 2}))
    args = ["gen-fp", "--clean-data-path", str(d / "train.parquet"),
            "--output-path", str(d / "fp.parquet"), "--fp-size", "16"]
    assert main(args) == 2
    assert "OMITTED" in capsys.readouterr().err
    # explicit under-size = informed choice -> warn but proceed
    assert main([*args, "--reactant-slots", "2"]) == 0
    assert "WARNING" in capsys.readouterr().err
    # config cap covering the data -> clean run, no guard output
    (d / "clean_config.json").write_text(json.dumps({"num_reactant": 3}))
    assert main(args) == 0
    err = capsys.readouterr().err
    assert "OMITTED" not in err and "defaulting" not in err


def test_cli_unresolved_mode_exclusivity(workdir):
    rc = main(
        [
            "clean",
            "--ord-extraction-path", "x",
            "--molecules-to-remove-path", "y",
            "--output-path", "z",
            "--remove-rxn-with-unresolved-names",  # two modes on at once
        ]
    )
    assert rc == 2


def test_cli_extract_default_decoder_wire_protobuf(spark, tmp_path):
    """r10: the CLI's DEFAULT decoder (--decoder auto) parses real
    wire-format .pb.gz through the pure-Python codec — the exact
    switch-over path a reference user hits first, no flags needed."""
    from orderly_spark.sources import ord_wire as W

    data = tmp_path / "data" / "d1"
    data.mkdir(parents=True)
    rxns = [
        W.encode_reaction(
            cxsmiles=f"CC.OO>N>CCO |{i}|",
            is_mapped=i % 2 == 0,
            inputs=[("m", [W.encode_compound([(2, "CC.OO")], 1),
                           W.encode_compound([(2, "N")], 2)])],
            products=[("CCO", 50.0 + i)],
            procedure_details="p",
        )
        for i in range(6)
    ]
    (data / "a.pb.gz").write_bytes(W.dataset_pb_gz(rxns))
    out = str(tmp_path / "extracted")
    rc = main(["extract", "--data-path", str(tmp_path / "data"), "--output-path", out])
    assert rc == 0
    extracted = spark.read.parquet(f"{out}/extracted_ords")
    rows = extracted.collect()
    assert len(rows) == 6
    # roles re-derived from the decoded rxn string; suffix stripped
    assert all(r.rxn_str == "CC.OO>N>CCO" for r in rows)
    assert sorted(r.yields[0] for r in rows) == [50.0, 51.0, 52.0, 53.0, 54.0, 55.0]


def test_cli_genfp_values_pinned(workdir, spark, capsys):
    """gen-fp's values, not only its shape: ``rxn_diff_fp`` is
    ``product_fp`` minus the single-molecule fingerprints of the first
    N reactants (fingerprints.py:59-74), ``rxn_fp`` is ``diff ++
    product``, and a null/empty product, a null reactant member or an
    unparseable molecule contributes zeros. The output keeps its column
    names and types."""
    from pyspark.sql import types as T

    from orderly_spark.functions import chem

    d = workdir / "genfp_values"
    rows = [
        (0, ["CC", "O"], None),  # null products
        (1, ["N"], []),  # empty products
        (2, [None, "O"], ["CCO"]),  # null reactant member
        (3, ["CC", "O", "N"], ["CCO"]),  # more reactants than --reactant-slots
        (4, None, ["c1ccccc1O"]),  # null reactants
        (5, ["not a smiles"], ["CC(=O)O"]),  # unparseable reactant
    ]
    df = spark.createDataFrame(
        rows, "original_index long, reactants array<string>, products array<string>"
    )
    df.write.mode("overwrite").parquet(str(d / "train.parquet"))
    n_bits, slots = 32, 2
    rc = main(["gen-fp", "--clean-data-path", str(d / "train.parquet"),
               "--output-path", str(d / "fp.parquet"), "--fp-size", str(n_bits),
               "--reactant-slots", str(slots)])
    assert rc == 0
    assert "1 rows have more than 2 reactants" in capsys.readouterr().err

    mols = sorted({m for _, r, p in rows for m in (r or []) + (p or []) if m is not None})
    single = spark.createDataFrame([(m,) for m in mols], "m string").select(
        "m", chem.morgan_fingerprint_udf(n_bits=n_bits)(F.col("m")).alias("fp")
    )
    fp_of = {r.m: list(r.fp) for r in single.collect()}
    assert any(fp_of.values()) and not any(fp_of["not a smiles"])

    def fp1(m):
        return fp_of[m] if m is not None else [0] * n_bits

    out = spark.read.parquet(str(d / "fp.parquet"))
    assert [(f.name, f.dataType) for f in out.schema.fields] == [
        ("original_index", T.LongType()),
        ("reactants", T.ArrayType(T.StringType())),
        ("products", T.ArrayType(T.StringType())),
        ("product_fp", T.ArrayType(T.IntegerType())),
        ("rxn_diff_fp", T.ArrayType(T.IntegerType())),
        ("rxn_fp", T.ArrayType(T.IntegerType())),
    ]
    got = {r.original_index: r for r in out.collect()}
    assert sorted(got) == [i for i, _, _ in rows]
    for i, reactants, products in rows:
        product = fp1((products or [None])[0])
        diff = list(product)
        for m in (reactants or [])[:slots]:
            diff = [a - b for a, b in zip(diff, fp1(m))]
        r = got[i]
        assert list(r.product_fp) == product, i
        assert list(r.rxn_diff_fp) == diff, i
        assert list(r.rxn_fp) == diff + product, i


def _jobs_run(spark, group: str, argv: list[str]) -> int:
    """Run one CLI command under its own job group; return how many
    Spark jobs it started."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        assert main(argv) == 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_cli_job_counts_and_name_list(spark, tmp_path):
    """Each command's Spark jobs, pinned: extract decodes every file
    once (the name list is observed on the write job, not re-decoded),
    and no command re-reads its own output to print a row count (the
    counts come from Observations on the writes). The name list still
    equals molecule_name_side_output over the decoded rows: numeric
    names, an empty name, and one name found in two files."""
    from orderly_spark.operators.extract import molecule_name_side_output

    def row(i, reactants, agents=("N",)):
        return {"rxn_str": f"CC.OO>N>CCO |{i}|", "reactants": list(reactants),
                "products": ["CCO"], "yields": [50.0 + i], "agents": list(agents),
                "solvents": [], "is_mapped": False}

    data = tmp_path / "data"
    (data / "d1").mkdir(parents=True)
    (data / "d2").mkdir()
    (data / "d1" / "a.pb.gz").write_bytes(O.fake_dataset_bytes(
        [row(0, ["CC", "123"]), row(1, ["CC", "OO"], ["", "N"])]
        + [row(i, ["CC", "OO"]) for i in range(2, 8)]
    ))
    (data / "d2" / "b.pb.gz").write_bytes(O.fake_dataset_bytes(
        [row(8, ["CC", "123"]), row(9, ["456", "OO"])]
    ))
    ex, cl = tmp_path / "ex", tmp_path / "cl"
    jobs = {
        "extract": _jobs_run(spark, "extract", [
            "extract", "--data-path", str(data), "--output-path", str(ex), "--decoder", "json"]),
        "clean": _jobs_run(spark, "clean", [
            "clean", "--ord-extraction-path", str(ex / "extracted_ords"),
            "--molecules-to-remove-path", str(ex / "molecule_names"),
            "--output-path", str(cl), "--min-frequency-of-occurrence", "2", "--num-agent", "2"]),
        "gen-fp": _jobs_run(spark, "gen-fp", [
            "gen-fp", "--clean-data-path", str(cl / "train.parquet"),
            "--output-path", str(tmp_path / "fp"), "--fp-size", "64"]),
    }
    # extract: solvents CSV read, solvent-set collect (2), the write, the
    # name-list CSV (3: a sorted write under AQE). clean: its pipeline
    # and split barriers plus the two writes. gen-fp: the input schema
    # read and the write.
    assert jobs == {"extract": 7, "clean": 19, "gen-fp": 2}

    decoded = O.decode_reactions(O.scan_ord_files(spark, str(data)), decoder=O.json_decoder)
    want = molecule_name_side_output(decoded)
    assert [r.name for r in want.collect()] == ["", "123", "456"]
    O.save_name_list(want, str(tmp_path / "want_names"))

    def csv_text(d):
        return "".join(f.read_text() for f in sorted(d.glob("*.csv")))

    assert csv_text(ex / "molecule_names") == csv_text(tmp_path / "want_names")
