"""CLI round trip: python -m orderly_spark extract -> clean -> gen-fp
over wire-format ORD files — the switch-over path for a user of the
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
from orderly_spark.sources import ord_wire as W

TMP = Path(__file__).parent / "tmp_cli"


def _pb_gz(rows: list[dict]) -> bytes:
    """``rows`` as a gzipped ORD ``Dataset``: each row's reaction string,
    its labelled reactants (role 1), agents (as reagents, role 2) and
    solvents (role 3), and its products with their yields. The CLI's
    default extract re-derives roles from the reaction string and pools
    every labelled non-reactant into the agents, so the reagent label
    reads as the agent label did."""

    def compounds(members, role):
        return [W.encode_compound([(2, m)], role) for m in members]

    return W.dataset_pb_gz([
        W.encode_reaction(
            cxsmiles=r["rxn_str"],
            is_mapped=r["is_mapped"],
            inputs=[("m", compounds(r["reactants"], 1) + compounds(r.get("agents", []), 2)
                     + compounds(r.get("solvents", []), 3))],
            products=list(zip(r["products"], r["yields"])),
            procedure_details=r.get("procedure_details", ""),
        )
        for r in rows
    ])


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
    (TMP / "data" / "d1" / "a.pb.gz").write_bytes(_pb_gz(rows))
    yield TMP
    shutil.rmtree(TMP, ignore_errors=True)


def test_cli_extract_clean_genfp_roundtrip(workdir, spark, capsys):
    ex_out = str(workdir / "extracted")
    rc = main(
        [
            "extract",
            "--data-path", str(workdir / "data"),
            "--output-path", ex_out,
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


def test_cli_genfp_fingerprints_every_reactant(workdir, spark, capsys):
    """gen-fp subtracts every reactant of a row, whatever cap a
    clean_config.json next to the data records, and says nothing;
    --reactant-slots truncates to the first N and warns."""
    from orderly_spark.functions import chem

    d = workdir / "genfp_every_reactant"
    reactants = ["CC", "OO", "CN"]
    df = spark.createDataFrame(
        [(reactants, ["CCO"])], "reactants array<string>, products array<string>"
    )
    df.write.mode("overwrite").parquet(str(d / "train.parquet"))
    (d / "clean_config.json").write_text(json.dumps({"num_reactant": 2}))
    args = ["gen-fp", "--clean-data-path", str(d / "train.parquet"),
            "--output-path", str(d / "fp.parquet"), "--fp-size", "16"]
    single = spark.createDataFrame([(m,) for m in [*reactants, "CCO"]], "m string").select(
        "m", chem.morgan_fingerprint_udf(n_bits=16)(F.col("m")).alias("fp")
    )
    fp_of = {r.m: list(r.fp) for r in single.collect()}

    def diff(members):
        out = fp_of["CCO"]
        for m in members:
            out = [a - b for a, b in zip(out, fp_of[m])]
        return out

    assert diff(reactants) != diff(reactants[:2])
    assert main(args) == 0
    assert "WARNING" not in capsys.readouterr().err
    got = spark.read.parquet(str(d / "fp.parquet")).first()
    assert list(got.rxn_diff_fp) == diff(reactants)

    assert main([*args, "--reactant-slots", "2"]) == 0
    assert "WARNING: gen-fp: 1 rows have more than 2" in capsys.readouterr().err
    got = spark.read.parquet(str(d / "fp.parquet")).first()
    assert list(got.rxn_diff_fp) == diff(reactants[:2])


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
    """The CLI's decoder parses real wire-format .pb.gz through the
    pure-Python codec — the exact switch-over path a reference user
    hits first, no flags needed."""
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


@pytest.fixture(scope="module")
def named_data(tmp_path_factory):
    """Dataset files under a data root whose directory names contain
    the filter substring: only the file names may decide a match."""
    root = tmp_path_factory.mktemp("names") / "data_uspto_root"
    (root / "other").mkdir(parents=True)
    (root / "plain").mkdir()
    one = W.dataset_pb_gz([W.encode_reaction(cxsmiles="CC>N>CCO", products=[("CCO", 50.0)])])
    for rel in ("other/b.pb.gz", "Uspto.Grants-2001.pb.gz", "plain/uspto-a.pb.gz"):
        (root / rel).write_bytes(one)
    return root


@pytest.mark.parametrize(
    "flags, want",
    [
        # keep, case-insensitive; b.pb.gz sits under 'data_uspto_root'
        (["--name-contains-substring", "uspto"], {"Uspto.Grants-2001.pb.gz", "uspto-a.pb.gz"}),
        # skip
        (["--name-contains-substring", "uspto", "--inverse-substring"], {"b.pb.gz"}),
        # the name is normalised '.' -> '-' before the match
        (["--name-contains-substring", "USPTO-grants"], {"Uspto.Grants-2001.pb.gz"}),
    ],
)
def test_cli_extract_name_filter_matches_file_name_only(spark, named_data, tmp_path, flags, want):
    out = tmp_path / "ex"
    assert main(["extract", "--data-path", str(named_data), "--output-path", str(out), *flags]) == 0
    got = spark.read.parquet(str(out / "extracted_ords")).select("extracted_from_file").distinct()
    assert {r.extracted_from_file for r in got.collect()} == want


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
    (data / "d1" / "a.pb.gz").write_bytes(_pb_gz(
        [row(0, ["CC", "123"]), row(1, ["CC", "OO"], ["", "N"])]
        + [row(i, ["CC", "OO"]) for i in range(2, 8)]
    ))
    (data / "d2" / "b.pb.gz").write_bytes(_pb_gz(
        [row(8, ["CC", "123"]), row(9, ["456", "OO"])]
    ))
    ex, cl = tmp_path / "ex", tmp_path / "cl"
    jobs = {
        "extract": _jobs_run(spark, "extract", [
            "extract", "--data-path", str(data), "--output-path", str(ex)]),
        "clean": _jobs_run(spark, "clean", [
            "clean", "--ord-extraction-path", str(ex / "extracted_ords"),
            "--molecules-to-remove-path", str(ex / "molecule_names"),
            "--output-path", str(cl), "--min-frequency-of-occurrence", "2", "--num-agent", "2"]),
        "gen-fp": _jobs_run(spark, "gen-fp", [
            "gen-fp", "--clean-data-path", str(cl / "train.parquet"),
            "--output-path", str(tmp_path / "fp"), "--fp-size", "64"]),
    }
    # extract: the write, and the name-list CSV (2: the one-partition
    # exchange, then the sorted write; no range-partitioning sample job).
    # The packaged solvent set and the observed names are driver-held,
    # so neither costs a job. clean: its pipeline and split barriers
    # plus the two writes; no job decides a plan shape. gen-fp: the
    # input schema read and the write.
    assert jobs == {"extract": 3, "clean": 17, "gen-fp": 2}

    decoded = O.decode_reactions(O.scan_ord_files(spark, str(data)))
    want = molecule_name_side_output(decoded)
    assert [r.name for r in want.collect()] == ["", "123", "456"]
    O.save_name_list(want, str(tmp_path / "want_names"))

    def csv_text(d):
        return "".join(f.read_text() for f in sorted(d.glob("*.csv")))

    assert csv_text(ex / "molecule_names") == csv_text(tmp_path / "want_names")


def _fixture_pipeline(data: Path, out: Path, *extract_args: str) -> None:
    """extract → clean → gen-fp through the CLI, as a user runs it."""
    assert main(["extract", "--data-path", str(data), "--output-path", str(out / "ex"),
                 *extract_args]) == 0
    assert main(["clean", "--ord-extraction-path", str(out / "ex" / "extracted_ords"),
                 "--molecules-to-remove-path", str(out / "ex" / "molecule_names"),
                 "--output-path", str(out / "cl"), "--min-frequency-of-occurrence", "2",
                 "--num-agent", "2"]) == 0
    assert main(["gen-fp", "--clean-data-path", str(out / "cl" / "train.parquet"),
                 "--output-path", str(out / "fp"), "--fp-size", "64"]) == 0


def test_cli_pipeline_reuses_generated_code(spark, workdir, tmp_path):
    """The JVM's cache of generated classes holds a whole pass: running
    the same pipeline again compiles at most a tenth of the classes the
    first run compiled. A cache smaller than one pass's working set
    (~125 classes) evicts every class before its reuse, and each pass
    recompiles nearly all of them."""
    from orderly_spark.session import codegen_compiles

    compiled = []
    for k in range(2):
        before = codegen_compiles(spark)[0]
        _fixture_pipeline(workdir / "data", tmp_path / f"pass{k}")
        compiled.append(codegen_compiles(spark)[0] - before)
    assert compiled[1] * 10 <= compiled[0], compiled


def test_cli_solvent_set_escapes_sql_literals(spark, tmp_path):
    """--solvents-path members holding a backslash, a quote or a
    ``${...}`` reach the SQL solvent-set literal intact: extract routes
    them to solvents exactly as the same set built as one Column
    literal per member does."""
    import csv

    from orderly_spark.operators.extract import extract_reactions
    from orderly_spark.sources import solvents as SV

    # '.' splits reaction-string members, so the substituted variable
    # has a dot-free name
    spark.conf.set("solvent", "substituted")
    odd = ["C/C=C\\C", "O'C", "Cl\\'", "\\\\", "C${solvent}", "$"]
    sv_csv = tmp_path / "solvents.csv"
    with sv_csv.open("w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(["solvent_name_1", "smiles"])
        w.writerows([[f"s{i}", s] for i, s in enumerate(odd + ["O"])])
    data = tmp_path / "data"
    data.mkdir()
    (data / "a.pb.gz").write_bytes(_pb_gz([
        {"rxn_str": f"CC>{'.'.join(odd)}.N>CCO", "reactants": [], "products": ["CCO"],
         "yields": [50.0], "agents": ["O"], "solvents": ["C/C=C\\C"], "is_mapped": False},
    ]))
    out = tmp_path / "ex"
    assert main(["extract", "--data-path", str(data), "--output-path", str(out),
                 "--solvents-path", str(sv_csv)]) == 0
    got = spark.read.parquet(str(out / "extracted_ords")).select("solvents", "agents").collect()

    dim = SV.load_solvents_csv(spark, str(sv_csv))
    members = SV.solvent_smiles_set(dim).collect()[0].solvent_set
    assert sorted(members) == sorted(odd + ["O"])
    decoded = O.decode_reactions(O.scan_ord_files(spark, str(data)))
    want = extract_reactions(decoded, solvent_set=F.array(*[F.lit(s) for s in members]))
    assert got == want.select("solvents", "agents").collect()
    assert got[0].solvents == sorted(odd + ["O"]) and got[0].agents == ["N"]
    spark.conf.unset("solvent")
