"""ORD source plumbing tests (SURVEY S1-S8): binaryFile scan with a
file-name predicate, mapInPandas one-to-many decode, partitioned
parquet sink, name-list merge, solvent dimension builders."""

from __future__ import annotations

import shutil
from pathlib import Path
from urllib.parse import unquote

import pytest
from pyspark.sql import functions as F

from orderly_spark.sources import ord as O
from orderly_spark.sources import ord_wire as W
from orderly_spark.sources import solvents as SV

FIXDIR = Path(__file__).parent / "tmp_ord_fixtures"


def _rxn(rxn_str: str, reactants: list[str], products: list[tuple[str, float | None]],
         is_mapped: bool) -> bytes:
    return W.encode_reaction(
        cxsmiles=rxn_str,
        is_mapped=is_mapped,
        inputs=[("m", [W.encode_compound([(2, r)], 1) for r in reactants])],
        products=products,
    )


@pytest.fixture(scope="module")
def ord_dir():
    if FIXDIR.exists():
        shutil.rmtree(FIXDIR)
    (FIXDIR / "uspto").mkdir(parents=True)
    (FIXDIR / "other").mkdir(parents=True)
    rows_a = [
        _rxn("CC>O>CCO", ["CC"], [("CCO", 90.0)], True),
        _rxn("N>O>NO", ["N"], [("NO", None)], False),
    ]
    rows_b = [_rxn("C>N>CN", ["C"], [("CN", 50.0)], True)]
    (FIXDIR / "uspto" / "uspto-a.pb.gz").write_bytes(W.dataset_pb_gz(rows_a))
    (FIXDIR / "other" / "b.pb.gz").write_bytes(W.dataset_pb_gz(rows_b))
    (FIXDIR / "other" / "ignore.txt").write_bytes(b"not a dataset")
    yield str(FIXDIR)
    shutil.rmtree(FIXDIR, ignore_errors=True)


def test_scan_glob_and_skip(spark, ord_dir):
    files = O.scan_ord_files(spark, ord_dir)
    assert files.count() == 2  # .txt pruned by glob
    skipped = O.scan_ord_files(spark, ord_dir, name_contains="uspto", inverse=True)
    assert skipped.count() == 1


@pytest.fixture(scope="module")
def named_root(tmp_path_factory):
    """Dataset files under directories whose NAMES contain the filter
    substring: only the file names may decide a match."""
    root = tmp_path_factory.mktemp("names") / "data_USPTO_root"
    (root / "other").mkdir(parents=True)
    (root / "plain").mkdir()
    one = W.dataset_pb_gz([W.encode_reaction(cxsmiles="C>N>O")])
    for rel in ("other/b.pb.gz", "Uspto.Grants-2001.pb.gz", "plain/uspto-a.pb.gz"):
        (root / rel).write_bytes(one)
    return str(root)


def _names(files) -> set[str]:
    return {r.path.rsplit("/", 1)[-1] for r in files.select("path").collect()}


@pytest.mark.parametrize(
    "substring, inverse, want",
    [
        # keep/skip by file name; 'other/b.pb.gz' sits under a
        # directory whose name contains the substring
        ("uspto", False, {"Uspto.Grants-2001.pb.gz", "uspto-a.pb.gz"}),
        ("uspto", True, {"b.pb.gz"}),
        # case-insensitive, on both sides
        ("USPTO", False, {"Uspto.Grants-2001.pb.gz", "uspto-a.pb.gz"}),
        # the name is normalised '.' -> '-' before the match
        ("uspto-grants-2001-pb", False, {"Uspto.Grants-2001.pb.gz"}),
        ("uspto-grants-2001-pb", True, {"b.pb.gz", "uspto-a.pb.gz"}),
        # a directory name alone never matches
        ("root", False, set()),
        ("other", True, {"b.pb.gz", "Uspto.Grants-2001.pb.gz", "uspto-a.pb.gz"}),
    ],
)
def test_scan_name_filter_matches_file_name_only(spark, named_root, substring, inverse, want):
    files = O.scan_ord_files(spark, named_root, name_contains=substring, inverse=inverse)
    assert _names(files) == want


def test_scan_name_filter_drops_files_before_the_byte_scan(spark, tmp_path):
    """The name filter runs on a path-only listing, so a dropped file
    is not among the byte scan's input files; kept names with glob
    characters are read as written; dropping every file leaves an
    empty scan, not an error."""
    one = W.dataset_pb_gz([W.encode_reaction(cxsmiles="C>N>O")])
    for rel in ("a/keep.pb.gz", "a/keep[1].pb.gz", "a/keep1.pb.gz", "b/skip_big.pb.gz"):
        (tmp_path / rel).parent.mkdir(exist_ok=True)
        (tmp_path / rel).write_bytes(one)
    files = O.scan_ord_files(spark, str(tmp_path), name_contains="skip_", inverse=True)
    kept = ["keep.pb.gz", "keep1.pb.gz", "keep[1].pb.gz"]
    assert sorted(unquote(p.rsplit("/", 1)[-1]) for p in files.inputFiles()) == kept
    assert sorted(r.path.rsplit("/", 1)[-1] for r in files.select("path").collect()) == kept
    none = O.scan_ord_files(spark, str(tmp_path), name_contains="no_such_name")
    assert none.inputFiles() == []
    assert none.columns == files.columns
    assert O.decode_reactions(none).count() == 0


def test_decode_reactions_roundtrip(spark, ord_dir):
    files = O.scan_ord_files(spark, ord_dir)
    df = O.decode_reactions(files)
    rows = {r.rxn_str: r for r in df.collect()}
    assert set(rows) == {"CC>O>CCO", "N>O>NO", "C>N>CN"}
    assert rows["CC>O>CCO"].reactants == ["CC"]
    assert rows["CC>O>CCO"].yields == [90.0]
    assert rows["N>O>NO"].yields == [None]  # null slot survives Arrow
    assert rows["C>N>CN"].extracted_from_file == "b.pb.gz"


def test_default_decoder_is_wire_protobuf(spark, tmp_path):
    """decode_reactions' DEFAULT decoder is the pure-Python ORD
    protobuf wire codec — a real .pb.gz Dataset decodes end to end
    with ord-schema absent (closing S2)."""
    d = tmp_path / "ord_pb"
    d.mkdir()
    rxn = W.encode_reaction(
        cxsmiles="CC>O>CCO |f:0.2|",
        inputs=[("m1", [W.encode_compound([(2, "CC")], 1)])],
        products=[("CCO", 88.0)],
    )
    (d / "a.pb.gz").write_bytes(W.dataset_pb_gz([rxn]))
    files = O.scan_ord_files(spark, str(d))
    rows = O.decode_reactions(files).collect()
    assert len(rows) == 1
    assert rows[0].rxn_str == "CC>O>CCO"
    assert rows[0].reactants == ["CC"]
    assert rows[0].products == ["CCO"]
    assert rows[0].yields == [88.0]
    assert rows[0].extracted_from_file == "a.pb.gz"


def test_write_extracted_partitioned(spark, ord_dir, tmp_path_factory):
    out = str(FIXDIR / "out_parquet")
    files = O.scan_ord_files(spark, ord_dir)
    O.write_extracted(O.decode_reactions(files), out)
    back = spark.read.parquet(out)
    assert back.count() == 3
    # partitionBy(extracted_from_file) → one subdir per source file
    subdirs = {p.name for p in Path(out).iterdir() if p.is_dir()}
    assert subdirs == {"extracted_from_file=uspto-a.pb.gz", "extracted_from_file=b.pb.gz"}


def test_merge_molecule_names(spark):
    names = spark.createDataFrame(
        [("b",), ("a",), ("b",), (None,)], "name string"
    )
    got = [r.name for r in O.merge_molecule_names(names).collect()]
    assert got == ["a", "b"]


def test_solvent_dimension_builders(spark):
    dim = SV.sample_solvents(spark)
    nmap = SV.name_to_smiles_map(dim)
    got = {r.name: r.smiles for r in nmap.collect()}
    assert got["thf"] == "C1CCOC1"  # F11: lower-cased keys
    assert got["water"] == "O"

    sset = SV.solvent_smiles_set(dim).collect()[0].solvent_set
    assert "O" in sset and sset == sorted(sset)


def test_apply_name_replacements(spark):
    dim = SV.sample_solvents(spark)
    mapdf = SV.name_to_smiles_map(dim).agg(
        F.map_from_arrays(F.collect_list("name"), F.collect_list("smiles")).alias("m")
    )
    df = spark.createDataFrame([(["THF", "Water", "unknown"],)], "xs array<string>").join(
        F.broadcast(mapdf)
    )
    got = df.select(
        SV.apply_name_replacements(F.col("xs"), F.col("m")).alias("o")
    ).collect()[0].o
    assert got == ["C1CCOC1", "O", "unknown"]


def test_name_list_csv_round_trip(spark):
    names = spark.createDataFrame([("b",), ("a",), ("b",)], "name string")
    path = str(FIXDIR / "names_csv")
    merged = O.merge_molecule_names(names)
    O.save_name_list(merged, path)
    back = [r.name for r in O.load_name_list(spark, path).orderBy("name").collect()]
    assert back == ["a", "b"]


def test_packaged_solvents_full_dimension(spark):
    """The packaged dimension is the full 615-row public table
    (reference orderly/data/solvents.py:12-29 layout) and both lookup
    structures build from it."""
    dim = SV.default_solvents(spark)
    assert dim.count() == 615
    cols = set(dim.columns)
    assert {"solvent_name_1", "solvent_name_2", "solvent_name_3", "cas_number", "smiles"} <= cols
    nmap = SV.name_to_smiles_map(dim)
    assert nmap.filter(nmap.name == "water").count() == 1
    sset = SV.solvent_smiles_set(dim).collect()[0].solvent_set
    assert "O" in sset and len(sset) > 500


def test_packaged_solvent_smiles_match_spark_reader(spark):
    """The driver-side parse of the packaged solvents.csv is the set
    Spark's CSV reader collects, in the same order, and ships as the same
    literal."""
    want = SV.solvent_smiles_set(SV.default_solvents(spark)).collect()[0].solvent_set
    got = SV.packaged_solvent_smiles()
    assert len(got) == 561
    assert list(got) == want
    literal = SV.smiles_set_literal(got)
    assert spark.range(1).select(literal.alias("s")).collect()[0].s == want


def test_name_list_frame_writes_the_same_csv(spark, tmp_path):
    """A driver-held name list written through ``name_list_frame`` gives
    the bytes a ``createDataFrame`` frame gives, odd characters and the
    empty list included."""
    def csv_text(d):
        return "".join(f.read_text() for f in sorted(d.glob("*.csv")))

    for names in (["", "123", "a'b", "C${x}", "\\n", "ü"], []):
        O.save_name_list(O.name_list_frame(spark, names), str(tmp_path / "lit"))
        O.save_name_list(spark.createDataFrame([(n,) for n in names], "name string"), str(tmp_path / "cdf"))
        assert csv_text(tmp_path / "lit") == csv_text(tmp_path / "cdf"), names


def test_write_extracted_reextract_keeps_other_partitions(spark, ord_dir):
    """Review regression (data loss): re-extracting ONE dataset must
    overwrite only its own partition — Spark's default STATIC
    partition-overwrite truncates the whole output directory first."""
    out = str(FIXDIR / "out_reextract")
    files = O.scan_ord_files(spark, ord_dir)
    full = O.decode_reactions(files)
    O.write_extracted(full, out)
    n_before = spark.read.parquet(out).count()
    # re-extract just the b.pb.gz dataset
    one = full.filter(F.col("extracted_from_file") == "b.pb.gz")
    O.write_extracted(one, out)
    back = spark.read.parquet(out)
    assert back.count() == n_before  # a-partition survived the rewrite
    assert back.filter(F.col("extracted_from_file") == "b.pb.gz").count() == 1


def test_corrupt_wire_quarantine_and_audit(spark, tmp_path):
    """r11: corrupt .pb.gz handling at fleet scale. The DEFAULT is the
    reference-faithful LOUD abort (one corrupt file fails the job —
    never silent data loss); on_error='skip' quarantines corrupt files
    and decode_errors() over the same scan names each one with its
    error class, so skip + audit together lose nothing silently."""
    d = tmp_path / "ord_mixed"
    d.mkdir()
    good = W.dataset_pb_gz([W.encode_reaction(cxsmiles="C>N>O")])
    (d / "good.pb.gz").write_bytes(good)
    (d / "truncated.pb.gz").write_bytes(good[:20])          # mid-gzip EOF
    (d / "badwire.pb.gz").write_bytes(b"\x0a\x05ab")        # LEN overruns
    files = O.scan_ord_files(spark, str(d))

    # default: loud abort
    with pytest.raises(Exception):
        O.decode_reactions(files).collect()

    # skip: the good file's row survives, corrupt files yield nothing
    rows = O.decode_reactions(files, on_error="skip").collect()
    assert [r.extracted_from_file for r in rows] == ["good.pb.gz"]
    assert rows[0].rxn_str == "C>N>O"

    # audit: exactly the corrupt files, with their error classes
    errs = {r.file: r.error_class for r in O.decode_errors(files).collect()}
    assert set(errs) == {"truncated.pb.gz", "badwire.pb.gz"}
    assert errs["badwire.pb.gz"] == "ValueError"
    assert errs["truncated.pb.gz"] in ("EOFError", "BadGzipFile")

    with pytest.raises(ValueError):
        O.decode_reactions(files, on_error="quarantine")  # unknown mode


def test_total_skip_guard(spark, tmp_path):
    """r12 advice: on_error='skip' must not let a systemic decoder bug
    masquerade as an empty corpus — a task whose ≥8 files ALL fail
    raises; below the threshold (or with any good file present) the
    quarantine stays quiet."""
    d = tmp_path / "ord_all_bad"
    d.mkdir()
    for i in range(8):
        (d / f"bad{i}.pb.gz").write_bytes(b"\x0a\x05ab")
    files = O.scan_ord_files(spark, str(d)).repartition(1)
    with pytest.raises(Exception, match="systemic decoder bug"):
        O.decode_reactions(files, on_error="skip").collect()

    # one good file in the task → quarantine proceeds quietly
    (d / "good.pb.gz").write_bytes(
        W.dataset_pb_gz([W.encode_reaction(cxsmiles="C>N>O")])
    )
    files = O.scan_ord_files(spark, str(d)).repartition(1)
    rows = O.decode_reactions(files, on_error="skip").collect()
    assert [r.extracted_from_file for r in rows] == ["good.pb.gz"]

    # below the threshold, all-corrupt is accepted as (audited) tail
    d2 = tmp_path / "ord_small_bad"
    d2.mkdir()
    for i in range(7):
        (d2 / f"bad{i}.pb.gz").write_bytes(b"\x0a\x05ab")
    files2 = O.scan_ord_files(spark, str(d2)).repartition(1)
    assert O.decode_reactions(files2, on_error="skip").count() == 0

    # r13 (ADVICE): the guard is configurable for directory-clustered
    # genuine corruption — raised past the cluster size or disabled,
    # the 8-file all-corrupt task quarantines quietly instead of
    # aborting; a nonsense threshold is rejected at plan time
    files8 = O.scan_ord_files(spark, str(d), name_contains="good", inverse=True).repartition(1)
    assert O.decode_reactions(files8, on_error="skip", total_skip_guard=None).count() == 0
    assert O.decode_reactions(files8, on_error="skip", total_skip_guard=20).count() == 0
    with pytest.raises(ValueError, match="total_skip_guard"):
        O.decode_reactions(files8, on_error="skip", total_skip_guard=1)
