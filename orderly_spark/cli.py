"""Command-line surface mirroring the reference's entry points so a
user of ``python -m orderly.extract`` / ``python -m orderly.clean`` /
``python -m orderly.gen_fp`` can switch to ``python -m orderly_spark
extract|clean|gen-fp`` with the same flag vocabulary.

Flag names follow the reference CLIs (extract: main.py:239-454;
clean: cleaner.py:948-1196; gen_fp: fingerprints.py CLI) with
dashes; each subcommand writes the same artifacts (extracted parquet
partitioned by source file + molecule-name CSV; train/test parquet;
fingerprint parquet) plus the reference's config-json lineage record
(S12, main.py:597-610 / cleaner.py:1325-1347).
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path


def _bool_flag(p: argparse.ArgumentParser, name: str, default: bool, help: str) -> None:
    p.add_argument(f"--{name}", dest=name.replace("-", "_"), action=argparse.BooleanOptionalAction, default=default, help=help)


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="orderly_spark", description=__doc__)
    sub = p.add_subparsers(dest="cmd", required=True)

    e = sub.add_parser("extract", help="ORD files -> extracted reaction parquet (reference: orderly.extract)")
    e.add_argument("--data-path", required=True, help="root dir of ORD dataset files")
    e.add_argument("--ord-file-ending", default="*.pb.gz", help="source glob (reference: ord_file_ending)")
    e.add_argument("--output-path", required=True)
    _bool_flag(e, "trust-labelling", False, "keep dataset role labels instead of re-deriving from the rxn string")
    _bool_flag(e, "consider-molecule-names", True, "emit the unresolved molecule-name CSV side output")
    e.add_argument("--name-contains-substring", default=None, help="only files whose name contains this (e.g. uspto)")
    _bool_flag(e, "inverse-substring", False, "invert the substring filter")
    e.add_argument("--solvents-path", default=None, help="solvents.csv override (default: the packaged 615-row dimension)")

    c = sub.add_parser("clean", help="extracted parquet -> cleaned train/test parquet (reference: orderly.clean)")
    c.add_argument("--ord-extraction-path", required=True)
    c.add_argument("--molecules-to-remove-path", required=True, help="name-list CSV of unresolvable identifiers")
    c.add_argument("--output-path", required=True)
    c.add_argument("--num-reactant", type=int, default=5)
    c.add_argument("--num-product", type=int, default=5)
    c.add_argument("--num-solv", type=int, default=2)
    c.add_argument("--num-agent", type=int, default=3)
    c.add_argument("--num-cat", type=int, default=0)
    c.add_argument("--num-reag", type=int, default=0)
    _bool_flag(c, "consistent-yield", True, "enforce per-row yield consistency (P6)")
    c.add_argument("--min-frequency-of-occurrence", type=int, default=100)
    _bool_flag(c, "map-rare-molecules-to-other", False, "map rare to 'other' instead of dropping rows")
    _bool_flag(c, "set-unresolved-names-to-none-if-mapped-rxn-str-exists-else-del-rxn", True, "unresolved-name mode a")
    _bool_flag(c, "remove-rxn-with-unresolved-names", False, "unresolved-name mode b")
    _bool_flag(c, "set-unresolved-names-to-none", False, "unresolved-name mode c")
    _bool_flag(c, "drop-duplicates", True, "seeded-survivor dedup (A6)")
    _bool_flag(c, "scramble", True, "deterministic per-row role-order scramble (F16)")
    c.add_argument("--train-test-split-fraction", type=float, default=0.9)
    c.add_argument("--random-seed", type=int, default=12345)

    g = sub.add_parser("gen-fp", help="cleaned parquet -> Morgan fingerprint columns (reference: orderly.gen_fp)")
    g.add_argument("--clean-data-path", required=True, help="train or test parquet from `clean`")
    g.add_argument("--output-path", required=True)
    g.add_argument("--fp-size", type=int, default=2048)
    g.add_argument("--radius", type=int, default=3)
    g.add_argument(
        "--reactant-slots",
        type=int,
        default=None,
        help="fingerprint only the first N reactants of each row (default: "
        "every reactant); rows that had more are counted in a warning",
    )
    g.add_argument(
        "--npy-output-path",
        default=None,
        help="also export the rxn_fp matrix as a dense .npy in original_index order "
        "(the reference gen_fp artifact, fingerprints.py:50-54; collect-side)",
    )
    return p


def _dump_config(args: argparse.Namespace, out_dir: str, name: str) -> None:
    """S12 lineage record. Written with local file IO — valid for
    local/NFS output paths only; for an object-store output_path
    (s3://, hdfs://) this would land on the driver's local disk
    instead of next to the data (known limitation; route through the
    Hadoop FS API when a remote deployment needs it)."""
    from orderly_spark.functions.smiles import CANON_VERSION

    cfg = {k: v for k, v in vars(args).items() if k != "cmd"}
    # the canonicalisation version, so persisted canonical-SMILES
    # columns from runs of different engine versions can be told apart
    # instead of mixing silently across incremental re-runs
    cfg["canon_version"] = CANON_VERSION
    Path(out_dir).mkdir(parents=True, exist_ok=True)
    (Path(out_dir) / name).write_text(json.dumps(cfg, indent=2, default=str))


def cmd_extract(args: argparse.Namespace) -> int:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from orderly_spark.operators.extract import extract_reactions, unresolved_names_agg
    from orderly_spark.session import get_spark
    from orderly_spark.sources import solvents as SV
    from orderly_spark.sources.ord import (
        decode_reactions,
        name_list_frame,
        save_name_list,
        scan_ord_files,
        write_extracted,
    )

    spark = get_spark("orderly_spark.extract")
    files = scan_ord_files(
        spark,
        args.data_path,
        glob=args.ord_file_ending,
        name_contains=args.name_contains_substring,
        inverse=args.inverse_substring,
    )
    decoded = decode_reactions(files)
    sset = SV.smiles_set_literal(
        SV.packaged_solvent_smiles(args.solvents_path or SV.PACKAGED_SOLVENTS_CSV)
    )
    names = None
    if args.consider_molecule_names:
        # the name list is taken from the DECODED (pre-filter) rows, which
        # hold the numeric/empty names the extract transform strips — on
        # the write job itself, so each file is decoded once
        names = Observation("extract_molecule_names")
        decoded = decoded.observe(names, unresolved_names_agg().alias("names"))
    extracted = extract_reactions(decoded, solvent_set=sset, trust_labelling=args.trust_labelling)
    written = Observation("extract_rows")
    write_extracted(
        extracted.observe(written, F.count(F.lit(1)).alias("n")),
        f"{args.output_path}/extracted_ords",
    )
    if names is not None:
        save_name_list(
            name_list_frame(spark, names.get["names"]), f"{args.output_path}/molecule_names"
        )
    _dump_config(args, args.output_path, "extract_config.json")
    print(f"extracted {written.get['n']} reactions -> {args.output_path}/extracted_ords")
    return 0


def cmd_clean(args: argparse.Namespace) -> int:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from orderly_spark.operators import cleaning as C
    from orderly_spark.session import get_spark
    from orderly_spark.sources.ord import load_name_list

    # the reference's three unresolved-name flags, mapped onto the one
    # mode they select (exclusivity assert, cleaner.py:89-95)
    modes = [
        mode
        for mode, on in zip(C.UNRESOLVED_NAME_MODES, (
            args.set_unresolved_names_to_none_if_mapped_rxn_str_exists_else_del_rxn,
            args.remove_rxn_with_unresolved_names,
            args.set_unresolved_names_to_none,
        ))
        if on
    ]
    if len(modes) != 1:
        print("exactly one unresolved-name mode must be set", file=sys.stderr)
        return 2
    spark = get_spark("orderly_spark.clean")
    cfg = C.CleanConfig(
        num_reactant=args.num_reactant,
        num_product=args.num_product,
        num_solv=args.num_solv,
        num_agent=args.num_agent,
        num_cat=args.num_cat,
        num_reag=args.num_reag,
        consistent_yield=args.consistent_yield,
        min_frequency_of_occurrence=args.min_frequency_of_occurrence,
        map_rare_molecules_to_other=args.map_rare_molecules_to_other,
        unresolved_names=modes[0],
        drop_duplicates=args.drop_duplicates,
        scramble=args.scramble,
        train_test_split_fraction=args.train_test_split_fraction,
        seed=args.random_seed,
    )
    df = C.merge_extracted(spark, args.ord_extraction_path)
    names = load_name_list(spark, args.molecules_to_remove_path)
    cleaned = C.clean_pipeline(df, names, cfg)
    train, test = C.train_test_split(cleaned, cfg)
    counts = {}
    for name, part in (("train", train), ("test", test)):
        counts[name] = Observation(f"clean_{name}_rows")
        part.observe(counts[name], F.count(F.lit(1)).alias("n")).write.mode(
            "overwrite"
        ).parquet(f"{args.output_path}/{name}.parquet")
    _dump_config(args, args.output_path, "clean_config.json")
    print(
        f"cleaned -> {counts['train'].get['n']} train / {counts['test'].get['n']} "
        f"test rows in {args.output_path}"
    )
    return 0


def cmd_gen_fp(args: argparse.Namespace) -> int:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from orderly_spark.functions import chem
    from orderly_spark.session import get_spark

    spark = get_spark("orderly_spark.gen_fp")
    df = spark.read.parquet(args.clean_data_path)
    # Invariants (fingerprints.py:59-74):
    # - rxn_diff_fp = product_fp − Σ fp(r) over every reactant r, and
    #   rxn_fp = concat(rxn_diff_fp, product_fp), 2·fp_size wide; a null
    #   member contributes zeros.
    # - --reactant-slots N truncates each row's reactants to the first N.
    #   Rows it cut are counted on the SAME job that writes the output
    #   (an Observation, no extra pass), and a warning names them.
    reactants = F.col("reactants")
    counts = [F.count(F.lit(1)).alias("n_rows")]
    if args.reactant_slots is not None:
        slots = max(args.reactant_slots, 0)
        reactants = F.slice(reactants, 1, slots)
        counts.append(F.count(F.when(F.size("reactants") > slots, 1)).alias("n_over"))
    guard = Observation("genfp_rows")
    df = df.observe(guard, *counts)
    fps = chem.reaction_fingerprint_udf(n_bits=args.fp_size, radius=args.radius)(
        F.col("products"), reactants
    )
    out = (
        df.select("*", fps.alias("__fp"))
        .select(*[df[c] for c in df.columns], "__fp.product_fp", "__fp.rxn_diff_fp")
        .withColumn("rxn_fp", F.concat(F.col("rxn_diff_fp"), F.col("product_fp")))
    )
    out.write.mode("overwrite").parquet(args.output_path)
    if guard.get.get("n_over"):
        print(
            f"WARNING: gen-fp: {guard.get['n_over']} rows have more than {slots} "
            "reactants; --reactant-slots OMITTED their extra reactants from the "
            "fingerprint difference",
            file=sys.stderr,
        )
    n = guard.get["n_rows"]
    print(f"fingerprints ({2 * args.fp_size} wide) for {n} rows -> {args.output_path}")
    if args.npy_output_path:
        back = spark.read.parquet(args.output_path)
        shape = chem.export_fingerprint_matrix_npy(
            back, "rxn_fp", args.npy_output_path, "original_index"
        )
        print(f"npy matrix {shape} -> {args.npy_output_path}")
    return 0


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return {"extract": cmd_extract, "clean": cmd_clean, "gen-fp": cmd_gen_fp}[args.cmd](args)
