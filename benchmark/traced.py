"""The traced run: per-layer metrics, measured from outside the program.

Each layer call of one pass is wrapped in a span (see
:mod:`benchmark.tracing`), and each layer's output is materialised
inside its span, because Spark only does a layer's work when an action
runs. Stage metrics (run time, shuffle, spill, job counts) come from
Spark's event log, read back after the session stops; CPU comes from
``/proc`` for the JVM and its Python workers. Set-up is the timed
run's: :func:`~benchmark.workloads.start_session` and a pass over the
warm-up corpus. The traced pass over the full corpus comes next, as
the timed pass does in the timed run; an untraced pass follows it, so
``trace.overhead_s`` is the traced pass minus the untraced one. The run
also makes single-process kernel microbenchmarks on the workload's own
inputs.

Metrics of a layer that a workload does not run are reported as 0.
"""

from __future__ import annotations

import gzip
import hashlib
import json
import os
import shutil
import time
from pathlib import Path

import pyarrow.parquet as pq

from benchmark import gen
from benchmark.tracing import (
    EventLog,
    Tracer,
    job_busy_s,
    peak_rss_mb,
    read_event_log,
    self_time,
    span_stage_metrics,
)
from benchmark.workloads import (
    FP_SIZE,
    NUM_REACTANT,
    SIZES,
    SLOTS,
    check_ord_outputs,
    checked_pass,
    inputs,
    jvm_pid,
    log,
    min_frequency,
    oracle_rows,
    ord_paths,
    shutdown,
    start_session,
    warmup_pass,
)

_ORD_LAYER_METRICS = [
    ("session.start_s", "s"), ("session.warmup_s", "s"), ("session.peak_rss_mb", "MB"),
    ("sources.files", "count"), ("sources.rxn_decoded", "count"), ("sources.decode_s", "s"),
    ("sources.decode_cpu_s", "s"), ("sources.self_s", "s"), ("ord_wire.us_per_rxn", "us"),
    ("extract.rows_in", "count"), ("extract.rows_out", "count"), ("extract.valid_frac", "ratio"),
    ("extract.transform_s", "s"), ("extract.write_s", "s"), ("extract.names_s", "s"),
    ("extract.names_out", "count"), ("extract.written_mb", "MB"), ("extract.self_s", "s"),
    ("cleaning.merge_s", "s"), ("cleaning.merge_rows", "count"), ("cleaning.build_s", "s"),
    ("cleaning.exec_s", "s"), ("cleaning.barrier_jobs", "count"), ("cleaning.rows_unresolved", "count"),
    ("cleaning.rows_filtered", "count"), ("cleaning.rows_dedup1", "count"), ("cleaning.rows_rare", "count"),
    ("cleaning.rows_dedup2", "count"), ("cleaning.dup_frac", "ratio"), ("cleaning.split_s", "s"),
    ("cleaning.train_rows", "count"), ("cleaning.test_rows", "count"), ("cleaning.leak_moved", "count"),
    ("cleaning.write_s", "s"), ("cleaning.written_mb", "MB"), ("cleaning.cpu_s", "s"),
    ("cleaning.shuffle_read_mb", "MB"), ("cleaning.shuffle_write_mb", "MB"), ("cleaning.spill_mb", "MB"),
    ("cleaning.self_s", "s"),
    ("chem.genfp_s", "s"), ("chem.cpu_s", "s"), ("chem.rows", "count"), ("chem.slot_fills", "count"),
    ("chem.distinct_mols", "count"), ("chem.memo_bound", "ratio"), ("chem.written_mb", "MB"),
    ("chem.self_s", "s"), ("smiles.morgan_us_per_mol", "us"), ("smiles.canon_us_per_mol", "us"),
]
_REGISTRY_LAYER_METRICS = [
    (f"q.{q}.{m}", u) for q in SLOTS
    for m, u in (("build_s", "s"), ("exec_s", "s"), ("rows", "count"), ("cpu_s", "s"), ("shuffle_mb", "MB"))
] + [("dedup.prefix_candidates", "count"), ("dedup.prefix_pairs", "count")]
_HOST_METRICS = [
    ("host.calib_py_s", "s"), ("host.calib_jvm_s", "s"), ("host.nproc", "count"),
    ("trace.pipeline_s", "s"), ("trace.overhead_s", "s"), ("trace.unattributed_s", "s"),
    ("trace.job_share", "ratio"), ("trace.decode_chem_share", "ratio"),
]
#: every per-layer metric, in BENCHMARK.json order
PER_LAYER: list[tuple[str, str]] = _ORD_LAYER_METRICS + _REGISTRY_LAYER_METRICS + _HOST_METRICS


def calibrate(spark) -> tuple[float, float]:
    """Fixed-work host probes: 1.5M chained sha256 rounds on the driver
    (one core) and a codegen'd sum over 4e8 ids on every local slot."""
    t0 = time.perf_counter()
    b = b"orderly-spark-calibration-block-64-bytes-long-0123456789abcdef!"
    for _ in range(1_500_000):
        b = hashlib.sha256(b).digest() + b[32:]
    py_s = time.perf_counter() - t0
    spark.range(1000).selectExpr("sum(id * 2 + id % 7) AS s").collect()
    t0 = time.perf_counter()
    spark.range(400_000_000).selectExpr("sum(id * 2 + id % 7) AS s").collect()
    return py_s, time.perf_counter() - t0


# -- kernel microbenchmarks ------------------------------------------------------

def ord_wire_us_per_rxn(data: Path) -> float:
    """Single-process decode of the workload's own ``.pb.gz`` files."""
    from orderly_spark.sources import ord_wire

    blobs = [gzip.decompress(p.read_bytes()) for p in sorted(data.rglob("*.pb.gz"))]
    n, t0 = 0, time.perf_counter()
    for blob in blobs:
        for rxn in ord_wire.iter_dataset_reactions(blob):
            ord_wire.reaction_to_row(rxn)
            n += 1
    return (time.perf_counter() - t0) * 1e6 / n


def smiles_us_per_mol(mols: list[str]) -> tuple[float, float]:
    """Single-process Morgan fingerprint and canonical SMILES per molecule."""
    from orderly_spark.functions.smiles import canonical_smiles, morgan_fingerprint

    t0 = time.perf_counter()
    for s in mols:
        morgan_fingerprint(s, radius=3, n_bits=FP_SIZE)
    t1 = time.perf_counter()
    for s in mols:
        canonical_smiles(s)
    t2 = time.perf_counter()
    return (t1 - t0) * 1e6 / len(mols), (t2 - t1) * 1e6 / len(mols)


# -- ord_e2e ---------------------------------------------------------------------

def _traced_ord_pass(spark, tr: Tracer, data: Path, out: Path, cfg) -> tuple[dict, object, object]:
    """The extract → clean → gen-fp pass with one span per layer call;
    mirrors ``orderly_spark.cli`` step by step. Returns the row counts and
    the materialised merged and cleaned frames."""
    from pyspark.sql import functions as F

    from orderly_spark import cli
    from orderly_spark.operators import cleaning as C
    from orderly_spark.operators.extract import extract_reactions, molecule_name_side_output
    from orderly_spark.sources import solvents as SV
    from orderly_spark.sources.ord import (
        decode_reactions,
        load_name_list,
        proto_decoder,
        save_name_list,
        scan_ord_files,
        write_extracted,
    )

    p = ord_paths(out)
    n = {}
    with tr.span("pipeline"):
        with tr.span("extract"):
            with tr.span("sources"):
                files = scan_ord_files(spark, str(data))
                n["files"] = files.count()
                decoded = decode_reactions(files, decoder=proto_decoder).localCheckpoint()
                n["decoded"] = decoded.count()
            with tr.span("extract.transform"):
                smiles = SV.solvent_smiles_set(SV.default_solvents(spark)).collect()[0].solvent_set
                sset = F.array(*[F.lit(s) for s in smiles]) if smiles else None
                extracted = extract_reactions(decoded, solvent_set=sset, trust_labelling=False).localCheckpoint()
                n["extracted"] = extracted.count()
            with tr.span("extract.write"):
                write_extracted(extracted, str(p["extracted"]))
            with tr.span("extract.names"):
                names = molecule_name_side_output(decoded).localCheckpoint()
                n["names"] = names.count()
                save_name_list(names, str(p["names"]))
        with tr.span("cleaning"):
            with tr.span("cleaning.merge"):
                merged = C.merge_extracted(spark, str(p["extracted"])).localCheckpoint()
                n["merged"] = merged.count()
            with tr.span("cleaning.build"):
                cleaned = C.clean_pipeline(merged, load_name_list(spark, str(p["names"])), cfg)
            with tr.span("cleaning.exec"):
                cleaned = cleaned.localCheckpoint()
                n["cleaned"] = cleaned.count()
            with tr.span("cleaning.split"):
                train, test = C.train_test_split(cleaned, cfg)
                n["train"], n["test"] = train.count(), test.count()
            with tr.span("cleaning.write"):
                train.write.mode("overwrite").parquet(str(p["train"]))
                test.write.mode("overwrite").parquet(str(p["test"]))
        with tr.span("chem"):
            rc = cli.main(["gen-fp", "--clean-data-path", str(p["train"]), "--output-path", str(p["fp"]),
                           "--fp-size", str(FP_SIZE), "--reactant-slots", str(NUM_REACTANT)])
            if rc != 0:
                raise RuntimeError(f"gen-fp exited with {rc}")
    return n, merged, cleaned


def clean_stage_counts(merged, names, cfg) -> dict[str, int]:
    """Row counts after each stage of ``clean_pipeline`` for the
    remove-rare-rows configuration, rebuilt from the public stage
    functions in the pipeline's order."""
    from orderly_spark.operators import cleaning as C

    out = C.handle_unresolved_names(merged, names, cfg).localCheckpoint()
    counts = {"rows_unresolved": out.count()}
    out = C.remove_reactants_equal_products(C.require_core_components(C.trim_components(out, cfg)))
    if cfg.consistent_yield:
        out = C.enforce_yield_consistency(out)
    out = out.localCheckpoint()
    counts["rows_filtered"] = out.count()
    out = C.dedup_reactions(out, cfg, include_yields=cfg.consistent_yield).localCheckpoint()
    counts["rows_dedup1"] = out.count()
    rare = C.remove_rows_with_rare_molecules(out, C.condition_value_counts(out), cfg.min_frequency_of_occurrence)
    rare = rare.localCheckpoint()
    counts["rows_rare"] = rare.count()
    counts["rows_dedup2"] = C.dedup_reactions(rare, cfg, include_yields=cfg.consistent_yield).count()
    return counts


def split_before_repair(cleaned, cfg) -> int:
    """Rows the seeded split alone sends to train, before leakage repair:
    the program's own routing over the cleaned rows with each reaction
    made unique, so no hash group has a second member to pull across."""
    from pyspark.sql import functions as F

    from orderly_spark.operators import cleaning as C

    unique = cleaned.withColumn("reactants", F.array().cast("array<string>")).withColumn(
        "products", F.array(F.col("original_index").cast("string"))
    )
    return C.train_test_split_routed(unique, cfg).filter("__to_train").count()


def trace_ord(spark, pid, data, facts, out_root, m) -> tuple[list[list[str]], Tracer]:
    """A traced and an untraced pass over the full corpus. Returns the
    failures of each pass and the tracer."""
    from orderly_spark.operators import cleaning as C
    from orderly_spark.sources.ord import load_name_list

    k = min_frequency(facts["reactions"])
    # the traced pass comes first, where the timed run's timed pass is
    cfg = C.CleanConfig(min_frequency_of_occurrence=k)
    tr = Tracer(f"ord_e2e-{facts['reactions']}", spark.sparkContext, pid)
    out = out_root / "traced"
    n, merged, cleaned = _traced_ord_pass(spark, tr, data / "data", out, cfg)
    untraced_s, untraced_bad, want = checked_pass("ord_e2e", spark, data, facts, out_root / "plain")
    bad, got, counts = check_ord_outputs(out, facts, k)
    if got != want:
        bad.append(f"traced outputs {got} differ from untraced {want}")

    p = ord_paths(out)
    stages = clean_stage_counts(merged, load_name_list(spark, str(p["names"])), cfg)
    if stages["rows_dedup2"] != n["cleaned"]:
        bad.append(f"stage counts end at {stages['rows_dedup2']} rows, clean_pipeline gave {n['cleaned']}")

    span = {s.name: s for s in tr.spans}
    root = span["pipeline"]
    ext = pq.read_table(p["extracted"], columns=["rxn_str"])
    train = pq.read_table(p["train"], columns=["reactants", "products"])
    # gen-fp calls the fingerprint kernel once per (row, slot): product 0
    # and reactant slots 0..NUM_REACTANT-1
    mols = sorted({
        s for r, q in zip(train.column("reactants").to_pylist(), train.column("products").to_pylist())
        for s in (q or [])[:1] + (r or [])[:NUM_REACTANT] if s is not None
    })
    fills = train.num_rows * (1 + NUM_REACTANT)
    m.update({
        "sources.files": n["files"], "sources.rxn_decoded": n["decoded"],
        "sources.decode_s": span["sources"].duration,
        "sources.decode_cpu_s": span["sources"].cpu_end - span["sources"].cpu_start,
        "sources.self_s": self_time(tr, span["sources"]),
        "ord_wire.us_per_rxn": ord_wire_us_per_rxn(data),
        "extract.rows_in": n["decoded"], "extract.rows_out": n["extracted"],
        "extract.valid_frac": 1 - ext.column("rxn_str").null_count / max(1, ext.num_rows),
        "extract.transform_s": span["extract.transform"].duration,
        "extract.write_s": span["extract.write"].duration,
        "extract.names_s": span["extract.names"].duration,
        "extract.names_out": n["names"],
        "extract.written_mb": gen.dir_mb(p["ext"]),
        "extract.self_s": sum(self_time(tr, s) for s in tr.spans
                              if s.name == "extract" or s.name.startswith("extract.")),
        "cleaning.merge_s": span["cleaning.merge"].duration, "cleaning.merge_rows": n["merged"],
        "cleaning.build_s": span["cleaning.build"].duration, "cleaning.exec_s": span["cleaning.exec"].duration,
        **{f"cleaning.{key}": v for key, v in stages.items()},
        "cleaning.dup_frac": 1 - stages["rows_dedup1"] / max(1, stages["rows_filtered"]),
        "cleaning.split_s": span["cleaning.split"].duration,
        "cleaning.train_rows": n["train"], "cleaning.test_rows": n["test"],
        "cleaning.leak_moved": n["train"] - split_before_repair(cleaned, cfg),
        "cleaning.write_s": span["cleaning.write"].duration,
        "cleaning.written_mb": gen.dir_mb(p["clean"]),
        "cleaning.cpu_s": span["cleaning"].cpu_end - span["cleaning"].cpu_start,
        "cleaning.self_s": sum(self_time(tr, s) for s in tr.spans
                               if s.name == "cleaning" or s.name.startswith("cleaning.")),
        "chem.genfp_s": span["chem"].duration, "chem.cpu_s": span["chem"].cpu_end - span["chem"].cpu_start,
        "chem.rows": counts["fp"], "chem.slot_fills": fills, "chem.distinct_mols": len(mols),
        "chem.memo_bound": len(mols) / max(1, fills), "chem.written_mb": gen.dir_mb(p["fp"]),
        "chem.self_s": self_time(tr, span["chem"]),
        "trace.pipeline_s": root.duration, "trace.overhead_s": root.duration - untraced_s,
        "trace.unattributed_s": self_time(tr, root),
        "trace.decode_chem_share": (span["sources"].duration + span["chem"].duration) / root.duration,
    })
    morgan, canon = smiles_us_per_mol(mols[:400])
    m["smiles.morgan_us_per_mol"], m["smiles.canon_us_per_mol"] = morgan, canon
    log(f"traced pass {root.duration:.3f}s, untraced {untraced_s:.3f}s; digests {got}")
    return [bad, untraced_bad], tr


def ord_stage_metrics(tr: Tracer, ev: EventLog, m: dict) -> None:
    span = {s.name: s for s in tr.spans}
    cl = span_stage_metrics(tr, ev, span["cleaning"])
    m["cleaning.shuffle_read_mb"] = cl["shuffle_read_mb"]
    m["cleaning.shuffle_write_mb"] = cl["shuffle_write_mb"]
    m["cleaning.spill_mb"] = cl["spill_mb"]
    m["cleaning.barrier_jobs"] = span_stage_metrics(tr, ev, span["cleaning.build"])["jobs"]


# -- registry_hot ------------------------------------------------------------------

def trace_registry(spark, pid, sf_dir: str, out_root: Path, m: dict) -> tuple[list[list[str]], Tracer]:
    """A traced and an untraced pass over the full corpus. Returns the
    failures of each pass and the tracer."""
    import orderly_spark.queries  # noqa: F401
    from pyspark.sql import functions as F

    from orderly_spark.operators.dedup import prefix_filter_jaccard_pairs
    from orderly_spark.queries.dedup_battery import _BOILER
    from orderly_spark.registry import REGISTRY
    from orderly_spark.tables import load

    want = oracle_rows(sf_dir)
    # the traced pass comes first, where the timed run's timed pass is
    tr = Tracer("registry_hot", spark.sparkContext, pid)
    bad: list[str] = []
    with tr.span("pipeline") as root:
        for q in SLOTS:
            with tr.span(f"q.{q}") as s:
                with tr.span(f"q.{q}.build"):
                    df = REGISTRY[q].fn(spark, sf_dir)
                with tr.span(f"q.{q}.exec"):
                    s.attrs["rows"] = df.count()
            if s.attrs["rows"] != want[q]:
                bad.append(f"traced {q}: {s.attrs['rows']} rows, oracle {want[q]}")
    untraced_s, untraced_bad, _ = checked_pass("registry_hot", spark, Path(sf_dir), {}, out_root / "plain")
    docs = load(spark, sf_dir, "documents", fan_out=True).select(
        "doc_id", F.concat(F.col("text"), F.lit(_BOILER)).alias("text")
    )
    m["dedup.prefix_candidates"] = prefix_filter_jaccard_pairs(
        docs, "doc_id", "text", shingle_n=3, t_num=1, t_den=2, candidates_only=True
    ).count()
    m["dedup.prefix_pairs"] = want["d_prefix_filter_jaccard_skew"]
    span = {s.name: s for s in tr.spans}
    for q in SLOTS:
        m[f"q.{q}.build_s"] = span[f"q.{q}.build"].duration
        m[f"q.{q}.exec_s"] = span[f"q.{q}.exec"].duration
        m[f"q.{q}.rows"] = span[f"q.{q}"].attrs["rows"]
        m[f"q.{q}.cpu_s"] = span[f"q.{q}"].cpu_end - span[f"q.{q}"].cpu_start
    m["trace.pipeline_s"] = root.duration
    m["trace.overhead_s"] = root.duration - untraced_s
    m["trace.unattributed_s"] = self_time(tr, root)
    log(f"traced pass {root.duration:.3f}s, untraced {untraced_s:.3f}s")
    return [bad, untraced_bad], tr


def registry_stage_metrics(tr: Tracer, ev: EventLog, m: dict) -> None:
    span = {s.name: s for s in tr.spans}
    for q in SLOTS:
        m[f"q.{q}.shuffle_mb"] = span_stage_metrics(tr, ev, span[f"q.{q}"])["shuffle_write_mb"]


# -- entry -------------------------------------------------------------------------

def run_traced(workload: str, seed: int, size: str, work: Path) -> dict:
    import pyspark

    warm_n, n = SIZES[workload][size]
    warm_data, warm_facts = inputs(workload, seed, warm_n, work / "cache")
    data, facts = inputs(workload, seed, n, work / "cache")
    out_root = work / "out_traced"
    shutil.rmtree(out_root, ignore_errors=True)
    log_dir = work / "eventlog"
    for f in log_dir.glob("*"):
        shutil.rmtree(f) if f.is_dir() else f.unlink()

    m: dict[str, float] = dict.fromkeys((name for name, _ in PER_LAYER), 0)
    spark, m["session.start_s"] = start_session()
    try:
        pid = jvm_pid(spark)
        m["session.warmup_s"], warm_bad = warmup_pass(workload, spark, warm_data, warm_facts, out_root / "warmup")
        checks = [warm_bad]
        m["host.nproc"] = len(os.sched_getaffinity(0))
        m["host.calib_py_s"], m["host.calib_jvm_s"] = calibrate(spark)
        log(f"spark {pyspark.__version__} nproc {m['host.nproc']} calib_py {m['host.calib_py_s']:.3f}s "
            f"calib_jvm {m['host.calib_jvm_s']:.3f}s")
        if workload == "ord_e2e":
            more, tr = trace_ord(spark, pid, data, facts, out_root, m)
        else:
            more, tr = trace_registry(spark, pid, str(data), out_root, m)
        checks += more
        m["session.peak_rss_mb"] = peak_rss_mb(pid)
    finally:
        shutdown(spark)
    # the event log is complete only once the session has stopped
    ev = read_event_log(log_dir)
    root = next(s for s in tr.spans if s.name == "pipeline")
    m["trace.job_share"] = job_busy_s(tr, ev, root) / root.duration
    if workload == "ord_e2e":
        ord_stage_metrics(tr, ev, m)
    else:
        registry_stage_metrics(tr, ev, m)
    (work / "spans.json").write_text(json.dumps(tr.to_json(), indent=1))
    shutil.rmtree(out_root, ignore_errors=True)
    failed = sum(1 for c in checks if c)
    units = dict(PER_LAYER)
    return {
        "correct": failed == 0,
        "attempted": len(checks),
        "failed": failed,
        "metrics": {name: {"value": m[name], "unit": units[name]} for name, _ in PER_LAYER},
    }
