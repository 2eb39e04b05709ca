"""Measure registry slots: build and execution time, the Spark stages
their jobs ran, and their plan facts, on testdata or on a corpus scaled
from it.

Generate a corpus N times the size of a testdata scale:

    python tools/probe.py --gen --scale 10 --sf-dir testdata/sf0.1 --out sf0.1x10

The N copies are mutually disjoint, so the work grows N-fold through the
same exchanges instead of collapsing in the first dedup or join:

  lineitem   l_orderkey += i*10_000_000; l_partkey += i*2_600_000 (the
             offset is divisible by 13, which keeps the %13 bad-name
             structure and each copy's rare-molecule counts);
             l_suppkey is unchanged, so supplier joins stay valid.
  orders     o_orderkey += i*10_000_000 (o_custkey unchanged).
  part       p_partkey += i*2_600_000.
  documents  doc_id += i*1_000_000, and the text alphabet is rotated by
             i: a bijection on tokens, so every copy keeps the source's
             shingle-df distribution while copies share no vocabulary
             (near-duplicate structure scales N-fold instead of merging
             into one clique). Hence at most 26 copies.
  embeddings vec_id += i*1_000_000 (vectors unchanged; the vec_id < 5
             query set stays five queries).
  customer, supplier, nation, region and events are symlinked.

t_training_prep_pipeline does not scale this way: its decontamination
keys on an absolute doc_id >= 450 eval tail.

Time slots on a corpus:

    python tools/probe.py --sf-dir sf0.1x10 [--slots headline | NAME ...]
                          [--reps 2] [--plans DIR]

The default slots are the benchmark's registry slots; ``headline`` means
bench.py's 24. Each slot is built and counted ``--reps`` times and the
fastest rep is reported. After the session stops, one JSON line per slot
goes to standard output: ``build_s``, ``exec_s`` and ``rows`` of the
fastest rep, ``stages`` (tasks, run/CPU seconds, shuffle and spill MB,
jobs and stages of that rep's Spark jobs, read from the event log),
``build_jobs`` (the jobs of that rep started while its DataFrame was
built: its eager barriers, see ``orderly_spark.session.barrier``),
``py4j`` (the py4j round trips of that rep's build, counted by
``orderly_spark.session.py4j_commands`` as tests/test_build_budget.py
counts them; tables are loaded once before the slots, so a build's
schemas come from the cache),
``plan`` (facts from ``orderly_spark.plans.audit``; ``global_windows``
counts the windows with no partition spec), ``cds`` (whether
the session's JVM mapped the class-data archive, was building one or ran
without one: ``orderly_spark.session.archive_state``), ``codegen`` (the
classes each rep compiled and its seconds of compiling, one value per
rep, from Spark's CodegenMetrics: a rep that reuses every generated
class compiles 0; seconds are null past the first 1028 classes the JVM
compiled, see ``orderly_spark.session.codegen_compiles``), ``jit_s``
(the seconds the JVM's JIT compilers spent while each rep ran, one value
per rep, from ``CompilationMXBean.getTotalCompilationTime``, summed over
the compiler threads, which run beside the tasks) and the host
calibrations ``calib_py``/``calib_jvm`` as [before, after] the slots.
``--plans DIR`` also writes each slot's formatted plan to DIR/NAME.txt.
Launcher settings are the benchmark's traced run (event log on, all
temporary files in one fresh directory); SPARK_GRAFT_CPUS and
SPARK_GRAFT_DRIVER_MEM, when set, still choose the cores and heap.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from benchmark.run import configure_environment  # noqa: E402
from benchmark.traced import calibrate  # noqa: E402
from benchmark.tracing import Tracer, read_event_log, span_stage_metrics  # noqa: E402
from benchmark.workloads import SLOTS, log, shutdown  # noqa: E402

LOWER = "abcdefghijklmnopqrstuvwxyz"
UPPER = LOWER.upper()
#: copied table -> (per-copy key offsets, output partitions)
COPIED = {
    "lineitem": ({"l_orderkey": 10_000_000, "l_partkey": 2_600_000}, 32),
    "orders": ({"o_orderkey": 10_000_000}, 16),
    "part": ({"p_partkey": 2_600_000}, 8),
    "documents": ({"doc_id": 1_000_000}, 16),
    "embeddings": ({"vec_id": 1_000_000}, 16),
}
LINKED = ("customer", "supplier", "nation", "region", "events")
MAX_SCALE = len(LOWER)


def gen(src: str, dst: str, scale: int) -> None:
    """Write ``scale`` disjoint copies of ``src``'s fact tables to ``dst``
    and link its dimensions (see the module docstring)."""
    from pyspark.sql import functions as F

    from orderly_spark.session import get_spark

    spark = get_spark("orderly_spark_probe_gen")
    os.makedirs(dst, exist_ok=True)
    for table, (offsets, parts) in COPIED.items():
        df = spark.read.parquet(f"{src}/{table}.parquet")
        out = None
        for i in range(scale):
            c = df.withColumns({k: F.col(k) + F.lit(i * step) for k, step in offsets.items()})
            if table == "documents":
                rotated = LOWER[i:] + LOWER[:i] + UPPER[i:] + UPPER[:i]
                c = c.withColumn("text", F.translate(F.col("text"), LOWER + UPPER, rotated))
            out = c if out is None else out.unionByName(c)
        out.repartition(parts).write.mode("overwrite").parquet(f"{dst}/{table}.parquet")
    for table in LINKED:
        link = Path(dst) / f"{table}.parquet"
        if not link.exists():
            link.symlink_to(Path(src).resolve() / f"{table}.parquet")
    spark.stop()
    log(f"wrote {scale} copies of {src} to {dst}")


def plan_facts(a) -> dict:
    return {
        "scans": len(a.scans),
        "exchanges": a.n_exchanges,
        "broadcast_joins": a.n_broadcast_joins,
        "sortmerge_joins": a.n_sortmerge_joins,
        "codegen_spans": a.n_codegen_spans,
        "python_udf": a.has_python_udf,
        "global_windows": len(a.global_windows),
    }


def jit_seconds(spark) -> float:
    """Seconds the driver JVM's JIT compilers have spent so far."""
    bean = spark._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    return bean.getTotalCompilationTime() / 1000.0


def run(sf_dir: str, slots: list[str], reps: int, plans: Path | None, work: Path) -> list[dict]:
    """Time ``slots`` on ``sf_dir`` in one fresh session whose temporary
    files and event log go under ``work``; return one record per slot."""
    keep = {k: os.environ[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM") if k in os.environ}
    configure_environment(work, trace=True)
    os.environ.update(keep)

    from orderly_spark.plans.audit import audit
    from orderly_spark.registry import REGISTRY
    from orderly_spark.session import archive_state, codegen_compiles, get_spark, py4j_commands
    from orderly_spark.tables import TABLES, load

    if plans is not None:
        plans.mkdir(parents=True, exist_ok=True)

    spark = get_spark("orderly_spark_probe")
    cds = archive_state(spark)
    tr = Tracer("probe", spark.sparkContext)
    best: dict[str, dict] = {}
    try:
        # first-touch parquet footers and page cache, and the Python worker pool
        for t in TABLES:
            if os.path.exists(f"{sf_dir}/{t}.parquet"):
                load(spark, sf_dir, t).count()
        spark.range(64).repartition(64).mapInPandas(lambda it: it, "id long").count()
        calib = [calibrate(spark)]
        log(f"calib_py {calib[0][0]:.3f}s calib_jvm {calib[0][1]:.3f}s")
        for name in slots:
            runs = []
            codegen = {"classes": [], "compile_s": []}
            jit = []
            for _ in range(reps):
                before, jit_before = codegen_compiles(spark), jit_seconds(spark)
                with tr.span(name) as span:
                    with tr.span(f"{name}.build") as b, py4j_commands(spark) as sent:
                        df = REGISTRY[name].fn(spark, sf_dir)
                    with tr.span(f"{name}.exec") as e:
                        rows = df.count()
                after = codegen_compiles(spark)
                jit.append(round(jit_seconds(spark) - jit_before, 4))
                codegen["classes"].append(after[0] - before[0])
                codegen["compile_s"].append(
                    None if None in (before[1], after[1]) else round(after[1] - before[1], 4)
                )
                a = audit(df)
                # as in bench.py's loop, no finished rep's DataFrame (and the
                # checkpoints it pins) stays alive while the next rep runs
                del df
                runs.append({"build_s": b.duration, "exec_s": e.duration, "rows": rows, "span": span,
                             "build_span": b, "py4j": sent[0], "plan": plan_facts(a)})
            if plans is not None:
                (plans / f"{name}.txt").write_text(a.text)
            best[name] = r = min(runs, key=lambda run: run["span"].duration)
            r["codegen"], r["jit_s"] = codegen, jit
            log(f"{name}: build {r['build_s']:.2f}s exec {r['exec_s']:.2f}s ({r['rows']} rows)")
        calib.append(calibrate(spark))
    finally:
        shutdown(spark)
    # the event log is complete only once the session has stopped
    ev = read_event_log(work / "eventlog")
    out = []
    for name in slots:
        r = best[name]
        stages = span_stage_metrics(tr, ev, r.pop("span"))
        build_jobs = span_stage_metrics(tr, ev, r.pop("build_span"))["jobs"]
        out.append({
            "slot": name,
            "build_s": round(r["build_s"], 4),
            "exec_s": round(r["exec_s"], 4),
            "rows": r["rows"],
            "build_jobs": build_jobs,
            "py4j": r["py4j"],
            "stages": {k: round(v, 4) for k, v in stages.items()},
            "plan": r["plan"],
            "cds": cds,
            "codegen": r["codegen"],
            "jit_s": r["jit_s"],
            "calib_py": [round(c[0], 4) for c in calib],
            "calib_jvm": [round(c[1], 4) for c in calib],
        })
    return out


def main(argv: list[str] | None = None) -> int:
    from orderly_spark.session import DEFAULT_SF_DIR

    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--sf-dir", default=DEFAULT_SF_DIR, help="corpus to time, or the source of --gen")
    ap.add_argument("--gen", action="store_true", help="write a scaled corpus and exit")
    ap.add_argument("--scale", type=int, default=10, help="copies written by --gen")
    ap.add_argument("--out", help="directory --gen writes")
    ap.add_argument("--slots", nargs="+", default=list(SLOTS), help="slot names, or 'headline'")
    ap.add_argument("--reps", type=int, default=2, help="runs per slot; the fastest is reported")
    ap.add_argument("--plans", type=Path, help="write each slot's formatted plan here")
    args = ap.parse_args(argv)

    if args.gen:
        if not args.out:
            ap.error("--gen needs --out")
        if not 1 <= args.scale <= MAX_SCALE:
            ap.error(f"--scale must be 1..{MAX_SCALE}: copies rotate a {MAX_SCALE}-letter alphabet")
        gen(args.sf_dir, args.out, args.scale)
        return 0
    if args.reps < 1:
        ap.error("--reps must be at least 1")
    slots = args.slots
    if slots == ["headline"]:
        import bench

        slots = list(bench.HEADLINE)
    import orderly_spark.queries  # noqa: F401
    from orderly_spark.registry import REGISTRY

    unknown = [s for s in slots if s not in REGISTRY]
    if unknown:
        ap.error(f"unknown slots: {unknown}")
    with tempfile.TemporaryDirectory(prefix="orderly-probe-", ignore_cleanup_errors=True) as work:
        records = run(args.sf_dir, slots, args.reps, args.plans, Path(work))
    for rec in records:
        print(json.dumps(rec), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
