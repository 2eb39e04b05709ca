"""Benchmark entry point.

    python3 benchmark/run.py --workload ord_e2e --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json;
with ``--trace 1`` they are the per-layer metrics of a separate traced
run. Generated inputs and scratch output live under ``.bench_work/`` in
the checkout. Progress goes to standard error.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("ord_e2e", "registry_hot")
#: driver heap for the Spark JVM: well below physical memory on small
#: hosts (the session's own default is 24g)
DRIVER_MEM_MB = 2048


def configure_environment(work: Path, trace: bool) -> None:
    """Launcher settings, applied before the JVM starts: all local cores,
    a bounded driver heap, the checkout on the Python workers' path and
    every temporary file inside ``work``."""
    cpus = len(os.sched_getaffinity(0))
    mem_total_mb = int(Path("/proc/meminfo").read_text().split()[1]) // 1024
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{min(DRIVER_MEM_MB, mem_total_mb // 2)}m"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["TMPDIR"] = str(tmp)
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    if trace:
        log_dir = work / "eventlog"
        log_dir.mkdir(parents=True, exist_ok=True)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir.as_uri(),
            "spark.eventLog.compress": "false",
            # one plain file per application (Spark 4 rolls by default)
            "spark.eventLog.rolling.enabled": "false",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()
    ) + " pyspark-shell"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    # a run is one set-up and one timed pass, which outlasts run_seconds
    ap.add_argument("--seconds", type=float, required=True, help="accepted; a run makes one timed pass")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full", help="tiny: test-sized inputs")
    ap.add_argument("--work-dir", default=".bench_work", help="inputs cache and scratch, relative to the checkout")
    args = ap.parse_args(argv)

    if not (ROOT / "orderly_spark" / "__init__.py").is_file():
        print(f"benchmark: no orderly_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = (ROOT / args.work_dir).resolve()
    configure_environment(work, bool(args.trace))

    from benchmark import workloads

    if args.trace:
        from benchmark import traced

        result = traced.run_traced(args.workload, args.seed, args.size, work)
    else:
        result = workloads.run_timed(args.workload, args.seed, args.size, work)
    sys.stdout.flush()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    # import the benchmark as a package, never its modules as top-level names
    sys.path[0] = str(ROOT)
    sys.exit(main())
