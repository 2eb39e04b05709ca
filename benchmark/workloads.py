"""The benchmark workloads, their timed run and the correctness checks
every pass is held to.

Load shape: batch jobs in a closed loop — one pipeline or query at a
time from one driver process on ``local[nproc]``; the only concurrency
is Spark's own tasks.

Workloads (why each exists):

- ``ord_e2e`` — the reference's whole job on the paper's "dataset D"
  settings (roles re-derived from the rxn string, rare molecules
  deleted, unresolved-name mode (a)): seeded ORD ``.pb.gz`` files →
  ``extract`` → ``clean`` → ``gen-fp``, through ``orderly_spark.cli``.
  The only workload that runs the pure-Python wire decoder and the chem
  kernels.
- ``registry_hot`` — seven registry slots, one at a time, over a seeded
  star-schema corpus: relational join (q5), the clean pipeline and
  leakage split at full scaffold scale, PageRank, prefix-filtered
  Jaccard on a skewed corpus, IVF ANN search and BM25 ranking. The only
  workload that runs ``operators.dedup/similarity/text/graph``; it
  writes nothing, unlike ``ord_e2e``.
"""

from __future__ import annotations

import hashlib
import json
import shutil
import subprocess
import sys
import time
import traceback
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from benchmark import gen

#: (warm-up, timed) corpus sizes per workload: reactions (ord_e2e) or
#: scale factor in thousandths (registry_hot). The warm-up corpus is the
#: one set-up passes over; "tiny" is for the benchmark's own tests. The
#: full sizes make the timed pass mostly the workload's own layers (see
#: README.md, "Sizes") within 22 runs of each workload in under an hour
#: on 4 cores.
SIZES = {
    "ord_e2e": {"full": (120, 3000), "tiny": (120, 120)},
    "registry_hot": {"full": (1, 10), "tiny": (1, 1)},
}

SLOTS = (
    "q5_nation_revenue",
    "c_clean_pipeline_fullscale",
    "c_split_fullscale",
    "g_pagerank_part_supplier",
    "d_prefix_filter_jaccard_skew",
    "s_ivf_cosine_topk",
    "t_bm25_rational_rank",
)
FP_SIZE = 2048
NUM_REACTANT = 5  # the clean CLI's default --num-reactant, read back by gen-fp
CONDITION_ROLES = ("agents", "solvents", "reagents", "catalysts")


def min_frequency(n_rxn: int) -> int:
    """The rare-molecule threshold scaled to the corpus: the reference
    runs 100 on ~1M USPTO reactions; small corpora keep a floor of 2."""
    return max(2, round(100 * n_rxn / 1_000_000))


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


# -- session -------------------------------------------------------------------

def start_session():
    """``get_spark``: in a fresh process this launches the JVM. Returns
    ``(spark, seconds)``."""
    from orderly_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("orderly_spark_benchmark")
    return spark, time.perf_counter() - t0


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def shutdown(spark) -> None:
    """Stop Spark and wait for the JVM the session launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


# -- digests -------------------------------------------------------------------

def _rows_digest(t: pa.Table) -> str:
    """Order-independent digest of a table: sorted per-row hashes over
    the columns in name order."""
    cols = sorted(t.column_names)
    rows = t.select(cols).to_pylist()
    hs = sorted(hashlib.sha256(repr([r[c] for c in cols]).encode()).digest() for r in rows)
    return hashlib.sha256(b"".join(hs)).hexdigest()[:16]


def _fp_digest(t: pa.Table) -> str:
    t = t.select(["original_index", "rxn_fp"]).sort_by("original_index")
    fp = t.column("rxn_fp").combine_chunks()
    h = hashlib.sha256(t.column("original_index").to_numpy().tobytes())
    h.update(np.asarray(fp.flatten().to_numpy(zero_copy_only=False), dtype=np.int64).tobytes())
    return h.hexdigest()[:16]


# -- ord_e2e -------------------------------------------------------------------

def ord_paths(out: Path) -> dict[str, Path]:
    return {
        "ext": out / "ext",
        "extracted": out / "ext" / "extracted_ords",
        "names": out / "ext" / "molecule_names",
        "clean": out / "clean",
        "train": out / "clean" / "train.parquet",
        "test": out / "clean" / "test.parquet",
        "fp": out / "fp",
    }


def ord_pass_cli(data: Path, out: Path, k: int) -> dict[str, float]:
    """One untraced ``extract`` → ``clean`` → ``gen-fp`` pass through the
    CLI entry point. Returns per-step wall times."""
    from orderly_spark import cli

    p = ord_paths(out)
    steps = {
        "extract_s": ["extract", "--data-path", str(data), "--output-path", str(p["ext"])],
        "clean_s": [
            "clean", "--ord-extraction-path", str(p["extracted"]),
            "--molecules-to-remove-path", str(p["names"]), "--output-path", str(p["clean"]),
            "--min-frequency-of-occurrence", str(k),
        ],
        "genfp_s": ["gen-fp", "--clean-data-path", str(p["train"]), "--output-path", str(p["fp"]),
                    "--fp-size", str(FP_SIZE)],
    }
    times = {}
    for name, argv in steps.items():
        t0 = time.perf_counter()
        rc = cli.main(argv)
        times[name] = time.perf_counter() - t0
        if rc != 0:
            raise RuntimeError(f"{argv[0]} exited with {rc}")
    return times


def _read_names(path: Path) -> list[str]:
    import csv

    names = []
    for f in sorted(path.glob("*.csv")):
        with open(f, newline="") as fh:
            names += [r["name"] for r in csv.DictReader(fh)]
    return names


def check_ord_outputs(out: Path, facts: dict, k: int) -> tuple[list[str], dict, dict]:
    """Correctness checks on one ord_e2e pass. Returns
    ``(failures, digests, counts)``."""
    p = ord_paths(out)
    bad: list[str] = []
    ext = pq.read_table(p["extracted"])
    if ext.num_rows != facts["reactions"]:
        bad.append(f"extracted {ext.num_rows} rows, generated {facts['reactions']}")
    if ext.column("rxn_str").null_count != facts["invalid_rxn_str"]:
        bad.append(f"{ext.column('rxn_str').null_count} null rxn_str, planted {facts['invalid_rxn_str']}")
    names = _read_names(p["names"])
    if facts["numeric_name_rows"] and not names or not all(n.isdigit() for n in names):
        bad.append(f"molecule-name list {names[:5]} does not hold the planted numeric names")

    train, test = pq.read_table(p["train"]), pq.read_table(p["test"])

    def rhash(t):
        return {".".join(sorted(r or []) + sorted(q or [])) for r, q in
                zip(t.column("reactants").to_pylist(), t.column("products").to_pylist())}

    if rhash(train) & rhash(test):
        bad.append("train and test share a reaction hash")
    idx = train.column("original_index").to_pylist() + test.column("original_index").to_pylist()
    if len(set(idx)) != len(idx) or not idx:
        bad.append("train/test rows are not a partition of the cleaned rows")
    both = pa.concat_tables([train, test])
    cols = {c: both.column(c).to_pylist() for c in ("reactants", "agents", "reagents", "solvents",
                                                    "catalysts", "products", "yields")}
    keys = set()
    for i in range(both.num_rows):
        keys.add(tuple(
            tuple(sorted(cols[c][i] or [])) if c in ("reactants", "reagents", "solvents", "catalysts")
            else tuple(cols[c][i] or [])
            for c in cols
        ))
    if len(keys) != both.num_rows:
        bad.append("cleaned rows hold duplicates")
    # rare→delete: a surviving condition molecule had >= k occurrences in
    # the deduplicated rows, so it has at least k in the extracted rows
    freq: dict[str, int] = {}
    for c in CONDITION_ROLES:
        for lst in ext.column(c).to_pylist():
            for m in lst or []:
                freq[m] = freq.get(m, 0) + 1
    rare = {m for c in CONDITION_ROLES for lst in cols[c] for m in lst or [] if freq.get(m, 0) < k}
    if rare:
        bad.append(f"{len(rare)} condition molecules under min frequency {k} survived")

    fp = pq.read_table(p["fp"], columns=["original_index", "rxn_fp"])
    if fp.num_rows != train.num_rows:
        bad.append(f"fingerprint rows {fp.num_rows} != train rows {train.num_rows}")
    widths = set(pc.list_value_length(fp.column("rxn_fp")).to_pylist())
    if widths != {2 * FP_SIZE}:
        bad.append(f"fingerprint widths {sorted(widths)[:3]} != {2 * FP_SIZE}")
    digests = {
        "extracted": _rows_digest(ext.drop_columns(["extracted_from_file"]).append_column(
            "extracted_from_file", ext.column("extracted_from_file").cast(pa.string()))),
        "train": _rows_digest(train),
        "test": _rows_digest(test),
        "fp": _fp_digest(fp),
    }
    counts = {
        "extracted": ext.num_rows,
        "names": len(names),
        "train": train.num_rows,
        "test": test.num_rows,
        "fp": fp.num_rows,
    }
    return bad, digests, counts


# -- registry_hot ----------------------------------------------------------------

def registry_pass(spark, sf_dir: str) -> tuple[dict[str, float], dict[str, int]]:
    """One pass over the slot list: ``REGISTRY[q].fn(...).count()``."""
    import orderly_spark.queries  # noqa: F401 — registers the slots
    from orderly_spark.registry import REGISTRY

    times, rows = {}, {}
    for q in SLOTS:
        t0 = time.perf_counter()
        rows[q] = REGISTRY[q].fn(spark, sf_dir).count()
        times[q] = time.perf_counter() - t0
    return times, rows


# -- inputs --------------------------------------------------------------------

def inputs(workload: str, seed: int, n: int, cache: Path) -> tuple[Path, dict]:
    """``(input_dir, facts)`` of a workload's generated corpus of size ``n``."""
    if workload == "ord_e2e":
        return gen.cached(cache, "ord", seed, n, gen.write_ord_corpus)
    return gen.cached(cache, "tables", seed, n, gen.write_registry_tables)


# -- passes ----------------------------------------------------------------------

def oracle_rows(sf_dir: str) -> dict[str, int]:
    """Each slot's row count from its DuckDB oracle."""
    import orderly_spark.queries  # noqa: F401
    from orderly_spark.oracle import duckdb_connect
    from orderly_spark.registry import REGISTRY

    con = duckdb_connect(sf_dir)
    try:
        return {q: len(con.execute(REGISTRY[q].oracle).fetchall()) for q in SLOTS}
    finally:
        con.close()


def checked_pass(workload: str, spark, data: Path, facts: dict, out: Path) -> tuple[float, list[str], dict]:
    """One pass over a corpus, then its correctness checks. Returns
    ``(seconds, failures, digests)``; ``seconds`` sums the steps' own wall
    times, so the checks are not timed. A pass that raises counts as a
    failure, not as a fatal error."""
    t0 = time.perf_counter()
    digests: dict = {}
    try:
        if workload == "ord_e2e":
            k = min_frequency(facts["reactions"])
            steps = ord_pass_cli(data / "data", out, k)
            bad, digests, counts = check_ord_outputs(out, facts, k)
            log(f"rows={counts} written_mb={gen.dir_mb(out):.2f}")
        else:
            steps, rows = registry_pass(spark, str(data))
            want = oracle_rows(str(data))
            bad = [f"{q}: {rows[q]} rows, oracle {want[q]}" for q in SLOTS if rows[q] != want[q]]
            log(f"rows={rows}")
    except Exception as ex:  # counted as a failed pass
        log(traceback.format_exc())
        steps, bad = {"failed_after_s": time.perf_counter() - t0}, [f"pass raised {ex!r}"]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    for b in bad:
        log(f"CHECK FAILED: {b}")
    log(f"pass over {data.name}: {sum(steps.values()):.3f}s " + " ".join(f"{a}={b:.3f}" for a, b in steps.items()))
    return sum(steps.values()), bad, digests


def oracle_pass(spark, sf_dir: str) -> tuple[float, list[str]]:
    """A pass that collects every slot's result (``toPandas``) and checks
    its column names and values against the slot's DuckDB oracle, exactly
    after the order-insensitive normalisation of :mod:`orderly_spark.oracle`.
    Returns ``(seconds, failures)``: ``seconds`` times the Spark calls
    only, and a raise counts as a failure. Logs a digest of each result."""
    import orderly_spark.queries  # noqa: F401
    from orderly_spark.oracle import _normalize, duckdb_connect
    from orderly_spark.registry import REGISTRY

    seconds, bad, digests = 0.0, [], {}
    try:
        con = duckdb_connect(sf_dir)
        try:
            for q in SLOTS:
                t0 = time.perf_counter()
                got = REGISTRY[q].fn(spark, sf_dir).toPandas()
                seconds += time.perf_counter() - t0
                got = _normalize(got).to_csv(index=False)
                if got != _normalize(con.execute(REGISTRY[q].oracle).fetchdf()).to_csv(index=False):
                    bad.append(f"{q}: Spark result differs from the DuckDB oracle")
                digests[q] = hashlib.sha256(got.encode()).hexdigest()[:16]
        finally:
            con.close()
    except Exception as ex:  # counted as a failed pass
        log(traceback.format_exc())
        bad.append(f"oracle pass raised {ex!r}")
    for b in bad:
        log(f"CHECK FAILED: {b}")
    log(f"oracle pass over {Path(sf_dir).name}: {seconds:.3f}s; digests {json.dumps(digests, sort_keys=True)}")
    return seconds, bad


def warmup_pass(workload: str, spark, data: Path, facts: dict, out: Path) -> tuple[float, list[str]]:
    """The pass set-up makes over the warm-up corpus. For
    ``registry_hot`` it is the oracle pass, so the value check costs no
    extra pass. Returns ``(seconds, failures)``."""
    if workload == "registry_hot":
        return oracle_pass(spark, str(data))
    seconds, bad, _ = checked_pass(workload, spark, data, facts, out)
    return seconds, bad


# -- the timed run -----------------------------------------------------------------

def run_timed(workload: str, seed: int, size: str, work: Path) -> dict:
    """The untraced run: end-to-end metrics, from one fresh JVM.

    ``setup_s`` is what every CLI invocation pays before its real work:
    :func:`start_session` (the JVM launch) plus a pass over the
    workload's small warm-up corpus, which loads the classes, generates
    and JIT-compiles the code of the same plans and starts the Python
    workers, which import the program. ``pipeline_s`` is
    the one pass over the full corpus that follows, so it is made of the
    workload's own work, not of start-up. A run always makes exactly
    these two passes; the full pass lasts longer than BENCHMARK.json's
    ``run_seconds``.

    Both passes are checked (see :func:`warmup_pass`).
    """
    warm_n, n = SIZES[workload][size]
    warm_data, warm_facts = inputs(workload, seed, warm_n, work / "cache")
    data, facts = inputs(workload, seed, n, work / "cache")
    out = work / "out"
    shutil.rmtree(out, ignore_errors=True)

    spark, start_s = start_session()
    try:
        warm_s, warm_bad = warmup_pass(workload, spark, warm_data, warm_facts, out)
        pipeline_s, bad, digests = checked_pass(workload, spark, data, facts, out)
    finally:
        shutdown(spark)
    log(f"setup {start_s:.3f}s + warm-up {warm_s:.3f}s; pipeline {pipeline_s:.3f}s")
    if digests:
        log(f"digests {json.dumps(digests, sort_keys=True)}")
    failed = bool(warm_bad) + bool(bad)
    return {
        "correct": failed == 0,
        "attempted": 2,
        "failed": failed,
        "metrics": {
            "setup_s": {"value": start_s + warm_s, "unit": "s"},
            "pipeline_s": {"value": pipeline_s, "unit": "s"},
        },
    }
