"""The benchmark's own tests: seeded inputs, span arithmetic, event-log
attribution and a tiny pass of each workload through the one command.

    python3 -m pytest benchmark/tests -q
"""

from __future__ import annotations

import json
import operator
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from benchmark import gen  # noqa: E402
from benchmark.tracing import (  # noqa: E402
    Span,
    Tracer,
    covered,
    job_busy_s,
    read_event_log,
    self_time,
    span_stage_metrics,
)

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


@pytest.mark.parametrize(
    "build,size",
    [(gen.write_ord_corpus, 120), (gen.write_registry_tables, 1)],
    ids=["ord", "tables"],
)
def test_same_seed_writes_identical_bytes(tmp_path, build, size):
    a, fa = gen.cached(tmp_path / "a", "x", 5, size, build)
    b, fb = gen.cached(tmp_path / "b", "x", 5, size, build)
    c, _ = gen.cached(tmp_path / "c", "x", 6, size, build)
    assert fa == fb
    assert gen.tree_digest(a) == gen.tree_digest(b)
    assert gen.tree_digest(a) != gen.tree_digest(c)


def test_ord_corpus_plants_its_properties(tmp_path):
    _, facts = gen.cached(tmp_path, "ord", 9, 400, gen.write_ord_corpus)
    assert facts["repeats"] == 80
    assert facts["distinct_reactions"] <= facts["reactions"] - facts["repeats"]
    assert facts["invalid_rxn_str"] > 0 and facts["numeric_name_rows"] > 0
    assert 0 < facts["mapped_rows"] < facts["reactions"]


def test_self_time_subtracts_the_union_of_children():
    tr = Tracer("r")
    tr.spans = [
        Span(1, "root", None, "r", 0.0, 10.0),
        Span(2, "a", 1, "r", 1.0, 4.0),
        Span(3, "b", 1, "r", 3.0, 6.0),  # overlaps a: the union is [1, 6]
        Span(4, "c", 2, "r", 2.0, 3.0),
    ]
    root, a = tr.spans[0], tr.spans[1]
    assert self_time(tr, root) == pytest.approx(5.0)
    assert self_time(tr, a) == pytest.approx(2.0)
    assert {s.id for s in tr.descendants(root)} == {2, 3, 4}
    assert covered([(-1.0, 2.0), (8.0, 12.0)], 0.0, 10.0) == pytest.approx(4.0)


def test_event_log_attributes_stages_to_spans(tmp_path):
    from pyspark.sql import SparkSession

    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("benchmark-eventlog-test")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", log_dir.as_uri())
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate()
    )
    try:
        sc = spark.sparkContext
        tr = Tracer("t", sc)
        with tr.span("outer") as outer:
            with tr.span("inner") as inner:
                # one job: a 4-task map stage and a 2-task reduce stage
                sc.parallelize(range(100), 4).map(lambda x: (x % 3, 1)).reduceByKey(operator.add, 2).collect()
        sc.parallelize(range(10), 1).count()  # outside every span
    finally:
        spark.stop()
    ev = read_event_log(log_dir)
    got = span_stage_metrics(tr, ev, inner)
    assert (got["jobs"], got["stages"], got["tasks"]) == (1, 2, 6)
    assert got["shuffle_write_mb"] > 0 and got["shuffle_read_mb"] > 0
    assert span_stage_metrics(tr, ev, outer)["stages"] == 2  # inclusive of the child
    assert ev.groups()[None]["jobs"] >= 1
    # the job ran inside the span, for part of it
    assert 0 < job_busy_s(tr, ev, inner) <= inner.duration


def _run(args: list[str], cwd: Path) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "benchmark/run.py", *args], cwd=cwd, capture_output=True, text=True, timeout=900
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_tiny_pass_through_the_command(tmp_path, workload, trace):
    r = _run(["--workload", workload, "--seed", "3", "--seconds", "1", "--trace", str(trace),
              "--size", "tiny", "--work-dir", str(tmp_path / "work")], ROOT)
    assert r.returncode == 0, r.stderr[-3000:]
    result = json.loads(r.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, r.stderr[-3000:]
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {m["name"]: m["unit"] for m in spec}
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_per_layer_list_matches_benchmark_json():
    from benchmark.traced import PER_LAYER

    assert [(m["name"], m["unit"]) for m in SPEC["per_layer"]] == PER_LAYER


def test_fails_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "benchmark", tmp_path / "benchmark", ignore=shutil.ignore_patterns("__pycache__"))
    r = _run(["--workload", SPEC["workloads"][0]["name"], "--seed", "1", "--seconds", "1", "--trace", "0"], tmp_path)
    assert r.returncode != 0
    assert r.stdout.strip() == ""
