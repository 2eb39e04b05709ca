"""The lineage-cut policy: every eager cut in the package is one
``session.barrier`` call, and a barrier is one labelled job in the
caller's job group."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from orderly_spark.session import barrier

PKG = Path(__file__).resolve().parent.parent / "orderly_spark"
CUTS = {"localCheckpoint", "checkpoint", "persist", "cache"}


def _cut_calls(tree: ast.AST) -> list[ast.Call]:
    return [
        n for n in ast.walk(tree)
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute) and n.func.attr in CUTS
    ]


def test_every_lineage_cut_goes_through_barrier():
    """No module calls ``.localCheckpoint(`` / ``.checkpoint(`` /
    ``.persist(`` / ``.cache(`` directly; ``session.barrier`` holds the
    package's one such call."""
    direct = []
    inside = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        allowed: set[int] = set()
        if path.name == "session.py" and path.parent == PKG:
            fn = next(n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "barrier")
            inside = _cut_calls(fn)
            allowed = {id(c) for c in inside}
        direct += [
            f"{path.relative_to(PKG.parent)}:{c.lineno} .{c.func.attr}("
            for c in _cut_calls(tree) if id(c) not in allowed
        ]
    assert direct == []
    assert [c.func.attr for c in inside] == ["localCheckpoint"]


def _caller(sc, group: str) -> None:
    sc.setJobGroup(group, "caller description")
    sc.setLocalProperty("callSite.short", "caller site")


def _clear(sc) -> None:
    for k in ("spark.jobGroup.id", "spark.job.description", "callSite.short"):
        sc.setLocalProperty(k, None)


def test_barrier_is_one_labelled_job_in_the_callers_group(spark):
    sc = spark.sparkContext
    st = sc.statusTracker()
    _caller(sc, "barrier_contract")
    try:
        out = barrier(spark.range(10), "contract")
        assert sc.getLocalProperty("spark.job.description") == "caller description"
        assert sc.getLocalProperty("callSite.short") == "caller site"
    finally:
        _clear(sc)
    jobs = st.getJobIdsForGroup("barrier_contract")
    assert len(jobs) == 1, jobs
    stages = st.getJobInfo(jobs[0]).stageIds
    assert [st.getStageInfo(s).name for s in stages] == ["barrier:contract"]
    assert out.count() == 10


def test_barrier_restores_caller_properties_when_the_plan_raises(spark):
    sc = spark.sparkContext
    _caller(sc, "barrier_raises")
    try:
        with pytest.raises(Exception, match="barrier-boom"):
            barrier(spark.range(3).select(F.raise_error(F.lit("barrier-boom")).alias("x")), "raises")
        assert sc.getLocalProperty("spark.job.description") == "caller description"
        assert sc.getLocalProperty("callSite.short") == "caller site"
        assert sc.getLocalProperty("spark.jobGroup.id") == "barrier_raises"
    finally:
        _clear(sc)
