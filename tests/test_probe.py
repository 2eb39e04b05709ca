"""tools/probe.py end to end on a tiny scaled corpus, and an import
smoke test for every script under tools/."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pyarrow.parquet as pq
import pytest

REPO = Path(__file__).resolve().parent.parent
PROBE = REPO / "tools" / "probe.py"
SLOT = "q5_nation_revenue"


def _probe(*args: str) -> str:
    proc = subprocess.run(
        [sys.executable, str(PROBE), *args],
        cwd=REPO, env=dict(os.environ), capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return proc.stdout


def test_probe_scaled_corpus_and_stage_attribution(spark, sf_smoke, tmp_path):
    import orderly_spark.queries  # noqa: F401
    from orderly_spark.registry import REGISTRY
    from tools.probe import COPIED, LINKED

    dst = tmp_path / "sfx2"
    _probe("--gen", "--scale", "2", "--sf-dir", sf_smoke, "--out", str(dst))
    for table in COPIED:
        want = 2 * pq.read_table(f"{sf_smoke}/{table}.parquet").num_rows
        assert pq.read_table(dst / f"{table}.parquet").num_rows == want, table
    for table in LINKED:
        assert (dst / f"{table}.parquet").resolve() == Path(sf_smoke, f"{table}.parquet").resolve()

    lines = _probe("--sf-dir", str(dst), "--slots", SLOT, "--reps", "2").splitlines()
    assert len(lines) == 1
    rec = json.loads(lines[0])
    assert rec["slot"] == SLOT
    assert rec["rows"] == REGISTRY[SLOT].fn(spark, str(dst)).count()
    stages = rec["stages"]
    assert stages["jobs"] >= 1 and stages["tasks"] >= 1 and stages["cpu_s"] > 0, stages
    # jobs started while the slot's DataFrame was built (its barriers)
    assert 0 <= rec["build_jobs"] <= stages["jobs"], rec
    assert rec["build_s"] > 0 and rec["exec_s"] > 0
    assert len(rec["calib_py"]) == len(rec["calib_jvm"]) == 2
    assert rec["cds"] in ("mapped", "building", "none"), rec
    # the first rep compiles the slot's generated classes; the second
    # finds every one of them in the cache
    codegen = rec["codegen"]
    assert len(codegen["classes"]) == len(codegen["compile_s"]) == 2, codegen
    assert codegen["classes"][0] > 0 and codegen["classes"][1] == 0, codegen


_IMPORT_CHECK = """
import ast, importlib, importlib.util, sys
from pathlib import Path

path = Path(sys.argv[1])
sys.path.insert(0, str(path.parent.parent))
spec = importlib.util.spec_from_file_location(path.stem, path)
spec.loader.exec_module(importlib.util.module_from_spec(spec))
local = {"orderly_spark", "benchmark", "bench"}
for node in ast.walk(ast.parse(path.read_text())):
    if isinstance(node, ast.Import):
        for alias in node.names:
            if alias.name.split(".")[0] in local:
                importlib.import_module(alias.name)
    elif isinstance(node, ast.ImportFrom) and node.level == 0 and node.module.split(".")[0] in local:
        mod = importlib.import_module(node.module)
        for alias in node.names:
            if not hasattr(mod, alias.name):
                importlib.import_module(f"{node.module}.{alias.name}")
from pyspark import SparkContext
assert SparkContext._active_spark_context is None, "importing started Spark"
"""


@pytest.mark.parametrize("tool", sorted((REPO / "tools").glob("*.py")), ids=lambda p: p.stem)
def test_tool_imports_resolve(tool):
    """Every tool imports without starting Spark, and every name it
    imports from the program (at module level or inside a function)
    still exists."""
    proc = subprocess.run(
        [sys.executable, "-c", _IMPORT_CHECK, str(tool)],
        cwd=REPO, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
