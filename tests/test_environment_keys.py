"""The package's environment surface is closed: every key the program
reads from or writes to ``os.environ`` is a deployment setting or a
Spark/JVM launch variable on the list below, so no knob can hide in an
environment variable that no option, document or test names."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "orderly_spark"

#: deployment settings (core count, driver heap, test-data root)
DEPLOYMENT = {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_SF_DIR"}
#: what session.py reads, or sets, to launch the driver JVM
LAUNCH = {
    "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH", "SPARK_PREPEND_CLASSES",
    "PYSPARK_SUBMIT_ARGS", "PYSPARK_GATEWAY_PORT", "JAVA_HOME", "SPARK_CONF_DIR",
    "XDG_CACHE_HOME",
}


def _is_environ(node: ast.AST) -> bool:
    return isinstance(node, ast.Attribute) and node.attr == "environ" and (
        isinstance(node.value, ast.Name) and node.value.id == "os"
    )


def _string_tuples(tree: ast.Module) -> dict[str, list[str]]:
    """Module-level ``NAME = ("A", "B", ...)`` constants."""
    out = {}
    for n in tree.body:
        if (
            isinstance(n, ast.Assign) and len(n.targets) == 1
            and isinstance(n.targets[0], ast.Name) and isinstance(n.value, (ast.Tuple, ast.List))
            and all(isinstance(e, ast.Constant) and isinstance(e.value, str) for e in n.value.elts)
        ):
            out[n.targets[0].id] = [e.value for e in n.value.elts]
    return out


def _env_keys(tree: ast.Module) -> list[tuple[int, str]]:
    """(line, key) of every ``os.environ`` / ``os.getenv`` access: a
    string literal, or a comprehension variable over a module-level
    tuple of literals. Anything else is reported as ``<dynamic>``, and
    a use of the whole mapping as ``<whole environment>``."""
    consts = _string_tuples(tree)
    loops: dict[str, list[str]] = {}
    for n in ast.walk(tree):
        if isinstance(n, ast.comprehension) and isinstance(n.target, ast.Name):
            if isinstance(n.iter, ast.Name) and n.iter.id in consts:
                loops[n.target.id] = consts[n.iter.id]

    def keys(expr: ast.AST) -> list[str]:
        if isinstance(expr, ast.Constant) and isinstance(expr.value, str):
            return [expr.value]
        if isinstance(expr, ast.Name) and expr.id in loops:
            return loops[expr.id]
        return ["<dynamic>"]

    found, seen = [], set()
    for n in ast.walk(tree):
        key_expr = None
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute) and n.args:
            if _is_environ(n.func.value) and n.func.attr in ("get", "pop", "setdefault"):
                key_expr, env = n.args[0], n.func.value
            elif n.func.attr == "getenv" and isinstance(n.func.value, ast.Name) and n.func.value.id == "os":
                key_expr, env = n.args[0], None
        elif isinstance(n, ast.Subscript) and _is_environ(n.value):
            key_expr, env = n.slice, n.value
        elif isinstance(n, ast.Compare) and len(n.comparators) == 1 and _is_environ(n.comparators[0]):
            key_expr, env = n.left, n.comparators[0]
        if key_expr is not None:
            found += [(n.lineno, k) for k in keys(key_expr)]
            seen.add(id(env))
    found += [
        (n.lineno, "<whole environment>")
        for n in ast.walk(tree) if _is_environ(n) and id(n) not in seen
    ]
    return found


def test_environment_keys_are_on_the_allowlist():
    modules = sorted(PKG.rglob("*.py"))
    assert len(modules) > 10
    read = {
        (f"{path.relative_to(PKG.parent)}:{line}", key)
        for path in modules
        for line, key in _env_keys(ast.parse(path.read_text(), str(path)))
    }
    assert {k for _, k in read} >= {"SPARK_GRAFT_CPUS", "SPARK_CONF_DIR"}
    assert sorted((where, k) for where, k in read if k not in DEPLOYMENT | LAUNCH) == []


def test_scanner_sees_every_access_form():
    src = (
        "import os\n"
        "A = ('K1', 'K2')\n"
        "os.environ.get('G'); os.environ['S']; 'IN' in os.environ; os.getenv('GE')\n"
        "any(os.environ.get(k) for k in A); os.environ.get(name); dict(os.environ)\n"
    )
    assert sorted(k for _, k in _env_keys(ast.parse(src))) == sorted(
        ["G", "S", "IN", "GE", "K1", "K2", "<dynamic>", "<whole environment>"]
    )
