"""One kernel per chemistry and media function: no module in the
package imports RDKit, PIL or ord-schema, so no output depends on which
of them a worker happens to have installed."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "orderly_spark"
OPTIONAL = {"rdkit", "PIL", "ord_schema"}


def _imported(tree: ast.AST) -> list[tuple[int, str]]:
    """(line, top-level package) of every absolute import."""
    out = []
    for n in ast.walk(tree):
        if isinstance(n, ast.Import):
            out += [(n.lineno, a.name) for a in n.names]
        elif isinstance(n, ast.ImportFrom) and n.level == 0 and n.module:
            out.append((n.lineno, n.module))
    return [(line, name.split(".")[0]) for line, name in out]


def test_no_module_imports_an_optional_kernel_library():
    modules = sorted(PKG.rglob("*.py"))
    assert len(modules) > 10
    found = [
        f"{path.relative_to(PKG.parent)}:{line} {name}"
        for path in modules
        for line, name in _imported(ast.parse(path.read_text(), str(path)))
        if name in OPTIONAL
    ]
    assert found == []
