"""Dead-operator lint: every top-level function of the operator layer
is named somewhere — in the package, the tests, the tools, perfbench
or bench.py. A function nothing names is an alternative code path no
caller selects and no test runs; delete it instead of keeping it.

JVM-free: a static AST scan of Name / Attribute / import references.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "football_etl_spark"
LINTED = ("operators", "functions", "streaming", "io")
SCANNED = (PKG, REPO / "tests", REPO / "tools", REPO / "perfbench")


def _sources() -> list[Path]:
    return [REPO / "bench.py"] + [p for d in SCANNED for p in sorted(d.rglob("*.py"))]


def _referenced(tree: ast.AST) -> set[str]:
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            names.add(node.id)
        elif isinstance(node, ast.Attribute):
            names.add(node.attr)
        elif isinstance(node, ast.alias):
            names.add(node.name.rsplit(".", 1)[-1])
    return names


def test_every_operator_function_is_named_somewhere():
    referenced: set[str] = set()
    defined: list[str] = []
    for path in _sources():
        tree = ast.parse(path.read_text(), filename=str(path))
        referenced |= _referenced(tree)
        rel = path.relative_to(PKG) if path.is_relative_to(PKG) else None
        if rel is not None and rel.parts[0] in LINTED:
            defined += [
                f"{rel.with_suffix('').as_posix()}.{node.name}"
                for node in tree.body
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
            ]
    dead = [d for d in defined if d.rsplit(".", 1)[-1] not in referenced]
    assert dead == [], "functions nothing names:\n" + "\n".join(dead)
