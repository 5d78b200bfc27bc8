"""Dead-code lint for the operator layer and the schema registry.

- Every top-level function of the operator layer is named by program
  code: the package, bench.py, __spark_entry__.py, the tools or
  perfbench. A test is not a caller: a function only its own test
  selects is an alternative code path no program reaches; delete it
  instead of keeping it.
- Every module-level constant of those modules and of schemas.py is
  read somewhere, tests included (golden-parity tests read the
  reference CSVs with schemas.FIXTURES and schemas.TEAM_HISTORY).

JVM-free: a static AST scan of Name / Attribute / import references.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "football_etl_spark"
LINTED = ("operators", "functions", "streaming", "io")
PROGRAM = (PKG, REPO / "tools", REPO / "perfbench")
TESTS = REPO / "tests"
_CONSTANT = re.compile(r"_?[A-Z][A-Z0-9_]*")

# A session-setup entry point for SQL users, who then reach the
# functions it registers by name in SQL text: SURVEY §2.8's
# SQL-registered UDF surface.
EXEMPT = {"functions/registration.register_sql_surface"}


def _program_sources() -> list[Path]:
    return [REPO / "bench.py", REPO / "__spark_entry__.py"] + [
        p for d in PROGRAM for p in sorted(d.rglob("*.py"))
    ]


def _trees(paths: list[Path]) -> dict[Path, ast.Module]:
    return {p: ast.parse(p.read_text(), filename=str(p)) for p in paths}


def _referenced(trees) -> set[str]:
    """Names read anywhere in ``trees`` (an assignment target is not a
    read, so a constant does not name itself)."""
    names = set()
    for tree in trees:
        for node in ast.walk(tree):
            if isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Store):
                names.add(node.id)
            elif isinstance(node, ast.Attribute):
                names.add(node.attr)
            elif isinstance(node, ast.alias):
                names.add(node.name.rsplit(".", 1)[-1])
    return names


def _linted(trees: dict[Path, ast.Module]):
    """(module, whether its functions are linted, top-level node) for
    the linted modules and for schemas.py (constants only)."""
    for path, tree in trees.items():
        if not path.is_relative_to(PKG):
            continue
        rel = path.relative_to(PKG)
        if rel.parts[0] in LINTED or rel.as_posix() == "schemas.py":
            for node in tree.body:
                yield rel.with_suffix("").as_posix(), rel.parts[0] in LINTED, node


def _dead(program: dict[Path, ast.Module], tests: dict[Path, ast.Module]) -> list[str]:
    by_program = _referenced(program.values())
    by_anything = by_program | _referenced(tests.values())
    dead = []
    for mod, functions_linted, node in _linted(program):
        if functions_linted and isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            if node.name not in by_program:
                dead.append(f"{mod}.{node.name}")
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                if isinstance(t, ast.Name) and _CONSTANT.fullmatch(t.id) and t.id not in by_anything:
                    dead.append(f"{mod}.{t.id}")
    return sorted(set(dead))


def test_every_operator_function_is_named_somewhere():
    program = _trees(_program_sources())
    tests = _trees(sorted(TESTS.rglob("*.py")))
    dead = _dead(program, tests)
    # an exemption that a program now calls, or that is gone, is stale
    assert dead == sorted(EXEMPT), "names no program reaches:\n" + "\n".join(
        sorted(set(dead) - EXEMPT)
    )
