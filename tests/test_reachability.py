"""No dead code in the package: every top-level function and class in
``docling_gfcr_spark/`` is reachable from an entry point.

Pure ``ast``, no Spark. The walk starts from the entry points — the query
registry and every other top-level statement of each package module,
``__spark_entry__.py``, and everything under ``jobs/``, ``tools/`` and
``perfbench/`` — and follows name references (``foo`` and ``x.foo`` both
reach every package definition named ``foo``) to a fixpoint. Tests are not
roots, so a definition only tests call is reported. Private helpers count
too: a helper nothing reachable uses is dead as well.

Matching by bare name over-approximates (two definitions sharing a name are
reached together), so the check can miss dead code but never flags live
code.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "docling_gfcr_spark"
ROOT_FILES = [ROOT / "__spark_entry__.py"] + sorted(
    p for d in ("jobs", "tools", "perfbench") for p in (ROOT / d).rglob("*.py")
)

#: definition name -> one-line reason it stays without an entry-point caller
ALLOWLIST: dict[str, str] = {}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _refs(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


def test_every_package_definition_is_reached():
    defs: dict[str, list[tuple[Path, ast.AST]]] = {}
    frontier: set[str] = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        for stmt in ast.parse(path.read_text()).body:
            if isinstance(stmt, _DEFS):
                defs.setdefault(stmt.name, []).append((path, stmt))
            else:
                frontier |= _refs(stmt)
    for path in ROOT_FILES:
        frontier |= _refs(ast.parse(path.read_text()))
    reached: set[str] = set()
    while frontier:
        name = frontier.pop()
        reached.add(name)
        for _, node in defs.get(name, []):
            frontier |= _refs(node) - reached

    for name, reason in ALLOWLIST.items():
        assert reason.strip() and "\n" not in reason, f"{name}: one-line reason needed"
        assert name in defs and name not in reached, f"stale allowlist entry {name}"
    dead = [
        f"{path.relative_to(ROOT)}:{node.lineno} {name}"
        for name, found in sorted(defs.items())
        if name not in reached and name not in ALLOWLIST
        for path, node in found
    ]
    assert not dead, (
        "package definitions no entry point reaches (wire each to a query, "
        "job or tool, delete it, or allowlist it with a reason):\n  "
        + "\n  ".join(dead)
    )
