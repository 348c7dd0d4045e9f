"""No dead code and no dead options in the package. Pure ``ast``, no Spark.

Reachability: every top-level function, class and constant in
``docling_gfcr_spark/`` is reachable from an entry point. The walk starts
from the entry points — the query registry and every other top-level
statement of each package module, ``__spark_entry__.py``, and everything
under ``jobs/``, ``tools/`` and ``perfbench/`` — and follows name references
(``foo`` and ``x.foo`` both reach every package definition named ``foo``)
to a fixpoint. Tests are not roots, so a definition only tests use is
reported. Private helpers count too: a helper nothing reachable uses is dead
as well. Dunder assignments (``__all__``, ``__version__``) are roots, not
definitions.

Options: every defaulted parameter of a function or method in the package
and ``jobs/`` takes more than one value across the calls outside ``tests/``
(two distinct literals, or one non-literal); otherwise it is a constant
dressed as a knob. Calls are matched to definitions by the same bare name.

Keywords: every keyword passed to a uniquely named package function, from
anywhere (tests included), names one of its parameters, so a removed
parameter that a caller still passes fails here instead of at run time.

Matching by bare name over-approximates (two definitions sharing a name are
reached and called together), so the checks can miss dead code or a dead
option but never flag live ones.
"""

from __future__ import annotations

import ast
import functools
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "docling_gfcr_spark"
ROOT_FILES = [ROOT / "__spark_entry__.py"] + sorted(
    p for d in ("jobs", "tools", "perfbench") for p in (ROOT / d).rglob("*.py")
)
PACKAGE_FILES = sorted(PACKAGE.rglob("*.py"))
TEST_FILES = sorted((ROOT / "tests").rglob("*.py"))

#: definition name -> one-line reason it stays without an entry-point caller
ALLOWLIST: dict[str, str] = {}

#: "function.parameter" -> one-line reason a single-valued option stays. Only
#: three kinds qualify: a seam tests use to substitute a fake, a reference
#: implementation tests compare against, or a fault-injection hook.
OPTIONS_ALLOWLIST: dict[str, str] = {
    "run_extraction_job.storage": "seam: tests substitute a recording or refusing storage",
    "extract_html.engine": "reference implementation: tests compare engine='fast' against 'parser'",
    "asof_join.slab_seconds": "reference implementation: tests compare the slab path against None",
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


@functools.cache
def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text())


def _refs(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


def _constant_names(stmt: ast.stmt) -> list[str]:
    """Names a top-level assignment defines, dunders excluded."""
    if isinstance(stmt, ast.Assign):
        targets = stmt.targets
    elif isinstance(stmt, ast.AnnAssign):
        targets = [stmt.target]
    else:
        return []
    names = [t.id for t in targets if isinstance(t, ast.Name)]
    return [n for n in names if not (n.startswith("__") and n.endswith("__"))]


def test_every_package_definition_is_reached():
    defs: dict[str, list[tuple[Path, ast.AST]]] = {}
    frontier: set[str] = set()
    for path in PACKAGE_FILES:
        for stmt in _parse(path).body:
            names = [stmt.name] if isinstance(stmt, _DEFS) else _constant_names(stmt)
            for name in names:
                defs.setdefault(name, []).append((path, stmt))
            if not names:
                frontier |= _refs(stmt)
    for path in ROOT_FILES:
        frontier |= _refs(_parse(path))
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


def _functions(paths: list[Path]):
    """(path, callable name, def node, self offset) for every function,
    method and closure. A class's ``__init__`` is called by the class name;
    a method binds ``self`` ahead of the call's positional arguments."""
    for path in paths:
        tree = _parse(path)
        for parent in ast.walk(tree):
            for fn in ast.iter_child_nodes(parent):
                if not isinstance(fn, _FUNCS):
                    continue
                if not isinstance(parent, ast.ClassDef):
                    yield path, fn.name, fn, 0
                    continue
                static = any(
                    isinstance(d, ast.Name) and d.id == "staticmethod"
                    for d in fn.decorator_list
                )
                name = parent.name if fn.name == "__init__" else fn.name
                yield path, name, fn, 0 if static else 1


def _calls(paths: list[Path]) -> dict[str, list[ast.Call]]:
    out: dict[str, list[ast.Call]] = {}
    for path in paths:
        for n in ast.walk(_parse(path)):
            if isinstance(n, ast.Call):
                f = n.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                if name:
                    out.setdefault(name, []).append(n)
    return out


def _literal(node: ast.AST):
    try:
        return ("literal", repr(ast.literal_eval(node)))
    except (ValueError, TypeError, SyntaxError, MemoryError, RecursionError):
        return None


def _defaulted(fn: ast.FunctionDef) -> dict[str, ast.expr]:
    a = fn.args
    pos = a.posonlyargs + a.args
    out = dict(zip([p.arg for p in pos[len(pos) - len(a.defaults):]], a.defaults))
    out.update({p.arg: d for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None})
    return out


def _single_valued_options() -> list[str]:
    scope = PACKAGE_FILES + sorted((ROOT / "jobs").rglob("*.py"))
    calls = _calls(sorted(set(PACKAGE_FILES) | set(ROOT_FILES)))
    found = []
    for path, name, fn, bound in _functions(scope):
        sites = calls.get(name, [])
        # no visible call (a callback) or a call through *args/**kwargs: the
        # values are not visible here, so the callee is exempt
        if not sites or any(
            any(isinstance(a, ast.Starred) for a in c.args)
            or any(k.arg is None for k in c.keywords)
            for c in sites
        ):
            continue
        positional = [p.arg for p in fn.args.posonlyargs + fn.args.args]
        for param, default in _defaulted(fn).items():
            values = set()
            for c in sites:
                arg = next((k.value for k in c.keywords if k.arg == param), None)
                if arg is None and param in positional:
                    # an attribute call of a method binds self first; a bare
                    # call of a class binds it too
                    i = positional.index(param) - (
                        bound if isinstance(c.func, ast.Attribute) or fn.name == "__init__" else 0
                    )
                    arg = c.args[i] if 0 <= i < len(c.args) else None
                if arg is None:  # omitted: the call passes the default
                    values.add(_literal(default) or ("default", ast.unparse(default)))
                else:
                    values.add(_literal(arg) or ("variable", id(arg)))
            if len(values) < 2 and all(kind != "variable" for kind, _ in values):
                found.append(
                    f"{path.relative_to(ROOT)}:{fn.lineno} {name}.{param} "
                    f"always {next(iter(values))[1]}"
                )
    return found


def test_every_option_takes_more_than_one_value():
    found = _single_valued_options()
    keys = {f.split(" ")[1] for f in found}
    for key, reason in OPTIONS_ALLOWLIST.items():
        assert reason.strip() and "\n" not in reason, f"{key}: one-line reason needed"
        assert reason.split(":")[0] in ("seam", "reference implementation", "fault-injection hook"), (
            f"{key}: a reason is a seam, a reference implementation or a fault-injection hook"
        )
        assert key in keys, f"stale options allowlist entry {key}"
    flagged = [f for f in found if f.split(" ")[1] not in OPTIONS_ALLOWLIST]
    assert not flagged, (
        "defaulted parameters every non-test call leaves at one value (make each "
        "a constant — module-level if a test must patch it — or allowlist a "
        "seam, reference implementation or fault-injection hook):\n  "
        + "\n  ".join(flagged)
    )


def test_every_keyword_names_a_parameter():
    defs: dict[str, list[ast.FunctionDef]] = {}
    for path in PACKAGE_FILES:
        for stmt in _parse(path).body:
            if isinstance(stmt, _FUNCS):
                defs.setdefault(stmt.name, []).append(stmt)
    unique = {
        name: fns[0] for name, fns in defs.items()
        if len(fns) == 1 and fns[0].args.kwarg is None
    }
    stale = []
    for path in sorted(set(PACKAGE_FILES) | set(ROOT_FILES) | set(TEST_FILES)):
        tree = _parse(path)
        for c in ast.walk(tree):
            if not isinstance(c, ast.Call):
                continue
            f = c.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            fn = unique.get(name)
            if fn is None:
                continue
            a = fn.args
            params = {p.arg for p in a.posonlyargs + a.args + a.kwonlyargs}
            stale += [
                f"{path.relative_to(ROOT)}:{c.lineno} {name}({k.arg}=)"
                for k in c.keywords
                if k.arg is not None and k.arg not in params
            ]
    assert not stale, (
        "calls pass a keyword the package function does not take:\n  "
        + "\n  ".join(stale)
    )
