"""Every default-valued parameter of the engine has a caller that sets it.

A default that no call site overrides is a setting nothing runs: it
belongs in the function body as a constant. For each function under
``rust_etl_spark/`` with a default-valued parameter, some call of that
function name in the engine, ``scripts/``, ``examples/``,
``perfbench/``, ``bench.py`` or ``tests/`` must pass the parameter by
keyword or by position (a ``*args`` or ``**kwargs`` splat counts as
passing it). AST only: imports no engine module and starts no Spark.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
ENGINE = ROOT / "rust_etl_spark"
CALLER_TREES = ("rust_etl_spark", "scripts", "examples", "perfbench", "tests")


def _trees() -> dict[Path, ast.Module]:
    files = [p for d in CALLER_TREES for p in sorted((ROOT / d).rglob("*.py"))]
    return {p: ast.parse(p.read_text(), str(p)) for p in files + [ROOT / "bench.py"]}


def _defaulted(fn: ast.FunctionDef | ast.AsyncFunctionDef) -> list[tuple[str, int | None]]:
    """(name, position) of each default-valued parameter; position is
    None for keyword-only ones and excludes a leading self/cls."""
    a = fn.args
    positional = a.posonlyargs + a.args
    skip = 1 if positional and positional[0].arg in ("self", "cls") else 0
    first = len(positional) - len(a.defaults)
    out = [(p.arg, i - skip) for i, p in enumerate(positional) if i >= first]
    out += [(p.arg, None) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return out


def _calls_by_name(trees: dict[Path, ast.Module]) -> dict[str, list[ast.Call]]:
    calls: dict[str, list[ast.Call]] = {}
    for tree in trees.values():
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                if name:
                    calls.setdefault(name, []).append(node)
    return calls


def _sets(call: ast.Call, name: str, pos: int | None) -> bool:
    if any(k.arg in (name, None) for k in call.keywords):
        return True
    if pos is None:
        return False
    return len(call.args) > pos or any(isinstance(a, ast.Starred) for a in call.args)


def test_every_default_has_a_caller_that_sets_it():
    trees = _trees()
    calls = _calls_by_name(trees)
    unset = []
    for path in sorted(ENGINE.rglob("*.py")):
        for fn in ast.walk(trees[path]):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for name, pos in _defaulted(fn):
                if not any(_sets(c, name, pos) for c in calls.get(fn.name, [])):
                    unset.append(f"{path.relative_to(ROOT)}:{fn.lineno} {fn.name}({name})")
    assert not unset, "default-valued parameters no caller sets:\n" + "\n".join(unset)
