"""Guard against options that no caller sets.

A parameter that only ever runs at its default is a constant with a
second, untested code path behind it. This static scan finds every
bool-defaulted parameter of a package function and fails when no caller
overrides it. A call overrides a parameter when it passes it by keyword,
reaches its position, or passes ``**kwargs``. Calls are matched to
functions by name only.

An option counts as used only when the workload sets it: a call in the
package, ``tools/`` or ``perfbench/``. A call from ``tests/`` counts
only for a function the package itself never calls; a test that flips
an option of a package-called function is testing a branch no query
takes.
"""

from __future__ import annotations

import ast
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "pmp_analytics_spark"
WORKLOAD = (PACKAGE, ROOT / "tools", ROOT / "perfbench")
TESTS = ROOT / "tests"


def _bool_params(fn: ast.FunctionDef | ast.AsyncFunctionDef):
    """(name, positional index or None) of each bool-defaulted parameter."""
    a = fn.args
    pos = a.posonlyargs + a.args
    shift = 1 if pos and pos[0].arg in ("self", "cls") else 0
    first_default = len(pos) - len(a.defaults)
    for i, (arg, dflt) in enumerate(zip(pos[first_default:], a.defaults)):
        if isinstance(dflt, ast.Constant) and isinstance(dflt.value, bool):
            yield arg.arg, first_default + i - shift
    for arg, dflt in zip(a.kwonlyargs, a.kw_defaults):
        if isinstance(dflt, ast.Constant) and isinstance(dflt.value, bool):
            yield arg.arg, None


def _overrides(call: ast.Call, param: str, index: int | None) -> bool:
    if any(k.arg is None or k.arg == param for k in call.keywords):
        return True
    if index is None:
        return False
    return len(call.args) > index or any(
        isinstance(x, ast.Starred) for x in call.args
    )


def _calls(tree_root: Path) -> dict[str, list[ast.Call]]:
    calls = defaultdict(list)
    for path in sorted(tree_root.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Call):
                f = node.func
                if isinstance(f, ast.Name):
                    calls[f.id].append(node)
                elif isinstance(f, ast.Attribute):
                    calls[f.attr].append(node)
    return calls


def test_every_bool_option_is_set_by_some_caller():
    params = []
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for name, index in _bool_params(node):
                    params.append((path, node, name, index))
    package = _calls(PACKAGE)
    workload = defaultdict(list)
    for tree_root in WORKLOAD:
        for fn, calls in _calls(tree_root).items():
            workload[fn] += calls
    tests = _calls(TESTS)
    unset = []
    for path, fn, name, index in params:
        callers = workload[fn.name] + ([] if package[fn.name] else tests[fn.name])
        if not any(_overrides(c, name, index) for c in callers):
            unset.append(f"{path.relative_to(ROOT)}:{fn.lineno} {fn.name}({name})")
    assert unset == []
