"""Guard: every keyword option of the package has a caller that sets it.

A defaulted parameter is a value someone can set. One that no call site
passes is a knob with a single value in use, and belongs in the body as a
literal or a module constant. This test parses the sources (AST only, no
Spark) and fails on every defaulted parameter of a package ``def`` —
``@query`` recipes excepted — that no call site passes.

Calls are matched by callee name (a bare name or the attribute of
``mod.fn(...)``) across the package, ``tools/``, ``perfbench/``,
``bench.py`` and ``tests/``. A parameter counts as passed when a call
gives it by keyword or by position, or passes ``*args`` / ``**kwargs``.
Functions with no call site by name (callbacks Spark invokes) and names
defined more than once are skipped: name matching cannot tell them apart.

A second guard caps the total count of those defaulted parameters, so an
option set only by a test cannot come back either.

A third guard fails on every module-level package ``def`` or ``class`` that
no code outside ``tests/`` names (as a name, an attribute or an import; prose
does not count). Code only a test reaches is dead code with a test attached.
Re-exports in an ``__init__.py`` are not callers; ``@query`` recipes are
exempt, since the registry calls them.
"""

from __future__ import annotations

import ast
import collections
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "pyspark_mllib_twitter_spark"
PROGRAM = [
    PACKAGE, ROOT / "tools", ROOT / "perfbench", ROOT / "bench.py", ROOT / "__spark_entry__.py",
]
CALLERS = PROGRAM + [ROOT / "tests"]
#: Ceiling on the package's settable values: defaulted parameters of
#: non-``@query`` defs.
MAX_OPTIONS = 54


def _py_files(path: Path) -> list[Path]:
    return [path] if path.is_file() else sorted(path.rglob("*.py"))


def _callee(node: ast.AST) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return None


def _is_recipe(fn: ast.FunctionDef) -> bool:
    return any(
        _callee(d.func if isinstance(d, ast.Call) else d) == "query"
        for d in fn.decorator_list
    )


def _defaulted(fn: ast.FunctionDef) -> list[tuple[str, int | None]]:
    """(name, positional index or None for keyword-only) per defaulted parameter."""
    a = fn.args
    pos = a.posonlyargs + a.args
    first = len(pos) - len(a.defaults)
    out = [(p.arg, i) for i, p in enumerate(pos) if i >= first]
    out += [(p.arg, None) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    if pos and pos[0].arg in ("self", "cls"):  # bound calls skip the receiver
        out = [(n, None if i is None else i - 1) for n, i in out]
    return out


def _passes(call: ast.Call, name: str, index: int | None) -> bool:
    if any(kw.arg in (name, None) for kw in call.keywords):
        return True
    if any(isinstance(arg, ast.Starred) for arg in call.args):
        return True
    return index is not None and index < len(call.args)


def _package_defs() -> tuple[list[tuple[Path, ast.FunctionDef]], collections.Counter]:
    """Non-recipe package defs, and how often each name is defined."""
    defs = []
    names = collections.Counter()
    for path in _py_files(PACKAGE):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                names[node.name] += 1
                if not _is_recipe(node):
                    defs.append((path.relative_to(ROOT), node))
    return defs, names


def unset_options() -> list[str]:
    defs, names = _package_defs()
    calls = collections.defaultdict(list)
    for src in CALLERS:
        for path in _py_files(src):
            for node in ast.walk(ast.parse(path.read_text())):
                if isinstance(node, ast.Call) and _callee(node.func):
                    calls[_callee(node.func)].append(node)
    unset = []
    for path, fn in defs:
        sites = calls.get(fn.name)
        if not sites or names[fn.name] > 1:
            continue
        for name, index in _defaulted(fn):
            if not any(_passes(call, name, index) for call in sites):
                unset.append(f"{path}:{fn.lineno} {fn.name}({name}=...)")
    return unset


def test_every_option_is_set_by_some_caller():
    unset = unset_options()
    assert not unset, (
        f"{len(unset)} defaulted parameter(s) no call site passes; write the "
        "value in the body instead:\n" + "\n".join(unset)
    )


def test_option_count_stays_under_ceiling():
    defs, _ = _package_defs()
    n = sum(len(_defaulted(fn)) for _, fn in defs)
    assert n <= MAX_OPTIONS, (
        f"{n} settable options > {MAX_OPTIONS}; write values no real caller "
        "varies in the body instead"
    )


def _named(path: Path) -> collections.Counter:
    """Names a file uses as code: loaded names, attributes and imports
    (except an ``__init__.py``'s re-exports)."""
    found = collections.Counter()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Store):
            found[node.id] += 1
        elif isinstance(node, ast.Attribute):
            found[node.attr] += 1
        elif isinstance(node, ast.alias) and path.name != "__init__.py":
            found[node.name.rsplit(".", 1)[-1]] += 1
    return found


def test_every_package_def_has_a_caller_outside_tests():
    named = collections.Counter()
    for src in PROGRAM:
        for path in _py_files(src):
            named.update(_named(path))
    orphans = []
    for path in _py_files(PACKAGE):
        for node in ast.parse(path.read_text()).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            if isinstance(node, ast.FunctionDef) and _is_recipe(node):
                continue
            own = sum(
                1 for n in ast.walk(node) if isinstance(n, ast.Name) and n.id == node.name
            )
            if named[node.name] - own <= 0:
                orphans.append(f"{path.relative_to(ROOT)}:{node.lineno} {node.name}")
    assert not orphans, (
        f"{len(orphans)} package def(s) no code outside tests/ uses; delete them "
        "with their tests:\n" + "\n".join(orphans)
    )
