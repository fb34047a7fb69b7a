"""The public option surface: defaulted parameters of the public
functions under ``mapsplit_spark/``.  A change that adds an option
raises ``MAX_DEFAULTED`` in its own diff; one that removes options
lowers it.  Every option is passed by at least one call in the
repository: an option that nothing sets is a configuration that
nothing runs."""

from __future__ import annotations

import ast
import collections
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "mapsplit_spark"
CALLER_DIRS = ("mapsplit_spark", "jobs", "perfbench", "tools", "tests")
CALLER_FILES = ("bench.py", "__spark_entry__.py")
MAX_DEFAULTED = 149


def _public_functions():
    """Every function or method under ``mapsplit_spark/`` whose name
    does not start with ``_``."""
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if (isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
                    and not node.name.startswith("_")):
                yield path, node


def defaulted_parameters() -> int:
    """Positional plus keyword-only defaults of every public function."""
    n = 0
    for _, node in _public_functions():
        n += len(node.args.defaults)
        n += sum(d is not None for d in node.args.kw_defaults)
    return n


def _calls_by_name() -> dict[str, list[ast.Call]]:
    """Every call in the repository's Python, keyed by the called name
    (``f(...)`` and ``x.f(...)`` both count as calls of ``f``)."""
    paths = [p for d in CALLER_DIRS for p in sorted((ROOT / d).rglob("*.py"))]
    paths += [ROOT / f for f in CALLER_FILES]
    calls = collections.defaultdict(list)
    for path in paths:
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.id if isinstance(f, ast.Name) else \
                    f.attr if isinstance(f, ast.Attribute) else None
                if name:
                    calls[name].append(node)
    return calls


def unset_options() -> list[str]:
    """``module:function(param)`` for each defaulted parameter of a
    public function that no call passes, by keyword or by position.
    A method's ``self``/``cls`` is not counted as a position."""
    calls = _calls_by_name()
    unset = []
    for path, node in _public_functions():
        a = node.args
        pos = a.posonlyargs + a.args
        bound = 1 if pos and pos[0].arg in ("self", "cls") else 0
        first = len(pos) - len(a.defaults)
        options = [(p.arg, i - bound) for i, p in enumerate(pos) if i >= first]
        options += [(p.arg, None) for p, d in zip(a.kwonlyargs, a.kw_defaults)
                    if d is not None]
        for name, index in options:
            if not any(
                any(k.arg == name for k in c.keywords)
                or (index is not None and sum(
                    not isinstance(x, ast.Starred) for x in c.args) > index)
                for c in calls[node.name]
            ):
                unset.append(f"{path.relative_to(ROOT)}:{node.name}({name})")
    return unset


def test_defaulted_parameter_count_does_not_grow():
    assert defaulted_parameters() <= MAX_DEFAULTED


def test_every_option_is_set_by_some_call():
    assert unset_options() == []
