"""The public option surface: defaulted parameters of the public
functions under ``mapsplit_spark/``.  A change that adds an option
raises ``MAX_DEFAULTED`` in its own diff; one that removes options
lowers it."""

from __future__ import annotations

import ast
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "mapsplit_spark"
MAX_DEFAULTED = 221


def defaulted_parameters() -> int:
    """Positional plus keyword-only defaults of every function or method
    whose name does not start with ``_``."""
    n = 0
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if (isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
                    and not node.name.startswith("_")):
                n += len(node.args.defaults)
                n += sum(d is not None for d in node.args.kw_defaults)
    return n


def test_defaulted_parameter_count_does_not_grow():
    assert defaulted_parameters() <= MAX_DEFAULTED
