"""Every top-level function in the package must have a caller.

The package keeps no dead helpers: a top-level function, in any module
except the ``queries*.py`` registries (their query functions are called by
name through ``QUERIES``), whose name occurs as code (a NAME token, not a
docstring or comment mention) nowhere in the package or in ``tests/``
apart from its own ``def`` line is dead, and this test names it. Delete
it, or add the caller that needs it."""

from __future__ import annotations

import ast
import collections
import io
import pathlib
import tokenize

REPO = pathlib.Path(__file__).resolve().parent.parent
PKG = REPO / "angelo_bravo_etl_task_spark"


def _name_counts() -> collections.Counter:
    counts: collections.Counter = collections.Counter()
    for path in [*PKG.rglob("*.py"), *(REPO / "tests").rglob("*.py")]:
        src = io.StringIO(path.read_text(encoding="utf-8"))
        for tok in tokenize.generate_tokens(src.readline):
            if tok.type == tokenize.NAME:
                counts[tok.string] += 1
    return counts


def test_every_operator_function_has_a_caller():
    counts = _name_counts()
    dead = [
        f"{path.relative_to(PKG)}:{node.lineno} {node.name}"
        for path in sorted(PKG.rglob("*.py"))
        if not path.name.startswith("queries")
        for node in ast.parse(path.read_text(encoding="utf-8")).body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        and counts[node.name] <= 1
    ]
    assert dead == [], "package functions with no caller: " + ", ".join(dead)
