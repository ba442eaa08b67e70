"""Structural guard: one implementation per operator.

Each vector, dedup and operator fold in ``fletcher_spark/pipeline/``
and ``fletcher_spark/operators/`` exists in exactly one form — SQL text
(``f_sql``), a frame builder (``f_df``) or a plain function.  A module
that defines a public ``f`` next to ``f_sql`` or ``f_df`` has grown a
second implementation of the same operator, which no oracle pins
against the first.  This test keeps such twins from coming back.
"""

from __future__ import annotations

import ast
import pathlib

import pytest

PKG = pathlib.Path(__file__).resolve().parent.parent / "fletcher_spark"
MODULES = sorted(
    p for d in ("pipeline", "operators") for p in (PKG / d).glob("*.py")
)


def _top_level_names(path: pathlib.Path) -> set[str]:
    names: set[str] = set()
    for node in ast.parse(path.read_text()).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names.update(t.id for t in targets if isinstance(t, ast.Name))
    return names


def test_modules_found():
    assert len(MODULES) >= 10, MODULES


@pytest.mark.parametrize("path", MODULES, ids=lambda p: f"{p.parent.name}/{p.name}")
def test_no_public_name_has_a_sql_or_df_twin(path):
    names = _top_level_names(path)
    twins = sorted(
        (f, f + suffix)
        for f in names
        if not f.startswith("_")
        for suffix in ("_sql", "_df")
        if f + suffix in names
    )
    assert not twins, f"{path.name} defines two implementations of: {twins}"
