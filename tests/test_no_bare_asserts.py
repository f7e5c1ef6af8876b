"""Runtime invariants must raise real errors.

``python -O`` strips ``assert`` statements, so an invariant written as one
silently stops being checked in an optimised run. This walks every module
of the engine package and fails on any ``assert`` statement; tests are not
covered (pytest relies on them).

No Spark session needed — static analysis of the source tree.
"""

from __future__ import annotations

import ast
import pathlib

import synth_transform_spark

PACKAGE = pathlib.Path(synth_transform_spark.__file__).resolve().parent


def test_no_assert_statements_in_engine():
    sites = [
        f"{path.relative_to(PACKAGE.parent)}:{node.lineno}"
        for path in sorted(PACKAGE.rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path)))
        if isinstance(node, ast.Assert)
    ]
    assert sites == [], f"bare assert in engine code (use raise): {sites}"
