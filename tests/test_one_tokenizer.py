"""Lint: the oracle-mirrored whitespace tokenizer is spelled once.

``text_analysis.tokens_raw`` is the engine's single spelling of
``LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> '')``. This test walks
every module under ``synth_transform_spark/`` except
``operators/text_analysis.py`` and fails on any inline
``filter(split(<x>, " "), lambda t: t != "")``, so a new call site has to
go through ``tokens_raw`` (or ``tokens_raw(F.lower(...))``) instead of
growing another copy. Splits on other patterns (``" +"``) and filters with
a different predicate are different rules and are not flagged.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "synth_transform_spark"
OWNER = PKG / "operators" / "text_analysis.py"


def _callee(node: ast.AST) -> str | None:
    if isinstance(node, ast.Call):
        f = node.func
        if isinstance(f, ast.Attribute):
            return f.attr
        if isinstance(f, ast.Name):
            return f.id
    return None


def _is_str(node: ast.AST, value: str) -> bool:
    return isinstance(node, ast.Constant) and node.value == value


def _is_nonempty_lambda(node: ast.AST) -> bool:
    if not (isinstance(node, ast.Lambda) and len(node.args.args) == 1):
        return False
    arg = node.args.args[0].arg
    body = node.body
    return (
        isinstance(body, ast.Compare)
        and len(body.ops) == 1
        and isinstance(body.ops[0], ast.NotEq)
        and isinstance(body.left, ast.Name)
        and body.left.id == arg
        and _is_str(body.comparators[0], "")
    )


def inline_tokenizers(source: str) -> list[int]:
    """Line numbers of inline ``filter(split(x, " "), t -> t != "")``."""
    hits = []
    for node in ast.walk(ast.parse(source)):
        if _callee(node) != "filter" or len(node.args) != 2:
            continue
        split, pred = node.args
        if (
            _callee(split) == "split"
            and len(split.args) >= 2
            and _is_str(split.args[1], " ")
            and _is_nonempty_lambda(pred)
        ):
            hits.append(node.lineno)
    return hits


def test_no_inline_whitespace_tokenizer_outside_text_analysis():
    # the detector itself: it must see both spellings and skip other rules
    flagged = [
        'F.filter(F.split("text", " "), lambda t: t != "")',
        'F.filter(F.split(F.lower(F.col("text")), " "), lambda x: x != "")',
    ]
    kept = [
        'F.filter(F.split(cleaned, " +"), lambda t: t != "")',
        'F.filter(F.split("text", " "), lambda t: (t != "") & (F.length(t) <= 2))',
        'F.split("text", " ")',
    ]
    assert all(inline_tokenizers(s) for s in flagged)
    assert not any(inline_tokenizers(s) for s in kept)

    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        if path == OWNER:
            continue
        for line in inline_tokenizers(path.read_text()):
            offenders.append(f"{path.relative_to(PKG.parent)}:{line}")
    assert not offenders, (
        "inline whitespace tokenizer; use text_analysis.tokens_raw instead:\n  "
        + "\n  ".join(offenders)
    )
