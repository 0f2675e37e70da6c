"""No two functions under ``predictor_spark/`` may share a body.

A recurring idiom gets one home (a shared helper) instead of a copy per
caller. This lint AST-scans every top-level, nested and method function
in the package and fails when two of them, each at least ``_MIN_LINES``
lines long (the def line plus the body; a docstring and a signature
wrapped over several lines do not count), have bodies that are the same
apart from identifiers. Docstrings are dropped before comparing. Local names,
arguments, keyword names, imported names and function names are blanked;
constants, attribute names and import module paths are kept, because a
call to ``dedup.connected_components`` is a different body from one to
``dedup.connected_components_star``.

``plans/proto_r13.py`` and ``plans/proto_r14.py`` are frozen reference
copies of live rows; none of their functions matches a live one, so they
get no exemption.
"""

from __future__ import annotations

import ast
import copy
from collections import defaultdict
from pathlib import Path

_PKG = Path(__file__).resolve().parents[1] / "predictor_spark"
_MIN_LINES = 6


class _Blank(ast.NodeTransformer):
    """Blank every bound or referenced name; keep structure and constants."""

    def visit_Name(self, node):
        return ast.copy_location(ast.Name(id="_", ctx=node.ctx), node)

    def visit_arg(self, node):
        node.arg, node.annotation = "_", None
        return node

    def visit_keyword(self, node):
        self.generic_visit(node)
        node.arg = node.arg and "_"
        return node

    def visit_alias(self, node):
        node.name, node.asname = "_", None
        return node

    def _fn(self, node):
        self.generic_visit(node)
        node.name, node.returns = "_", None
        return node

    visit_FunctionDef = visit_AsyncFunctionDef = _fn


def _without_docstring(body: list[ast.stmt]) -> list[ast.stmt]:
    if (body and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
            and isinstance(body[0].value.value, str)):
        return body[1:]
    return body


def duplicate_groups(root: Path = _PKG) -> list[list[str]]:
    """Groups (>= 2 members) of ``path:line name`` whose bodies match."""
    seen: dict[str, list[str]] = defaultdict(list)
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            body = _without_docstring(fn.body)
            if not body or body[-1].end_lineno - body[0].lineno + 2 < _MIN_LINES:
                continue
            mod = ast.Module(body=copy.deepcopy(body), type_ignores=[])
            key = ast.dump(_Blank().visit(mod), annotate_fields=False)
            seen[key].append(
                f"{path.relative_to(root.parent)}:{fn.lineno} {fn.name}")
    return [g for g in seen.values() if len(g) > 1]


def test_no_duplicate_function_bodies():
    groups = duplicate_groups()
    assert not groups, (
        "function bodies identical apart from identifiers — give the idiom "
        "one home and call it:\n" + "\n".join(
            "  " + " == ".join(g) for g in groups))
