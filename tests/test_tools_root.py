"""Scripts under ``tools/`` import and write the checkout they live in.

A script that puts a fixed absolute path on ``sys.path`` imports whatever
package sits there, so run from a second checkout (say, a copy of the
parent for an A/B) it silently measures the first one. Each script
derives its root from ``__file__``, as ``bench.py`` does.
"""

from __future__ import annotations

import ast
from pathlib import Path

_REPO = Path(__file__).resolve().parents[1]


def fixed_root_paths(tools: Path, root: Path) -> list[str]:
    """``file:line`` of every ``sys.path.insert``/``append`` given a string
    literal, and of every string literal inside ``root``."""
    hits = []
    for path in sorted(tools.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            literal_path_arg = (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("insert", "append")
                and ast.unparse(node.func.value) == "sys.path"
                and isinstance(node.args[-1], ast.Constant))
            in_root = (isinstance(node, ast.Constant)
                       and isinstance(node.value, str)
                       and node.value.startswith(str(root)))
            if literal_path_arg or in_root:
                hits.append(f"{path.name}:{node.lineno}")
    return hits


def test_tools_derive_their_root_from_file():
    assert fixed_root_paths(_REPO / "tools", _REPO) == []


def test_lint_flags_a_literal_root(tmp_path):
    (tmp_path / "t.py").write_text(
        "import os, sys\n"
        "sys.path.insert(0, '/somewhere/else')\n"
        f"OUT = {str(tmp_path / 'x.md')!r}\n"
        "sys.path.insert(0, os.path.dirname(__file__))\n")
    assert fixed_root_paths(tmp_path, tmp_path) == ["t.py:2", "t.py:3"]
