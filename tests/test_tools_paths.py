"""Static guard: every tool imports the checkout it sits in.

A tool that puts a fixed string, an absolute checkout path or ``"."``, on
``sys.path`` imports whichever checkout that string names, so running
one checkout's tool against another checkout's code goes unnoticed.
Tools derive the path from ``__file__`` instead. No Spark session is
needed.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

TOOLS = Path(__file__).resolve().parent.parent / "tools"


def _literal_sys_path_entries(tree: ast.AST) -> list[int]:
    """Line numbers of ``sys.path.insert/append`` calls whose path
    argument is a string literal."""
    lines = []
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("insert", "append")
            and ast.unparse(node.func.value) == "sys.path"
            and node.args
            and isinstance(node.args[-1], ast.Constant)
            and isinstance(node.args[-1].value, str)
        ):
            lines.append(node.lineno)
    return lines


@pytest.mark.parametrize(
    "path", sorted(TOOLS.glob("*.py")), ids=lambda p: p.name
)
def test_tool_puts_no_string_literal_on_sys_path(path):
    tree = ast.parse(path.read_text(), filename=str(path))
    assert _literal_sys_path_entries(tree) == []


def test_check_finds_a_literal_entry():
    tree = ast.parse('import sys\nsys.path.insert(0, "/srv/checkout")\n')
    assert _literal_sys_path_entries(tree) == [2]
