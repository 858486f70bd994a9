"""Static guard: every top-level def and class in the package must be
named somewhere outside its own body.

A name counts when it appears in code, not in comments or docstrings:
as a variable or attribute, in an import, or as a string constant that
is exactly the name (``getattr`` and registry lookups). The places
searched are the package, ``__spark_entry__.py``, ``bench.py``,
``tools/``, ``perfbench/`` and ``tests/``. No Spark session is needed.
"""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "big_data_computing__spark"


def _sources() -> list[Path]:
    files = [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    for sub in (PACKAGE, ROOT / "tools", ROOT / "perfbench", ROOT / "tests"):
        files += sorted(sub.rglob("*.py"))
    return files


def _names(node: ast.AST) -> Counter:
    found: Counter = Counter()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            found[n.id] += 1
        elif isinstance(n, ast.Attribute):
            found[n.attr] += 1
        elif isinstance(n, ast.alias):
            found[n.name.rsplit(".", 1)[-1]] += 1
            if n.asname:
                found[n.asname] += 1
        elif (
            isinstance(n, ast.Constant)
            and isinstance(n.value, str)
            and n.value.isidentifier()
        ):
            found[n.value] += 1
    return found


def unnamed_defs() -> list[str]:
    """``module::name`` of each package def named nowhere but inside
    its own body."""
    uses: Counter = Counter()
    defs = []
    for path in _sources():
        tree = ast.parse(path.read_text(), filename=str(path))
        uses += _names(tree)
        if PACKAGE in path.parents:
            for node in tree.body:
                if isinstance(
                    node,
                    (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef),
                ):
                    defs.append((path.relative_to(ROOT), node))
    return [
        f"{path}::{node.name}"
        for path, node in defs
        if uses[node.name] - _names(node)[node.name] == 0
    ]


def test_every_package_def_is_named_outside_itself():
    dead = unnamed_defs()
    assert not dead, "named nowhere:\n" + "\n".join(dead)
