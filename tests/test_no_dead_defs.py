"""Every top-level def or class in the package has a caller.

A pure AST scan (no Spark): a package-level function or class counts
as referenced when its name appears as a ``Name``, an ``Attribute`` or
an imported name anywhere in the package, ``tests/``, ``tools/``,
``perfbench/``, ``__spark_entry__.py`` or ``bench.py``. Its own
``def`` line does not count. There is no allowlist: code nothing runs
is deleted, and git keeps it.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "biometric_stream_processing_spark"
SCANNED = [PKG, ROOT / "tests", ROOT / "tools", ROOT / "perfbench",
           ROOT / "__spark_entry__.py", ROOT / "bench.py"]


def _py_files(path: Path) -> list[Path]:
    return [path] if path.is_file() else sorted(path.rglob("*.py"))


def _referenced_names() -> set[str]:
    names: set[str] = set()
    for root in SCANNED:
        for path in _py_files(root):
            for node in ast.walk(ast.parse(path.read_text())):
                if isinstance(node, ast.Name):
                    names.add(node.id)
                elif isinstance(node, ast.Attribute):
                    names.add(node.attr)
                elif isinstance(node, (ast.Import, ast.ImportFrom)):
                    names.update(a.name for a in node.names)
    return names


def test_every_package_def_is_referenced():
    referenced = _referenced_names()
    dead = [
        f"{path.relative_to(PKG)}:{node.lineno} {node.name}"
        for path in _py_files(PKG)
        for node in ast.parse(path.read_text()).body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef))
        and node.name not in referenced
    ]
    assert not dead, "unreferenced package defs:\n" + "\n".join(dead)
