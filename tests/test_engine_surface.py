"""Every public engine name has a caller outside the tests.

Walks ``raptor_spark/`` with ``ast`` and lists each public top-level
def or class and each public method. A name counts as used when some
code outside ``tests/`` refers to it (a ``Name``, an attribute or an
import) other than from inside its own body: the engine itself, the
tools, the benchmark harness or the entry scripts. A name that only
the tests reach must be named in COVERAGE.md, the row of the SURVEY
component it serves; otherwise it is dead weight and fails here.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
CALLERS = ("raptor_spark", "tools", "perfbench", "bench.py",
           "__spark_entry__.py", "submit_backfill.py")


def _py_files(*names: str):
    for name in names:
        p = ROOT / name
        yield from (sorted(p.rglob("*.py")) if p.is_dir() else [p] if p.exists() else [])


def _definitions(tree: ast.Module):
    """(qualified name, bare name) of each public top-level def/class
    and each public method of a top-level class."""
    for node in tree.body:
        if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            continue
        if node.name.startswith("_"):
            continue
        yield node.name, node.name
        if isinstance(node, ast.ClassDef):
            for item in node.body:
                if (isinstance(item, (ast.FunctionDef, ast.AsyncFunctionDef))
                        and not item.name.startswith("_")):
                    yield f"{node.name}.{item.name}", item.name


def _references(tree: ast.Module) -> set[str]:
    """Identifiers a module refers to, skipping a def's references to
    its own name from inside its body (recursion is not a caller)."""
    refs: set[str] = set()

    def visit(node, enclosing: frozenset):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            enclosing = enclosing | {node.name}
        name = None
        if isinstance(node, ast.Name):
            name = node.id
        elif isinstance(node, ast.Attribute):
            name = node.attr
        elif isinstance(node, ast.alias):
            name = node.name.split(".")[-1]
        if name is not None and name not in enclosing:
            refs.add(name)
        for child in ast.iter_child_nodes(node):
            visit(child, enclosing)

    visit(tree, frozenset())
    return refs


def test_every_public_engine_name_has_a_non_test_caller():
    used: set[str] = set()
    for path in _py_files(*CALLERS):
        used |= _references(ast.parse(path.read_text(), str(path)))
    tested: set[str] = set()
    for path in _py_files("tests"):
        tested |= _references(ast.parse(path.read_text(), str(path)))
    coverage = (ROOT / "COVERAGE.md").read_text()

    offenders = []
    for path in _py_files("raptor_spark"):
        for qual, bare in _definitions(ast.parse(path.read_text(), str(path))):
            if bare in used or bare not in tested:
                continue
            if re.search(rf"\b{re.escape(bare)}\b", coverage):
                continue
            offenders.append(f"{path.relative_to(ROOT)}::{qual}")
    assert not offenders, (
        "public engine names reached only from tests/ and not named in "
        "COVERAGE.md (delete them, or name the SURVEY row they serve):\n  "
        + "\n  ".join(offenders)
    )
