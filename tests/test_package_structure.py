"""Static checks over the package source (no Spark session needed)."""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "beyond_vector_search_spark"


def _top_level_bindings(tree: ast.Module):
    """(name, lineno) for every name a module's top-level statements
    bind: def / class, plain and annotated assignment, import."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield node.name, node.lineno
        elif isinstance(node, ast.Assign):
            for target in node.targets:
                for n in ast.walk(target):
                    if isinstance(n, ast.Name):
                        yield n.id, node.lineno
        elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
            yield node.target.id, node.lineno
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            for alias in node.names:
                yield (alias.asname or alias.name).split(".")[0], node.lineno


def test_no_module_defines_a_top_level_name_twice():
    """A second top-level definition silently shadows the first — the
    earlier body is dead code that still reads as live."""
    dups = []
    for path in sorted(PACKAGE.rglob("*.py")):
        first: dict[str, int] = {}
        for name, line in _top_level_bindings(ast.parse(path.read_text(), str(path))):
            if name in first:
                dups.append(f"{path.relative_to(PACKAGE.parent)}: {name} (lines {first[name]} and {line})")
            else:
                first[name] = line
    assert not dups, "top-level names defined twice:\n" + "\n".join(dups)
