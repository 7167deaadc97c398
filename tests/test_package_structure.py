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


def test_only_serving_arms_compiles_query_batches():
    """``operators/serving.ServingArms`` is the one place a query batch
    becomes compiled arm score relations; every other caller serves
    through it (``operators/retrieval.py`` defines the compiler)."""
    names = {"compile_query_batch", "compiled_bm25_scores", "compiled_vector_scores"}
    allowed = {PACKAGE / "operators" / "retrieval.py", PACKAGE / "operators" / "serving.py"}
    calls = []
    for path in sorted(PACKAGE.rglob("*.py")):
        if path in allowed:
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not isinstance(node, ast.Call):
                continue
            fn = node.func
            name = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", None)
            if name in names:
                calls.append(f"{path.relative_to(PACKAGE.parent)}:{node.lineno}: {name}")
    assert not calls, "compiled-arm calls outside ServingArms:\n" + "\n".join(calls)


def test_document_text_passes_run_through_doc_kernel():
    """``functions/kernels.doc_kernel`` is the one per-document Arrow
    text pass: the operator modules that featurize document text make
    no ``mapInPandas`` call of their own, and no module outside the
    runner reaches for the old per-kernel ``_project`` / ``_emit``
    helpers."""
    kernel_free = [
        PACKAGE / "operators" / "dedup.py",
        PACKAGE / "operators" / "fusion.py",
        PACKAGE / "operators" / "pretrain.py",
        PACKAGE / "functions" / "udfs.py",
    ]
    found = []
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            name = None
            if isinstance(node, ast.Attribute):
                name = node.attr
            elif isinstance(node, ast.Name):
                name = node.id
            elif isinstance(node, ast.alias):
                name = node.name
            where = f"{path.relative_to(PACKAGE.parent)}:{getattr(node, 'lineno', '?')}"
            if name == "mapInPandas" and path in kernel_free:
                found.append(f"{where}: mapInPandas")
            elif name in {"_project", "_emit"}:
                found.append(f"{where}: {name}")
    assert not found, "document-text Arrow passes outside doc_kernel:\n" + "\n".join(found)
