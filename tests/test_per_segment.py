"""Every single-index per-segment query path runs through
``Searcher._per_segment``: the one place a query cogroups its postings
with the segment norms and crosses from the JVM into Python. The only
other cogroup is ``combined_field_topk``, whose groups hold one norms row
per field. A new copy of the cogroup scaffolding fails this test."""

from __future__ import annotations

import ast
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "lucene_spark"

ALLOWED = {("operators/search.py", "_per_segment"),
           ("operators/combinedfield.py", "combined_field_topk")}


def _cogroup_calls(path: pathlib.Path):
    """(enclosing top-level-or-method function name, line) of every
    ``.cogroup(`` call in ``path``."""
    out = []

    def visit(node, func):
        for child in ast.iter_child_nodes(node):
            name = func
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)) \
                    and func is None:
                name = child.name
            if isinstance(child, ast.ClassDef):
                name = None
            if isinstance(child, ast.Call) \
                    and isinstance(child.func, ast.Attribute) \
                    and child.func.attr == "cogroup":
                out.append((func, child.lineno))
            visit(child, name)

    visit(ast.parse(path.read_text(encoding="utf-8")), None)
    return out


def test_cogroup_only_in_per_segment_primitive():
    found = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        for func, line in _cogroup_calls(path):
            assert (rel, func) in ALLOWED, \
                f"cogroup( at lucene_spark/{rel}:{line} in {func}: " \
                "run per-segment work through Searcher._per_segment"
            found.add((rel, func))
    assert found == ALLOWED
