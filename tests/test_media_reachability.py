"""Every top-level definition of the media codecs is reached by code
outside ``tests/``: a registered query or kept extra (``__spark_entry__``),
another package module, ``jobs/``, ``perfbench/`` or ``tools/``, directly or
through another reached definition of the same module. A codec path that
only a test calls is test-only code; it goes, or moves into the test."""

import ast
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
MODULES = [
    "b_pdf_parser_spark/mediacodec.py",
    "b_pdf_parser_spark/avicodec.py",
    "b_pdf_parser_spark/operators/multimodal.py",
]


def _names(node) -> set:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
    return out


def _definitions(tree) -> dict:
    """Top-level name → the names its body (or value) refers to."""
    defs = {}
    for n in tree.body:
        if isinstance(n, (ast.FunctionDef, ast.ClassDef)):
            defs[n.name] = _names(n)
        elif isinstance(n, ast.Assign):
            for t in n.targets:
                if isinstance(t, ast.Name) and t.id != "__all__":
                    defs[t.id] = _names(n.value)
    return defs


@pytest.mark.parametrize("module", MODULES)
def test_every_media_definition_is_reached_outside_tests(module):
    path = ROOT / module
    defs = _definitions(ast.parse(path.read_text()))
    callers = [
        *ROOT.glob("b_pdf_parser_spark/**/*.py"),
        *ROOT.glob("jobs/*.py"),
        *ROOT.glob("perfbench/*.py"),
        *ROOT.glob("tools/*.py"),
        ROOT / "__spark_entry__.py",
    ]
    outside = set()
    for f in callers:
        if f.resolve() != path.resolve():
            outside |= _names(ast.parse(f.read_text()))
    reached, todo = set(), [d for d in defs if d in outside]
    while todo:
        d = todo.pop()
        if d not in reached:
            reached.add(d)
            todo += [x for x in defs[d] if x in defs]
    assert sorted(set(defs) - reached) == []
