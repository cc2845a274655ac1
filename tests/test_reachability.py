"""Every top-level definition of the package (``b_pdf_parser_spark/**``) and
of ``__spark_entry__.py`` is reached from code that runs outside ``tests/``.

Roots: the driver contract (``entry``, ``queries``/``extra_queries`` and
their oracles), module-level statements, and every name the runners use
(``jobs/``, ``perfbench/``, ``tools/``, ``bench.py``, ``bench_extra.py``).
A definition is reached when a root or a reached definition names it. A
reference is matched by name, so a name shared by two modules reaches both.
A definition only a test calls is test-only code: it goes, or moves into
the test that uses it."""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
MODULES = [*sorted(ROOT.glob("b_pdf_parser_spark/**/*.py")), ROOT / "__spark_entry__.py"]
RUNNERS = [*ROOT.glob("jobs/*.py"), *ROOT.glob("perfbench/*.py"), *ROOT.glob("tools/*.py"),
           ROOT / "bench.py", ROOT / "bench_extra.py"]
CONTRACT = {"entry", "queries", "extra_queries", "oracle_sql", "extra_oracle_sql"}

# kept with no caller outside tests: a whole module, or ``module::name``
ALLOWED = {
    "b_pdf_parser_spark/plans/transactions_relational.py":
        "the relational transaction extraction the kernel's strategy chain is compared against",
    "b_pdf_parser_spark/sources/warc.py":
        "WARC/WET container readers (and the writers their tests build input with)",
    "b_pdf_parser_spark/sources/sinks.py":
        "the reference's CSV/JSONL outputs S7-S9 and the bucketed sink",
    "b_pdf_parser_spark/functions/numbers.py::normalize_number_col":
        "the reference's number normalisation behind its CSV outputs",
    "b_pdf_parser_spark/pdfmodel.py::extract_pdf_pages":
        "the reference backends' per-page text contract",
}


def _refs(node) -> set:
    """Names ``node`` reads: loaded names, attribute names, imported names."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
    return out


def _scan(path: Path):
    """(top-level name → the names its body reads, names module-level
    statements read)."""
    defs, roots = {}, set()
    for n in ast.parse(path.read_text()).body:
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            defs[n.name] = _refs(n)
        elif isinstance(n, (ast.Assign, ast.AnnAssign)):
            targets = n.targets if isinstance(n, ast.Assign) else [n.target]
            names = [t.id for t in targets if isinstance(t, ast.Name)]
            if names and "__all__" not in names:
                defs.update((t, _refs(n.value) if n.value else set()) for t in names)
            else:
                roots |= _refs(n)
        elif not isinstance(n, (ast.Import, ast.ImportFrom)) and not (
                isinstance(n, ast.Expr) and isinstance(n.value, ast.Constant)):
            roots |= _refs(n)  # any statement but an import or a docstring
    return defs, roots


def test_every_definition_is_reached_outside_tests():
    table = {p.relative_to(ROOT).as_posix(): _scan(p) for p in MODULES}
    by_name = {}
    for mod, (defs, _) in table.items():
        for name in defs:
            by_name.setdefault(name, []).append((mod, name))

    todo = set(CONTRACT)
    for path in RUNNERS:
        todo |= _refs(ast.parse(path.read_text()))
    for _, roots in table.values():
        todo |= roots
    reached = set()
    for key in ALLOWED:
        mod, _, name = key.partition("::")
        assert mod in table and (not name or name in table[mod][0]), f"stale allowlist entry {key}"
        reached |= {(mod, d) for d in ([name] if name else table[mod][0])}
    for mod, name in reached:
        todo |= table[mod][0][name]

    seen = set()
    todo = list(todo)
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        for key in by_name.get(name, ()):
            reached.add(key)
            todo.extend(table[key[0]][0][key[1]])

    unreached = {mod: sorted(set(defs) - {d for m, d in reached if m == mod})
                 for mod, (defs, _) in table.items()}
    unreached = {mod: names for mod, names in unreached.items() if names}
    assert not unreached, f"only tests reach these: {unreached}"
