"""Every top-level definition of the package (``b_pdf_parser_spark/**``) and
of ``__spark_entry__.py`` is reached from code that runs outside ``tests/``.

Roots: the driver contract (``entry``, ``queries``/``extra_queries`` and
their oracles), module-level statements, and every name the runners use
(``jobs/``, ``perfbench/``, ``tools/``, ``bench.py``, ``bench_extra.py``).
A definition is reached when a root or a reached definition names it.

A name resolves through the module it is read in: a top-level definition
of that module, or what an import there binds it to (``from .m import x``,
``import m`` and ``m.x`` reach ``x`` in ``m``; a re-export is followed to
its definition). A name that several imports in one module bind, such as
one local alias per function, resolves to every one of them. Only an
attribute the resolver cannot place (``obj.method``) falls back to every
top-level definition of that name, so a live definition does not keep a
same-named dead one in another module alive. There is no exemption: a
definition only a test calls is test-only code, and it goes or moves into
the test that uses it (a reference a test compares the package against
lives in that test)."""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
MODULES = [*sorted(ROOT.glob("b_pdf_parser_spark/**/*.py")), ROOT / "__spark_entry__.py"]
RUNNERS = [*ROOT.glob("jobs/*.py"), *ROOT.glob("perfbench/*.py"), *ROOT.glob("tools/*.py"),
           ROOT / "bench.py", ROOT / "bench_extra.py"]
CONTRACT = {"entry", "queries", "extra_queries", "oracle_sql", "extra_oracle_sql"}

def _module_path(dotted: str):
    """``a.b.c`` → ``a/b/c.py`` or ``a/b/c/__init__.py`` under the repo root,
    as a posix path relative to it, or ``None`` outside the repo."""
    base = ROOT.joinpath(*dotted.split("."))
    for p in (base.with_suffix(".py"), base / "__init__.py"):
        if p.is_file():
            return p.relative_to(ROOT).as_posix()
    return None


def _package(path: Path, level: int) -> str:
    """The dotted package a ``level``-dot relative import in ``path`` names."""
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    return ".".join(parts[:len(parts) - level])


def _refs(node) -> set:
    """What ``node`` reads: ``("name", id)`` for a loaded name and
    ``("attr", id, a1, ...)`` for an attribute chain on a name (its inner
    links too); an attribute on anything else is ``("bare", attr)``."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store):
            out.add(("name", n.id))
        elif isinstance(n, ast.Attribute):
            chain, v = [n.attr], n.value
            while isinstance(v, ast.Attribute):
                chain.append(v.attr)
                v = v.value
            out.add(("attr", v.id, *reversed(chain)) if isinstance(v, ast.Name)
                    else ("bare", n.attr))
    return out


def _imports(path: Path, nodes) -> dict:
    """Local name → the ``("mod", path)`` or ``("def", path, name)`` targets
    the imports among ``nodes`` (at any depth) bind it to in ``path``;
    imports of code outside the repo are left out."""
    out = {}
    for n in (m for node in nodes for m in ast.walk(node)):
        if isinstance(n, ast.Import):
            for a in n.names:
                # ``import a.b`` binds ``a``; ``import a.b as m`` binds ``m`` to a.b
                dotted = a.name if a.asname else a.name.split(".")[0]
                mod = _module_path(dotted)
                if mod:
                    out.setdefault(a.asname or dotted, set()).add(("mod", mod))
        elif isinstance(n, ast.ImportFrom):
            pkg = _package(path, n.level) if n.level else ""
            dotted = ".".join(p for p in (pkg, n.module or "") if p)
            mod = _module_path(dotted)
            if mod is None:
                continue
            for a in n.names:
                sub = _module_path(f"{dotted}.{a.name}")
                out.setdefault(a.asname or a.name, set()).add(
                    ("mod", sub) if sub else ("def", mod, a.name))
    return out


def _scan(path: Path):
    """(top-level name → (what its body reads, the imports inside it), what
    module-level statements read, the module-level import bindings)."""
    defs, roots, top = {}, set(), []
    for n in ast.parse(path.read_text()).body:
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            defs[n.name] = (_refs(n), _imports(path, [n]))
            continue
        top.append(n)
        if isinstance(n, (ast.Assign, ast.AnnAssign)):
            targets = n.targets if isinstance(n, ast.Assign) else [n.target]
            names = [t.id for t in targets if isinstance(t, ast.Name)]
            if names and "__all__" not in names:
                defs.update((t, (_refs(n.value) if n.value else set(), {})) for t in names)
            else:
                roots |= _refs(n)
        elif not isinstance(n, (ast.Import, ast.ImportFrom)) and not (
                isinstance(n, ast.Expr) and isinstance(n.value, ast.Constant)):
            roots |= _refs(n)  # any statement but an import or a docstring
    return defs, roots, _imports(path, top)


def _walk(table: dict, roots: set) -> set:
    """Every ``(module, name)`` definition that ``roots`` reach. A root is a
    ``(module, owner, ref)`` triple: the module the ref is read in and the
    top-level definition there that reads it (``None`` at module level),
    whose own imports bind names for it."""
    by_name = {}
    for mod, (defs, _, _) in table.items():
        for name in defs:
            by_name.setdefault(name, set()).add((mod, name))

    def targets(mod, name, owner=None, seen=frozenset()):
        """What ``name`` means in ``mod`` (inside ``owner``): its own
        top-level definition, a submodule of a package, or what an import
        binds it to, followed through re-exports."""
        if mod not in table or (mod, name) in seen:
            return set()
        defs, _, imports = table[mod]
        out = {("def", mod, name)} if name in defs else set()
        local = defs[owner][1] if owner else {}
        for t in {*imports.get(name, ()), *local.get(name, ())}:
            out |= {t} if t[0] == "mod" else targets(t[1], t[2], None, seen | {(mod, name)})
        if mod.endswith("/__init__.py"):
            sub = _module_path(f"{mod[:-len('/__init__.py')].replace('/', '.')}.{name}")
            out |= {("mod", sub)} if sub else set()
        return out

    def resolve(mod, owner, ref):
        if ref[0] == "bare":
            return by_name.get(ref[1], set())
        hits, attrs, out = targets(mod, ref[1], owner), list(ref[2:]), set()
        while True:
            out |= {t[1:] for t in hits if t[0] == "def"}
            mods = {t[1] for t in hits if t[0] == "mod"}
            if not (mods and attrs):
                break
            hits = set().union(*(targets(m, attrs[0]) for m in mods))
            if not hits:
                break
            attrs.pop(0)
        for attr in attrs:  # attributes the resolver cannot place (methods, ...)
            out |= by_name.get(attr, set())
        return out

    reached, seen, todo = set(), set(), list(roots)
    while todo:
        item = todo.pop()
        if item in seen:
            continue
        seen.add(item)
        for mod, name in resolve(*item) - reached:
            reached.add((mod, name))
            todo.extend((mod, name, r) for r in table[mod][0][name][0])
    return reached


def test_every_definition_is_reached_outside_tests():
    table = {p.relative_to(ROOT).as_posix(): _scan(p) for p in MODULES}
    roots = {("__spark_entry__.py", None, ("name", n)) for n in CONTRACT}
    for path in RUNNERS:  # a runner is read whole: everything it names is a root
        tree = ast.parse(path.read_text())
        table[path.relative_to(ROOT).as_posix()] = ({}, _refs(tree), _imports(path, [tree]))
    for mod, (_, refs, _) in table.items():
        roots |= {(mod, None, r) for r in refs}

    reached = _walk(table, roots)
    unreached = {mod: sorted(set(defs) - {d for m, d in reached if m == mod})
                 for mod, (defs, _, _) in table.items()}
    unreached = {mod: names for mod, names in unreached.items() if names}
    assert not unreached, f"only tests reach these: {unreached}"
