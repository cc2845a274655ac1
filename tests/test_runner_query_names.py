"""Every query name a runner script looks up is registered: a retired query
left in a runner raises ``KeyError`` only when that runner next runs. The
benchmark's own lists are held to ``queries()`` too: ``perfbench/board.py``
times its ``TIMED`` names, and ``perfbench/run.py`` counts every
``query.<name>.s`` row of ``BENCHMARK.json`` that names no registered query
as a failed operation."""

import ast
import json
from pathlib import Path

import pytest

import __spark_entry__ as entry

ROOT = Path(__file__).resolve().parent.parent
RUNNERS = ["bench.py", "bench_extra.py", "tools/dump_plans.py", "tools/bench_scale.py"]


def _looked_up(path: Path) -> dict:
    """registry ("reg", "extras" or "any") → the constant names ``path``
    looks up in it: ``reg[...]``/``extras[...]`` subscripts, the keys of
    ``SHOW`` and the items of ``SLOWEST``."""
    out = {"reg": set(), "extras": set(), "any": set()}
    tree = ast.parse(path.read_text())
    for n in ast.walk(tree):
        if (isinstance(n, ast.Subscript) and isinstance(n.value, ast.Name)
                and n.value.id in ("reg", "extras") and isinstance(n.slice, ast.Constant)):
            out[n.value.id].add(n.slice.value)
    for n in tree.body:
        if isinstance(n, ast.Assign) and isinstance(n.targets[0], ast.Name):
            if n.targets[0].id == "SHOW":
                out["any"] |= {k.value for k in n.value.keys}
            elif n.targets[0].id == "SLOWEST":
                out["reg"] |= {e.value for e in n.value.elts}
    return out


@pytest.mark.parametrize("runner", RUNNERS)
def test_runner_query_names_are_registered(runner):
    reg, extras = set(entry.queries()), set(entry.extra_queries())
    names = _looked_up(ROOT / runner)
    assert any(names.values()), f"{runner}: no query lookups found"
    assert names["reg"] <= reg, sorted(names["reg"] - reg)
    assert names["extras"] <= extras, sorted(names["extras"] - extras)
    assert names["any"] <= reg | extras, sorted(names["any"] - reg - extras)


def _benchmark_names(source: str) -> set:
    """The query names ``perfbench/board.py``'s ``TIMED`` tuple or
    ``BENCHMARK.json``'s ``query.<name>.s`` per-layer rows list."""
    text = (ROOT / source).read_text()
    if source.endswith(".json"):
        rows = [m["name"] for m in json.loads(text)["per_layer"]]
        return {r[len("query."):-len(".s")] for r in rows
                if r.startswith("query.") and r.endswith(".s")}
    (timed,) = [n.value for n in ast.parse(text).body if isinstance(n, ast.Assign)
                and isinstance(n.targets[0], ast.Name) and n.targets[0].id == "TIMED"]
    return {e.value for e in timed.elts}


@pytest.mark.parametrize("source", ["perfbench/board.py", "BENCHMARK.json"])
def test_benchmark_query_names_are_registered(source):
    names = _benchmark_names(source)
    assert names, f"{source}: no query names found"
    assert names <= set(entry.queries()), sorted(names - set(entry.queries()))
