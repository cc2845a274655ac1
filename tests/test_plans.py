"""Physical-plan audits: the scale properties we claim must be visible in
``explain`` output, not just asserted in prose (SURVEY §4.2).

* extraction scan prunes to (url, warc_ts, html) — `text`/`lang` never read
* small-dimension joins broadcast
* grouped aggregates keep map-side partial aggregation
* the extraction pipeline has exactly its two intended exchanges
  (small-side hash repartition + big-side round-robin), nothing hidden
* filters on the pages source push into the scan
"""

import pyspark.sql.functions as F
import pytest

import __spark_entry__ as entry

ALL_Q = {**entry.queries(), **entry.extra_queries()}


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def pages_parquet(spark, tmp_path_factory):
    from b_pdf_parser_spark.sources.pages import synth_pages_df

    p = str(tmp_path_factory.mktemp("plans") / "pages.parquet")
    synth_pages_df(spark, 50, seed=13, num_partitions=2).write.parquet(p)
    return p


def test_extraction_scan_prunes_columns(spark, pages_parquet):
    from b_pdf_parser_spark.operators.extract import extract_pages

    pages = spark.read.parquet(pages_parquet)
    plan = _plan(extract_pages(pages, num_partitions=4))
    assert "ReadSchema" in plan
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "html" in read_schema and "url" in read_schema
    assert "lang" not in read_schema, "scan must not read the lang column"
    # 'text' appears in output col names; check the parquet read schema only
    assert "text:string" not in read_schema.replace(" ", "")


def test_extraction_has_exactly_one_exchange(spark, pages_parquet):
    from b_pdf_parser_spark.operators.extract import extract_pages

    pages = spark.read.parquet(pages_parquet)
    plan = _plan(extract_pages(pages, num_partitions=4))
    # single scan, single salted-hash shuffle — no double read of the source
    assert plan.count("Exchange") == 1
    assert "hashpartitioning" in plan
    assert plan.count("FileScan parquet") == 1


def test_filter_pushdown_on_pages(spark, pages_parquet):
    pages = spark.read.parquet(pages_parquet).filter(F.col("lang") == "id").select("url")
    plan = _plan(pages)
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and "lang" in pushed[0]


def test_broadcast_joins_in_dimension_queries(spark):
    for name in ("top_customers", "regional_revenue"):
        plan = _plan(ALL_Q[name](spark, "/root/testdata/sf0.001"))
        assert "BroadcastHashJoin" in plan, name


def test_partial_aggregation_present(spark):
    plan = _plan(ALL_Q["pricing_summary"](spark, "/root/testdata/sf0.001"))
    # Catalyst splits hash aggregates into partial + final around the exchange
    assert plan.count("HashAggregate") >= 2
    assert "partial_" in plan.lower() or "Partial" in plan


def test_wholestage_codegen_on_relational_path(spark):
    # codegen spans on the scalar-expression query (AQE only shows codegen
    # nodes in the final executed plan, so run the query first)
    import re

    df = ALL_Q["pricing_summary"](spark, "/root/testdata/sf0.001")
    df.collect()
    plan = _plan(df)
    # codegen stages render as "*(N) Operator" in the executed-plan string
    assert re.search(r"\*\(\d+\) HashAggregate", plan) and "isFinalPlan=true" in plan
    # ...and even the higher-order-function query (not codegen-able) stays
    # JVM-side: no Python evaluation node anywhere in the hot path
    for name in ("text_stats", "langid", "pricing_summary", "sessionize_events"):
        p = _plan(ALL_Q[name](spark, "/root/testdata/sf0.001"))
        assert "EvalPython" not in p, f"{name} must not drop into Python"


def test_lsh_join_keyed_on_bucket(spark):
    plan = _plan(ALL_Q["lsh_candidates"](spark, "/root/testdata/sf0.001"))
    assert "band" in plan  # join keys include the band/bucket, not doc pairs


def test_token_shards_bucketed_has_no_global_sort(spark):
    # the whole point of the two-level form: the running-sum window
    # partitions on the bucket (hash exchange), never a single-partition
    # global sort — the plan must show it
    from b_pdf_parser_spark.operators.sampling import (token_shards,
                                                       token_shards_bucketed)

    df = spark.range(0, 500, 1, 4).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("w x y "), F.col("id").cast("string")).alias("text"),
    )
    g = _plan(token_shards(df, "doc_id", "text", 100))
    b = _plan(token_shards_bucketed(df, "doc_id", "text", 100))
    assert "SinglePartition" in g          # the global form's inherent cost
    assert "SinglePartition" not in b
    assert "hashpartitioning(bucket" in b  # per-bucket window exchange


def test_host_cap_threshold_is_windowless(spark):
    from b_pdf_parser_spark.operators.sampling import (per_host_cap,
                                                       per_host_cap_threshold)

    df = spark.range(0, 200, 1, 4).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("h"), (F.col("id") % 5).cast("string")).alias("host"),
    )
    w = _plan(per_host_cap(df, "doc_id", "host", 3))
    t = _plan(per_host_cap_threshold(df, "doc_id", "host", 3))
    assert "Window" in w
    assert "Window" not in t  # two linear passes, no per-host task


def _named_calls(tree):
    """(callee name, enclosing function's dotted name, line) for every call
    whose callee is a plain or attribute name. A decorator's call belongs
    to the function the decorated one is defined in."""
    import ast

    out = []

    def visit(node, fn):
        if isinstance(node, ast.Call):
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            if name:
                out.append((name, fn, node.lineno))
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            for d in node.decorator_list:
                visit(d, fn)
            fn = f"{fn}.{node.name}" if fn else node.name
            children = [c for c in ast.iter_child_nodes(node) if c not in node.decorator_list]
        else:
            children = ast.iter_child_nodes(node)
        for child in children:
            visit(child, fn)

    visit(tree, None)
    return out


def _program_files(root):
    return [
        *sorted((root / "b_pdf_parser_spark").rglob("*.py")),
        root / "__spark_entry__.py",
        *sorted((root / "jobs").rglob("*.py")),
    ]


def test_one_kernel_idiom():
    """Every Python batch kernel goes through ``operators.arrow_kernel``:
    no pandas interchange (``mapInPandas``, ``applyInPandas``,
    ``pandas_udf``) and no ``mapInArrow`` outside the helper. The one
    exception is ``applyInPandasWithState`` in the sessions stream —
    PySpark has no Arrow state API."""
    import ast
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    helper = root / "b_pdf_parser_spark" / "operators" / "__init__.py"
    stateful = root / "b_pdf_parser_spark" / "streaming" / "sessions_stream.py"
    bad = []
    for path in _program_files(root):
        for name, fn, line in _named_calls(ast.parse(path.read_text())):
            where = f"{path.relative_to(root)}:{line} {name}"
            if name in ("mapInPandas", "applyInPandas", "pandas_udf"):
                bad.append(where)
            elif name == "applyInPandasWithState" and path != stateful:
                bad.append(where)
            elif name == "mapInArrow" and (path != helper or fn != "arrow_kernel"):
                bad.append(where)
    assert not bad, bad


def test_oracle_checked_queries_return_unordered_sets():
    """A registered query with an ``oracle_sql()`` twin is checked as an
    unordered set, so its result ends in no presentation sort: no returned
    method chain calls ``orderBy``/``sort`` unless a ``limit`` above it
    consumes the order. Such a sort adds a range-sampling job and an
    Exchange, and the sampler re-runs any Python kernel below it."""
    import ast
    import inspect
    import textwrap

    def sorted_at(expr):
        while isinstance(expr, ast.Call) and isinstance(expr.func, ast.Attribute):
            if expr.func.attr == "limit":
                return None
            if expr.func.attr in ("orderBy", "sort"):
                return expr.lineno
            expr = expr.func.value
        return None

    registry = entry.queries()
    bad = []
    for name in entry.oracle_sql():
        fn = registry[name]
        lines, first = inspect.getsourcelines(fn)
        for node in ast.walk(ast.parse(textwrap.dedent("".join(lines)))):
            line = isinstance(node, ast.Return) and sorted_at(node.value)
            if line:
                bad.append(f"{name}: {fn.__name__} sorts at line {first + line - 1}")
    assert not bad, bad


# the plan-building calls that hand Python code to executors
_RUNS_PYTHON = {
    "mapInArrow", "applyInArrow", "arrow_udf", "applyInPandasWithState",
    "mapInPandas", "applyInPandas", "pandas_udf", "udf",
    "foreach", "foreachPartition", "mapPartitions",
}


def test_package_ships_at_the_kernel_boundary():
    """``ship_package`` is called exactly where a plan hands Python code to
    executors: every function that builds such a node ships on its input
    frame, and no other function ships. ``__spark_entry__.py`` and
    ``jobs/`` never ship — their kernels go through ``arrow_kernel``, so a
    query or job cannot depend on an earlier one having shipped."""
    import ast
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    bad = []
    for path in _program_files(root):
        rel = path.relative_to(root)
        calls = _named_calls(ast.parse(path.read_text()))
        ships = {fn: line for name, fn, line in calls if name == "ship_package"}
        runs = {fn: line for name, fn, line in calls if name in _RUNS_PYTHON}
        if rel.parts[0] == "jobs" or rel.name == "__spark_entry__.py":
            bad += [f"{rel}:{line} ship_package in {fn}" for fn, line in ships.items()]
        bad += [f"{rel}:{ships[fn]} ship_package off the boundary in {fn}"
                for fn in ships.keys() - runs.keys()]
        bad += [f"{rel}:{runs[fn]} {fn} runs Python without shipping"
                for fn in runs.keys() - ships.keys()]
    assert not bad, bad
