"""Query board workload: ``__spark_entry__.queries()`` entries, in registry
order, over the fixed sf0.001 tables shipped in ``data/`` — the ``TIMED``
set, pass after pass, in an untraced run; every entry once in a traced run.

A query's wall runs from building its DataFrame (some queries run jobs
while they build) to the complete result on the driver (``toPandas``). The
result is then compared with the query's ``oracle_sql()`` DuckDB twin the
way ``tests/test_entry_oracle.py`` does: same columns, same row count, same
dtype kinds and the same sorted, canonicalised rows. A query fails if it
raises or disagrees with its oracle.
"""

from __future__ import annotations

import math
import os
import re
import time
from contextlib import nullcontext
from pathlib import Path

SF_DIR = Path(__file__).resolve().parent / "data" / "sf0.001"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# corpus size of extract_corpus_audit (the full 100k default would take
# most of a run on its own)
AUDIT_DOCS = "200"
# the queries an untraced run times, pass after pass: light queries of the
# links, dedup (exact and MinHash LSH), textstats, bpe, sampling and temporal
# operators and of plain plans, about 4 s a warm pass on a 4-core host. The
# document walk is left to extract_noop; all 50 once take about 70 s, so
# traced runs alone time every query (similarity, classifier and bloom
# included).
TIMED = ("canonical_urls", "exact_dedup", "near_dup_pairs", "langid", "bpe_tokens",
         "host_cap_threshold", "pricing_summary", "sessionize_events")
# the driver JVM compiles with C1 only: a board pass is short queries whose
# JVM time is planning and scheduling, and with the default tiered C2 the
# pass time kept falling for tens of seconds as background compiles (which
# compete with the 4 task threads for the cores) landed at a different point
# in every run
JAVA_OPTS = "-XX:TieredStopAtLevel=1"
_EXCHANGE = re.compile(r"^\(\d+\) (?:Exchange|BroadcastExchange)\b", re.M)


def prepare_env() -> None:
    """Must run before ``__spark_entry__`` is imported."""
    os.environ["ENTRY_TEST_SF"] = str(SF_DIR)
    os.environ["SPARK_GRAFT_DOCS"] = AUDIT_DOCS


def audit_corpus(spark) -> float:
    """Generate ``extract_corpus_audit``'s corpus if it is not cached yet
    (the package keeps it in ``.bench_cache/`` at the repository root), so
    no query pays for it. Returns the seconds spent."""
    import __spark_entry__ as entry

    t = time.perf_counter()
    entry._audit_corpus_path(spark)
    return time.perf_counter() - t


def timed_set(registry: dict) -> dict:
    return {n: registry[n] for n in TIMED if n in registry}


def run_pass(spark, registry: dict, counters: bool = False, tracer=None,
             group: str = "q") -> dict:
    """Run every query once. Returns name → {wall_s, result | error} and,
    with ``counters``, the jobs, stages and tasks the query ran and the
    Exchanges in its formatted plan. With a ``tracer``, building the
    DataFrame and collecting its result are spans of the query's trace.
    Each query's jobs run in the job group ``<group>:<name>``."""
    sc = spark.sparkContext
    span = tracer.span if tracer else (lambda name, trace: nullcontext())
    out = {}
    for name, q in registry.items():
        sc.setJobGroup(f"{group}:{name}", name)
        rec: dict = {}
        df = None
        t = time.perf_counter()
        try:
            with span("query", name):
                with span("query.build", name):
                    df = q(spark, str(SF_DIR))
                with span("query.collect", name):
                    rec["result"] = df.toPandas()
        except Exception as e:  # a failing query is counted, not fatal
            rec["error"] = f"{type(e).__name__}: {str(e)[:300]}"
        rec["wall_s"] = time.perf_counter() - t
        if counters:
            tracker = sc.statusTracker()
            jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(f"{group}:{name}")]
            stages = [s for j in jobs if j for s in j.stageIds]
            infos = [tracker.getStageInfo(s) for s in stages]
            rec["jobs"] = len(jobs)
            rec["stages"] = len(stages)
            rec["tasks"] = sum(i.numTasks for i in infos if i)
            rec["exchanges"] = _exchanges(df) if df is not None else 0
        out[name] = rec
    sc.setJobGroup("", "")
    return out


def _exchanges(df) -> int:
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    return len(_EXCHANGE.findall(plan))


def _canon(val) -> str:
    if isinstance(val, float):
        if math.isnan(val):
            return "nan"
        return f"{val:.9g}"
    if hasattr(val, "isoformat"):
        return val.isoformat()
    return str(val)


def _rows(frame) -> list:
    cols = sorted(frame.columns)
    return sorted(tuple(_canon(r[c]) for c in cols) for _, r in frame.iterrows())


def mismatch(got, exp) -> str | None:
    """Why ``got`` (Spark) disagrees with ``exp`` (DuckDB), or None."""
    exp.columns = [c.lower() for c in exp.columns]
    if sorted(got.columns) != sorted(exp.columns):
        return f"columns {sorted(got.columns)} vs {sorted(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} vs {len(exp)}"
    norm = {"u": "i"}
    for c in got.columns if len(got) else ():
        gk = norm.get(got[c].dtype.kind, got[c].dtype.kind)
        ek = norm.get(exp[c].dtype.kind, exp[c].dtype.kind)
        if gk != ek:
            return f"{c}: dtype {got[c].dtype} vs {exp[c].dtype}"
    if _rows(got) != _rows(exp):
        return "values differ"
    return None


def expected(oracles: dict) -> dict:
    """name → the oracle's DuckDB result. The tables are fixed, so results
    are cached under the work directory, keyed by the oracle's SQL."""
    import hashlib
    import pickle

    import duckdb

    from session import WORK

    cache = WORK / "oracle"
    cache.mkdir(parents=True, exist_ok=True)
    out, con = {}, None
    try:
        for name, sql in oracles.items():
            path = cache / (hashlib.sha256(sql.encode()).hexdigest() + ".pkl")
            if path.exists():
                out[name] = pickle.loads(path.read_bytes())
                continue
            if con is None:
                con = duckdb.connect()
                for t in TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
            out[name] = con.execute(sql).df()
            path.write_bytes(pickle.dumps(out[name]))
    finally:
        if con is not None:
            con.close()
    return out


def check(results: dict, want: dict) -> dict[str, str]:
    """name → reason, for every query that raised or disagrees with its oracle."""
    bad = {n: r["error"] for n, r in results.items() if "error" in r}
    for name, exp in want.items():
        if name in results and name not in bad:
            why = mismatch(results[name]["result"], exp.copy())
            if why:
                bad[name] = why
    return bad
