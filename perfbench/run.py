"""Benchmark of the extraction engine and of the registered query board.

Usage, from the root of the repository:

    python3 perfbench/run.py --workload extract_noop --seed 42 --seconds 15 --trace 0

Workloads (one client, closed loop, ``local[N]`` with N = min(4, cores)):

* ``extract_noop`` — the seeded synthetic pages corpus through
  ``operators.extract.extract_pages`` into Spark's noop sink;
* ``query_board`` — ``__spark_entry__.queries()`` entries in registry order
  over the fixed tables in ``perfbench/data``: the fixed ``board.TIMED`` set
  pass after pass in an untraced run, all of them once in a traced run.

Set-up (session start, package ship and one untimed warm pass) is repeated
``SETUPS`` times, restarting the SparkContext, and ``setup_s`` is the median.
Corpus generation is cached per seed and reported on its own line. With
``--trace 0`` the last stdout line holds the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` the run also repeats the timed window
with Spark's event log on and spans recorded around every call into the
program, and the last line holds the per-layer metrics. Spans and the full
report are written under ``.perfbench/trace``. ``--smoke`` runs both
workloads at a tiny size, traced and untraced, and checks that every metric
of ``BENCHMARK.json`` is reported with its unit. Exits with 2, printing no
result, when the package under test cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import shutil
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SETUPS = 3
MIN_PASSES = 3


def _log(*parts) -> None:
    print(*parts, file=sys.stderr, flush=True)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Setup:
    """Times one set-up: (re)start the session, ship the package, run the
    workload's warm pass. ``first`` runs in between, untimed."""

    def __init__(self, java_opts: str = "") -> None:
        self.times: list[float] = []
        self.spark = None
        self.java_opts = java_opts

    def run(self, warm, event_log=None, first=None) -> None:
        import b_pdf_parser_spark

        import session

        t = time.perf_counter()
        if self.spark is not None:
            self.spark.stop()
        self.spark = session.start(event_log, self.java_opts)
        b_pdf_parser_spark.ship_package(self.spark)
        took = time.perf_counter() - t
        if first is not None:
            first(self.spark)
        t = time.perf_counter()
        warm(self.spark)
        self.times.append(took + time.perf_counter() - t)

    def then_time(self, setups: int, warm, first, one_pass, seconds: float) -> list:
        """``setups`` set-ups, then passes on the last session until
        ``seconds`` have gone by, and at least ``MIN_PASSES``. The timed
        passes come after every warm pass, in a JVM whose compiled code has
        settled. Returns what each pass returned."""
        for i in range(setups):
            self.run(warm, first=first if i == 0 else None)
        out = []
        end = time.perf_counter() + seconds
        while len(out) < MIN_PASSES or time.perf_counter() < end:
            out.append(one_pass(self.spark))
        return out


def run_extract(args, report: dict) -> None:
    import extraction as ex
    import replay
    import session
    from eventlog import EventLog
    from spans import Tracer

    n = args.docs
    st = Setup()
    ctx: dict = {}

    def first(spark):
        ctx["corpus"], gen = ex.corpus(spark, args.seed, n)
        report["lines"].append(("corpus_s", gen, "s"))
        ctx["truth"] = ex.truth(ctx["corpus"], args.seed)

    def warm(spark):
        ex.warm_pass(spark, ctx["corpus"])

    # a traced run reports no setup_s, so it sets up once
    walls = st.then_time(1 if args.trace else SETUPS, warm, first,
                         lambda spark: ex.noop_pass(spark, ctx["corpus"], "pass"),
                         args.seconds)
    # the correctness pass, untimed
    passes = [ex.digest_rows(ex.extract_frame(st.spark, ctx["corpus"]))]

    e2e = report["e2e"]
    e2e["setup_s"] = _median(st.times)
    report["setups"] = st.times
    e2e["wall_s"] = _median(walls)
    e2e["throughput_per_s"] = n / e2e["wall_s"]
    layers = report["layers"]
    layers["wall_s.max"] = max(walls)
    layers["wall_s.samples"] = len(walls)
    _log("pass walls", [round(w, 3) for w in walls])

    if args.trace:
        tracer = Tracer()
        logdir = session.WORK / "eventlog" / f"extract_noop-{args.seed}"
        shutil.rmtree(logdir, ignore_errors=True)
        st.run(warm, event_log=logdir)
        passes.append(ex.digest_rows(ex.extract_frame(st.spark, ctx["corpus"])))
        with session.RssSampler() as rss:
            traced = []
            end = time.perf_counter() + args.seconds
            while len(traced) < MIN_PASSES or time.perf_counter() < end:
                group = f"traced-{len(traced)}"
                with tracer.span("extract_pages.noop", group):
                    traced.append(ex.noop_pass(st.spark, ctx["corpus"], group))
            with tracer.span("jobs.run_extract_job", "jobs"):
                job = ex.checkpoint_job(st.spark, ctx["corpus"])
        st.spark.stop()
        log = EventLog(logdir)
        shutil.rmtree(logdir)  # tens of MB per run; the metrics are kept
        ext = log.summary({f"traced-{i}" for i in range(len(traced))})
        jobs = log.summary({"jobs.extract"})
        rep = replay.run(ctx["corpus"], tracer)
        k = len(traced)
        layers.update({
            "trace.overhead_ratio": _median(traced) / e2e["wall_s"],
            "extract.scan_shuffle_s": ext["scan_shuffle_s"] / k,
            "extract.udf_stage_s": ext["udf_stage_s"] / k,
            "extract.shuffle_write_mb": ext["shuffle_write_mb"] / k,
            "extract.shuffle_read_mb": ext["shuffle_read_mb"] / k,
            "extract.py_boot_s": ext["py_boot"] / k,
            "extract.py_init_s": ext["py_init"] / k,
            "extract.py_total_s": ext["py_total"] / k,
            "extract.py_sent_mb": ext["py_sent"] / 1e6 / k,
            "extract.py_received_mb": ext["py_received"] / 1e6 / k,
            "extract.task_s_p50": ext["udf_task_p50_s"],
            "extract.task_s_max": ext["udf_task_max_s"],
            "extract.straggler_ratio": (ext["udf_task_max_s"] / ext["udf_task_p50_s"]
                                        if ext["udf_task_p50_s"] else 0.0),
            "extract.gc_s": ext["gc_s"] / k,
            "extract.replay_coverage": (rep["extract.batch_body_s_per_doc"] * n
                                        / (ext["py_total"] / k) if ext["py_total"] else 0.0),
            "jobs.waves": job["waves"],
            "jobs.wave_s_p50": _median(job["wave_s"]),
            "jobs.wave_s_max": max(job["wave_s"], default=0.0),
            "jobs.input_scan_mb": jobs["input_mb"],
            "jobs.output_mb": job["output_mb"],
            "jobs.output_files": job["output_files"],
            "jobs.output_bytes_per_input_byte": job["bytes_ratio"],
            "jobs.resume_noop_s": job["resume_s"],
            "py_worker.peak_rss_mb": rss.worker_peak / 1e6,
            "jvm.peak_rss_mb": rss.jvm_peak / 1e6,
        })
        layers.update({k2: v for k2, v in rep.items() if k2 != "docs"})
        report["lines"].append(("jobs.wall_s", job["wall_s"], "s"))
        report["tracer"] = tracer
        if not job["complete"]:
            report["problems"].append("checkpoint job incomplete or resume reprocessed")
        ctx["job_digest"] = ex.digest(job["rows"])

    # correctness, outside every timed window
    failed = sum(ex.check_rows(rows, ctx["truth"]) for rows in passes)
    if failed:
        report["problems"].append(f"{failed} urls with the wrong (kind, error present)")
    d = ex.digest(passes[0])
    report["lines"].append(("digest", d, ""))
    # one attempted operation per other digest the first pass must equal
    others = [(f"traced pass {i}", ex.digest(rows)) for i, rows in enumerate(passes[1:], 1)]
    others += [("an earlier run of this corpus", ex.earlier_digest(ctx["corpus"], d)),
               ("the digest recorded in expected.json", ex.recorded_digest(ctx["corpus"])),
               ("the checkpointed Parquet", ctx.get("job_digest"))]
    others = [(what, o) for what, o in others if o is not None]
    for what, o in others:
        if o != d:
            report["problems"].append(f"digest {d} differs from {what}: {o}")
            failed += 1
    report["attempted"] = n * len(passes) + len(others)
    report["failed"] = failed
    st.spark and session.stop_all(st.spark)


def run_board(args, report: dict) -> None:
    import board
    import session
    from eventlog import EventLog
    from spans import Tracer

    import __spark_entry__ as entry

    registry = entry.queries()
    timed = board.timed_set(registry)
    listed = [m["name"][len("query."):-len(".s")] for m in report["spec"]["per_layer"]
              if m["name"].startswith("query.")]
    st = Setup(board.JAVA_OPTS)

    def first(spark):
        report["lines"].append(("corpus_s", board.audit_corpus(spark), "s"))

    def warm(spark):
        board.run_pass(spark, timed, group="warm")

    if args.trace:
        # with the event log on from the start: a second pass of all 50
        # would not fit a run, so a traced run times the traced pass only,
        # and skips the warm pass (most of the 50 would be cold anyway)
        tracer = Tracer()
        logdir = session.WORK / "eventlog" / f"query_board-{args.seed}"
        shutil.rmtree(logdir, ignore_errors=True)
        st.run(lambda spark: None, event_log=logdir, first=first)
        with session.RssSampler() as rss, tracer.span("board", "board"):
            passes = [board.run_pass(st.spark, registry, counters=True, tracer=tracer)]
    else:
        passes = st.then_time(SETUPS, warm, first,
                              lambda spark: board.run_pass(spark, timed), args.seconds)

    e2e, layers = report["e2e"], report["layers"]
    totals = [sum(r["wall_s"] for r in p.values()) for p in passes]
    medians = {name: _median([p[name]["wall_s"] for p in passes]) for name in passes[0]}
    e2e["setup_s"] = _median(st.times)
    report["setups"] = st.times
    # a pass's wall is the sum of its query walls; summing each query's
    # median keeps one slow query in one pass from moving the figure
    e2e["wall_s"] = sum(medians.values())
    e2e["throughput_per_s"] = len(passes[0]) / e2e["wall_s"]
    layers["wall_s.max"] = max(totals)
    layers["wall_s.samples"] = len(totals)
    _log("pass walls", [round(w, 3) for w in totals])
    for name, wall in medians.items():
        if name in listed:
            layers[f"query.{name}.s"] = wall
            report["lines"].append((f"query.{name}.s", wall, "s"))
        else:
            _log(f"query {name} is registered but not listed in BENCHMARK.json")

    if args.trace:
        st.spark.stop()
        traced = passes[0]
        tot = EventLog(logdir).summary({f"q:{name}" for name in registry})
        shutil.rmtree(logdir)
        spans = {name: sum(s["end"] - s["start"] for s in tracer.spans if s["name"] == name)
                 for name in ("board", "query")}
        layers.update({
            # the traced pass, counters and plans included, over the time
            # inside its query spans
            "trace.overhead_ratio": spans["board"] / spans["query"],
            "board.jobs": sum(r["jobs"] for r in traced.values()),
            "board.stages": sum(r["stages"] for r in traced.values()),
            "board.tasks": sum(r["tasks"] for r in traced.values()),
            "board.exchanges": sum(r["exchanges"] for r in traced.values()),
            "board.shuffle_mb": tot["shuffle_read_mb"],
            "board.py_total_s": tot["py_total"],
            "py_worker.peak_rss_mb": rss.worker_peak / 1e6,
            "jvm.peak_rss_mb": rss.jvm_peak / 1e6,
        })
        report["tracer"] = tracer
        report["per_query"] = {n: {k: v for k, v in r.items() if k != "result"}
                               for n, r in traced.items()}

    # correctness, outside every timed window
    want = board.expected(entry.oracle_sql())
    failed = 0
    for p in passes:
        bad = board.check(p, want)
        for name, why in bad.items():
            report["problems"].append(f"query {name}: {why}")
        failed += len(bad)
    missing = [n for n in listed if n not in registry]
    for name in missing:
        report["problems"].append(f"query {name} is missing from the registry")
        layers[f"query.{name}.s"] = -1.0
    report["layers"]["board.missing_queries"] = len(missing)
    report["attempted"] = sum(len(p) for p in passes) + len(missing)
    report["failed"] = failed + len(missing)
    st.spark and session.stop_all(st.spark)


WORKLOADS = {"extract_noop": run_extract, "query_board": run_board}


def measure(args, spec: dict) -> dict:
    report = {"spec": spec, "e2e": {}, "layers": {}, "lines": [], "problems": [],
              "attempted": 0, "failed": 0}
    try:
        WORKLOADS[args.workload](args, report)
    finally:
        import session

        session.stop_all(None)
    layers = report["layers"]
    layers["failed_ratio"] = report["failed"] / max(report["attempted"], 1)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = report["layers"] if args.trace else report["e2e"]
    # a layer this workload does not run reports 0
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    for name, value, unit in report["lines"]:
        print(f"{name} {value} {unit}".rstrip())
    for m in spec["end_to_end"]:
        print(f"{m['name']} {report['e2e'].get(m['name'])} {m['unit']}")
    if args.trace:
        for m in spec["per_layer"]:
            print(f"{m['name']} {metrics[m['name']]['value']} {m['unit']}")
        import session

        out = session.WORK / "trace" / f"{args.workload}-{args.seed}"
        report["tracer"].dump(out.with_suffix(".spans.jsonl"))
        out.with_suffix(".json").write_text(json.dumps({
            "e2e": report["e2e"], "layers": report["layers"],
            "per_query": report.get("per_query", {}),
            "self_time_s": report["tracer"].self_times()}, indent=1, sort_keys=True))
        print(f"trace written to {out}.spans.jsonl")
    _log("setup samples", [round(x, 2) for x in report.get("setups", [])])
    for p in report["problems"]:
        _log("FAILED:", p)
    return {"correct": not report["problems"], "attempted": report["attempted"],
            "failed": report["failed"], "metrics": metrics}


def smoke(spec: dict) -> int:
    """Each workload once at a tiny size, untraced and traced; every metric
    of BENCHMARK.json must be reported with its unit."""
    bad = 0
    for wl in WORKLOADS:
        for trace in (0, 1):
            a = argparse.Namespace(workload=wl, seed=7, seconds=1, trace=trace, docs=200)
            res = measure(a, spec)
            want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            ok = got == want and res["correct"]
            bad += not ok
            _log(f"smoke {wl} trace={trace}: {'ok' if ok else 'FAILED'}")
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    sys.path.insert(0, str(ROOT))
    try:
        spec = json.loads((ROOT / "BENCHMARK.json").read_text())
        import b_pdf_parser_spark  # noqa: F401
        import pyspark  # noqa: F401

        for need in ("__spark_entry__.py", "jobs/extract.py"):
            if not (ROOT / need).is_file():
                raise ImportError(f"{need} not found")
    except (ImportError, OSError, ValueError) as e:
        _log(f"cannot run the benchmark here: {e}")
        return 2
    import board
    import session

    session.prepare_env()
    board.prepare_env()
    if args.smoke:
        return smoke(spec)
    if not args.workload:
        ap.error("--workload is required")
    import extraction

    args.docs = extraction.N_DOCS
    result = measure(args, spec)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
