"""Spark session life cycle for the benchmark, sized for a small host.

Everything a run writes (Spark spill, temp files, the shipped package zip,
event logs, corpus caches) goes under ``WORK`` inside the checkout; the one
exception is ``extract_corpus_audit``'s corpus, which the package itself
caches in ``.bench_cache/`` at the root of the checkout. ``stop_all`` stops the SparkContext, the
JVM the gateway launched and waits for both.
"""

from __future__ import annotations

import os
import shutil
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"
TMP = WORK / "tmp"

# one worker thread per core, never more than the host has (a 1-vs-N
# scaling probe on a shared box measures the scheduler, so there is none)
CORES = max(1, min(4, len(os.sched_getaffinity(0))))


def prepare_env() -> None:
    """Point every temp and spill location of Python, the JVM and Spark into
    the checkout. Must run before the first SparkSession is built."""
    shutil.rmtree(TMP, ignore_errors=True)  # package zips of earlier runs
    for d in (TMP, WORK / "spark-local"):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(TMP)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    # the short-lived JVM spark-submit runs to build the driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={TMP} -XX:-UsePerfData"
    # the same str hashing in every Python worker of every run
    os.environ["PYTHONHASHSEED"] = "0"
    os.environ.setdefault("PYSPARK_PYTHON", _python())
    os.environ.setdefault("PYSPARK_DRIVER_PYTHON", _python())
    import tempfile

    tempfile.tempdir = str(TMP)


def _python() -> str:
    import sys

    return sys.executable


def start(event_log_dir: Path | None = None, java_opts: str = ""):
    """Build (or rebuild, after ``spark.stop()``, in the same JVM) the local
    session. The event log is on only when ``event_log_dir`` is given — i.e.
    in a traced run. ``java_opts`` are added to the driver JVM's options;
    they take effect only when this call launches the JVM."""
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("perfbench")
        .config("spark.driver.memory", "2g")
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={TMP} -XX:-UsePerfData {java_opts}".rstrip())
        .config("spark.local.dir", str(WORK / "spark-local"))
        .config("spark.sql.shuffle.partitions", str(CORES))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
    )
    if event_log_dir is not None:
        event_log_dir.mkdir(parents=True, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", event_log_dir.as_uri())
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    else:
        b = b.config("spark.eventLog.enabled", "false")
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_all(spark) -> None:
    """Stop the session, shut the gateway JVM down and wait for it."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:
        pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
        except Exception:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


class RssSampler:
    """Peak resident set of the JVM and of the largest single Python worker
    among this process's descendants, sampled from ``/proc`` every 0.2 s."""

    def __init__(self) -> None:
        self.jvm_peak = 0
        self.worker_peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def _loop(self) -> None:
        page = os.sysconf("SC_PAGE_SIZE")
        me = os.getpid()
        while not self._stop.is_set():
            for pid, cmd, rss in _descendants(me):
                rss *= page
                if b"java" in cmd:
                    self.jvm_peak = max(self.jvm_peak, rss)
                elif b"pyspark" in cmd:
                    self.worker_peak = max(self.worker_peak, rss)
            time.sleep(0.2)


def _descendants(root: int):
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                st = f.read()
            parent[int(d)] = int(st[st.rindex(b")") + 2 :].split()[1])
        except (OSError, ValueError, IndexError):
            continue
    kids = {root}
    changed = True
    while changed:
        changed = False
        for pid, pp in parent.items():
            if pp in kids and pid not in kids:
                kids.add(pid)
                changed = True
    kids.discard(root)
    for pid in kids:
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
            with open(f"/proc/{pid}/statm", "rb") as f:
                rss = int(f.read().split()[1])
        except (OSError, ValueError, IndexError):
            continue
        yield pid, cmd, rss
