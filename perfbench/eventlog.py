"""Reader for Spark's JSON event log (written only in a traced run).

It maps every task to the job group its job ran under (the benchmark sets
one group per timed pass, per query and per checkpoint job), and reads the
Python UDF node's SQL metrics — ``PythonSQLMetrics`` in Spark 4.1: data sent
to / returned from the Python workers and the time to start, initialise
and run them — from the task accumulator updates, using the accumulator ids
that the SQL plan events give for those metrics.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from pathlib import Path

# display name of each PythonSQLMetrics metric → short key
PY_METRICS = {
    "data sent to Python workers": "py_sent",
    "data returned from Python workers": "py_received",
    "time to start Python workers": "py_boot",
    "time to initialize Python workers": "py_init",
    "time to run Python workers": "py_total",
}
# unit scale of a SQL metric type to bytes or seconds
_SCALE = {"size": 1.0, "nsTiming": 1e-9, "timing": 1e-3}


def _int(v) -> int:
    try:
        return int(float(v))
    except (TypeError, ValueError):
        return 0


class EventLog:
    def __init__(self, log_dir: Path) -> None:
        self.job_group: dict[int, str] = {}
        self.stage_job: dict[int, int] = {}
        self.py_accum: dict[int, tuple[str, float]] = {}
        self.tasks: list[dict] = []
        for path in sorted(Path(log_dir).iterdir()):
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line))

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            self.job_group[jid] = props.get("spark.jobGroup.id") or ""
            for sid in ev.get("Stage IDs", []):
                self.stage_job[sid] = jid
        elif kind == "SparkListenerTaskEnd":
            self._task(ev)
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            self._plan(ev.get("sparkPlanInfo") or {})

    def _plan(self, node: dict) -> None:
        for m in node.get("metrics", []):
            key = PY_METRICS.get(m.get("name"))
            if key:
                self.py_accum[m["accumulatorId"]] = (
                    key, _SCALE.get(m.get("metricType"), 1.0))
        for child in node.get("children", []):
            self._plan(child)

    def _task(self, ev: dict) -> None:
        info = ev.get("Task Info") or {}
        tm = ev.get("Task Metrics") or {}
        sr = tm.get("Shuffle Read Metrics") or {}
        sw = tm.get("Shuffle Write Metrics") or {}
        self.tasks.append({
            "stage": ev.get("Stage ID"),
            "run_s": _int(tm.get("Executor Run Time")) / 1e3,
            "gc_s": _int(tm.get("JVM GC Time")) / 1e3,
            "shuffle_read": _int(sr.get("Remote Bytes Read")) + _int(sr.get("Local Bytes Read")),
            "shuffle_write": _int(sw.get("Shuffle Bytes Written")),
            "input": _int((tm.get("Input Metrics") or {}).get("Bytes Read")),
            "accums": {a["ID"]: a.get("Update") for a in info.get("Accumulables", [])
                       if "ID" in a},
        })

    def summary(self, groups) -> dict:
        """Totals over the tasks of every job whose group is in ``groups``.

        A stage whose tasks updated a Python metric is a UDF stage; every
        other stage of those jobs is counted as scan/shuffle."""
        groups = set(groups)
        tasks = [t for t in self.tasks
                 if self.job_group.get(self.stage_job.get(t["stage"])) in groups]
        py: dict[str, float] = defaultdict(float)
        udf_stages = set()
        for t in tasks:
            for aid, upd in t["accums"].items():
                if aid in self.py_accum:
                    key, scale = self.py_accum[aid]
                    py[key] += _int(upd) * scale
                    udf_stages.add(t["stage"])
        udf = [t["run_s"] for t in tasks if t["stage"] in udf_stages]
        jobs = {j for j, g in self.job_group.items() if g in groups}
        return {
            "jobs": len(jobs),
            "stages": len({t["stage"] for t in tasks}),
            "tasks": len(tasks),
            "udf_stage_s": sum(udf),
            "scan_shuffle_s": sum(t["run_s"] for t in tasks if t["stage"] not in udf_stages),
            "udf_task_p50_s": statistics.median(udf) if udf else 0.0,
            "udf_task_max_s": max(udf, default=0.0),
            "gc_s": sum(t["gc_s"] for t in tasks),
            "shuffle_read_mb": sum(t["shuffle_read"] for t in tasks) / 1e6,
            "shuffle_write_mb": sum(t["shuffle_write"] for t in tasks) / 1e6,
            "input_mb": sum(t["input"] for t in tasks) / 1e6,
            **{k: py.get(k, 0.0) for k in PY_METRICS.values()},
        }
