"""Round-7 optimization harness (bench.py is FROZEN for measurement — this
file is the §1.4 noop-sink isolation bench the guide asks for).

Usage:
  python bench_extra.py time <query> [<query> ...] [--reps N]
      per-query noop timings (min/median of N reps) in the same session
      config the frozen bench uses.
  python bench_extra.py plan <query> [...] [--tag before|after]
      writes .explain("formatted") to plans/r07/<query>_<tag>.txt
  python bench_extra.py all [--reps N]
      times every registered query once in registry order (bench parity).
  python bench_extra.py hash <query> [...]
      order-insensitive value hash of the query result (collect + md5) —
      the regression gate used while restructuring a query.

Session config mirrors bench.py `_session` exactly so numbers are
comparable to the driver's window.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "16"))


def _session(cpus: int):
    from pyspark.sql import SparkSession

    local_dir = os.environ.get("SPARK_LOCAL_DIRS", "/dev/shm/spark-local")
    os.makedirs(local_dir, exist_ok=True)
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(f"bench-extra-{cpus}")
        .config("spark.sql.shuffle.partitions", str(max(cpus * 2, 16)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "24g")
        .config("spark.sql.files.maxPartitionBytes", "4194304")
        .config("spark.local.dir", local_dir)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _warmup(spark, entry):
    for t in ("lineitem", "events", "documents", "embeddings", "orders"):
        spark.read.parquet(f"{SF_DIR}/{t}.parquet").count()
    reg = entry.queries()
    extras = entry.extra_queries()
    small_sf = "/root/testdata/sf0.01"
    _noop(extras["ann_topk"](spark, small_sf))
    _noop(extras["pdf_jpx_decode"](spark, SF_DIR))
    _noop(extras["lsh_candidates"](spark, small_sf))
    _noop(reg["ivf_ann_topk"](spark, small_sf))
    _noop(reg["semantic_dedup"](spark, small_sf))
    return reg


def _hash_df(df) -> tuple[int, str]:
    rows = df.collect()
    lines = sorted(repr(tuple(r)) for r in rows)
    h = hashlib.md5("\n".join(lines).encode()).hexdigest()
    return len(rows), h


def main() -> None:
    args = sys.argv[1:]
    if not args:
        print(__doc__)
        return
    mode = args[0]
    reps = 3
    tag = "before"
    names: list[str] = []
    it = iter(args[1:])
    for a in it:
        if a == "--reps":
            reps = int(next(it))
        elif a == "--tag":
            tag = next(it)
        else:
            names.append(a)

    import __spark_entry__ as entry

    spark = _session(CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    reg = _warmup(spark, entry)
    if mode == "all":
        names = sorted(reg)

    out = {}
    if mode in ("time", "all"):
        for name in names:
            walls = []
            for _ in range(reps):
                spark.sparkContext.setJobDescription(f"time:{name}")
                t0 = time.time()
                _noop(reg[name](spark, SF_DIR))
                walls.append(round(time.time() - t0, 3))
            out[name] = {"min": min(walls), "reps": walls}
            print(f"{name}: min={min(walls)} reps={walls}", flush=True)
        print(json.dumps(out))
    elif mode == "plan":
        pdir = REPO / "plans" / "r07"
        pdir.mkdir(parents=True, exist_ok=True)
        for name in names:
            df = reg[name](spark, SF_DIR)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            (pdir / f"{name}_{tag}.txt").write_text(txt)
            print(f"wrote plans/r07/{name}_{tag}.txt ({len(txt)} bytes)")
    elif mode == "hash":
        for name in names:
            n, h = _hash_df(reg[name](spark, SF_DIR))
            print(f"{name}: rows={n} hash={h}")
    spark.stop()


if __name__ == "__main__":
    main()
