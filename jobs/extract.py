"""Resumable extraction job: pages → partitioned parquet + manifest + metrics.

North-rule requirements implemented here (BASELINE.json):

* **Stable checkpoint unit**: ``partition_id = pmod(xxhash64(url), P)``
  (``operators.extract.partition_id_col``, shared with the operator) — a
  *logical* id independent of cluster size or physical layout, so a resume
  after rescale still skips completed work.
* **Wave execution**: pending partition ids are processed in waves; each
  wave writes ``out/extracted/partition_id=K/`` via **dynamic partition
  overwrite** (idempotent: a wave killed mid-write is simply redone, never
  duplicated) and then commits one manifest JSON per completed partition
  (atomic tmp+rename), carrying ``checkpoint_partitions``, lineage and
  per-partition token/byte/error metrics.
* **Resume**: on start, completed ids are read from the manifest and
  dropped from the plan (the left-anti-join of SURVEY §2.3 J-note, realized
  as an id filter since the manifest is tiny and driver-side). An id only
  names the same urls under the same ``P``, so a resume with another
  ``checkpoint_partitions`` raises before any wave runs.

Reference analog: the reference's ``batch_parse`` restarts from zero when
killed (batch.py:292-414 has no checkpoint); this job is the scale-correct
replacement. Run via ``spark-submit --py-files b_pdf_parser_spark.zip
jobs/extract.py --out /path`` or call :func:`run_extract_job`.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path
from typing import List, Optional, Sequence

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import pyspark.sql.functions as F  # noqa: E402
from pyspark.sql import DataFrame, SparkSession  # noqa: E402

import b_pdf_parser_spark  # noqa: E402
from b_pdf_parser_spark.operators.extract import (  # noqa: E402
    EXTRACTED_SCHEMA,
    extract_pages,
    partition_id_col,
)

__all__ = ["run_extract_job", "load_manifest", "load_metrics"]

_APP_VERSION = b_pdf_parser_spark.__version__


def _manifest_dir(out_dir: str) -> Path:
    return Path(out_dir) / "_manifest"


def load_manifest(out_dir: str) -> dict:
    """partition_id → manifest record for all committed partitions."""
    mdir = _manifest_dir(out_dir)
    out = {}
    if mdir.is_dir():
        for p in sorted(mdir.glob("part-*.json")):
            rec = json.loads(p.read_text())
            out[rec["partition_id"]] = rec
    return out


def load_metrics(spark: SparkSession, out_dir: str) -> DataFrame:
    """The per-partition metrics table, as a DataFrame (A4/A8 surface)."""
    rows = list(load_manifest(out_dir).values())
    schema = ("partition_id INT, checkpoint_partitions INT, docs BIGINT, bytes BIGINT, "
              "tokens BIGINT, errors BIGINT, started DOUBLE, finished DOUBLE, lineage STRING")
    return spark.createDataFrame(rows, schema=schema) if rows else spark.createDataFrame([], schema)


def _commit_manifest(out_dir: str, rec: dict) -> None:
    mdir = _manifest_dir(out_dir)
    mdir.mkdir(parents=True, exist_ok=True)
    final = mdir / f"part-{rec['partition_id']:05d}.json"
    tmp = mdir / f".part-{rec['partition_id']:05d}.json.tmp"
    tmp.write_text(json.dumps(rec, sort_keys=True))
    os.replace(tmp, final)  # atomic commit


def run_extract_job(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    *,
    checkpoint_partitions: int = 64,
    waves: int = 8,
    num_partitions: Optional[int] = None,
    max_waves: Optional[int] = None,
    lineage: str = "",
    verify: bool = True,
    target_wave_seconds: Optional[float] = None,
    wet_dir: Optional[str] = None,
) -> dict:
    """Run (or resume) the extraction job. Returns a summary dict including
    which partition ids were processed by THIS invocation (resume tests use
    it to prove nothing is reprocessed).

    With ``wet_dir`` set, each wave also emits Common-Crawl-style WET
    (extracted-text conversion) segments under
    ``wet_dir/partition_id=K/`` — derived from the wave's just-written
    parquet (the extraction UDF runs ONCE per wave), and idempotent under
    kill/resume because a wave clears exactly its partition ids' WET
    subdirectories before rewriting them. REQUIREMENT: ``wet_dir`` must
    be a filesystem mounted identically on the driver and the executors
    (segments are written executor-side via ``open()``, cleared
    driver-side) — the clear VERIFIES the subdirectories are gone and
    raises if stale segments survive, so storage that silently no-ops the
    driver's delete surfaces as an error instead of duplicated WET
    records on resume.

    With ``target_wave_seconds`` set, wave sizes adapt at runtime: the first
    wave uses the static ``waves`` split, then each next wave is sized from
    an EMA of observed seconds-per-partition so a wave lands near the
    target. This balances the two costs that fight at 10^12 docs: per-wave
    fixed overhead (job launch, metrics re-read, manifest commits — argues
    for FEW waves) vs checkpoint granularity (a preempted run loses at most
    one wave of work — argues for SHORT waves). A time target keeps both
    bounded regardless of how document cost varies across the keyspace.
    """
    manifest = load_manifest(out_dir)
    # a partition id means a different key range under another P: resuming
    # across P would skip the wrong urls and never complete
    other = {rec.get("checkpoint_partitions") for rec in manifest.values()} - {checkpoint_partitions}
    if other:
        raise ValueError(
            f"{out_dir} holds partitions committed with checkpoint_partitions="
            f"{', '.join(map(str, sorted(other, key=str)))}; this run asks for "
            f"checkpoint_partitions={checkpoint_partitions} — resume with the same "
            "value or write to a new directory"
        )
    done = set(manifest)
    prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    # restored in the finally: a wave that raises must not leave dynamic
    # overwrite behind in the caller's session
    try:
        pending = [p for p in range(checkpoint_partitions) if p not in done]
        wave_size = max(1, (len(pending) + waves - 1) // waves) if pending else 1

        out_data = str(Path(out_dir) / "extracted")
        processed: List[int] = []
        wave_sizes: List[int] = []
        ema: Optional[float] = None  # seconds per partition, exponentially smoothed
        cursor = 0
        t_job = time.time()
        while cursor < len(pending) and (max_waves is None or len(wave_sizes) < max_waves):
            ids: Sequence[int] = pending[cursor : cursor + wave_size]
            cursor += len(ids)
            wave_sizes.append(len(ids))
            t0 = time.time()
            subset = pages.filter(partition_id_col(checkpoint_partitions).isin(list(ids)))
            ext = extract_pages(
                subset,
                num_partitions=num_partitions,
                checkpoint_partitions=checkpoint_partitions,
                verify=verify,
            )
            ext.write.partitionBy("partition_id").mode("overwrite").parquet(out_data)
            # metrics for the wave, keyed by the stable partition id. Explicit
            # schema: a wave whose pids matched no urls writes zero files, and
            # schema inference on an empty directory would throw.
            stats = (
                spark.read.schema(EXTRACTED_SCHEMA).parquet(out_data)
                .filter(F.col("partition_id").isin(list(ids)))
                .groupBy("partition_id")
                .agg(
                    F.count("*").alias("docs"),
                    F.sum("payload_bytes").alias("bytes"),
                    F.sum("n_tokens").alias("tokens"),
                    F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("errors"),
                )
                .collect()
            )
            by_pid = {r["partition_id"]: r for r in stats}
            if wet_dir:
                import shutil

                from b_pdf_parser_spark.sources.warc import write_wet

                for pid in ids:
                    sub = Path(wet_dir) / f"partition_id={int(pid)}"
                    shutil.rmtree(sub, ignore_errors=True)
                    # a clear that silently failed (non-POSIX mount, permission
                    # skew between driver and executors) would duplicate every
                    # record of this wave on resume — fail loud instead
                    if sub.exists() and any(sub.iterdir()):
                        raise RuntimeError(
                            f"stale WET segments survived the pre-write clear of "
                            f"{sub} — wet_dir must be a filesystem shared between "
                            f"driver and executors (see run_extract_job docstring)"
                        )
                wave_rows = (
                    spark.read.schema(EXTRACTED_SCHEMA).parquet(out_data)
                    .filter(F.col("partition_id").isin(list(ids)))
                    .select("url", "warc_ts", "text", "partition_id")
                )
                # the tiny per-segment manifest is the write's action
                write_wet(wave_rows, wet_dir, partition_col="partition_id").collect()
            t1 = time.time()
            for pid in ids:
                r = by_pid.get(pid)
                _commit_manifest(
                    out_dir,
                    {
                        "partition_id": int(pid),
                        "checkpoint_partitions": checkpoint_partitions,
                        "docs": int(r["docs"]) if r else 0,
                        "bytes": int(r["bytes"] or 0) if r else 0,
                        "tokens": int(r["tokens"] or 0) if r else 0,
                        "errors": int(r["errors"] or 0) if r else 0,
                        "started": t0,
                        "finished": t1,
                        "lineage": lineage or f"app={_APP_VERSION};P={checkpoint_partitions}",
                    },
                )
                processed.append(int(pid))

            if target_wave_seconds is not None:
                rate = (t1 - t0) / max(len(ids), 1)
                ema = rate if ema is None else 0.5 * ema + 0.5 * rate
                wave_size = max(1, int(target_wave_seconds / max(ema, 1e-9)))
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)
    manifest = load_manifest(out_dir)
    return {
        "processed_partitions": processed,
        "skipped_partitions": sorted(done),
        "total_partitions": checkpoint_partitions,
        "complete": len(manifest) == checkpoint_partitions,
        "docs": sum(m["docs"] for m in manifest.values()),
        "errors": sum(m["errors"] for m in manifest.values()),
        "seconds": round(time.time() - t_job, 3),
        "wave_sizes": wave_sizes,
    }


def main() -> None:
    import argparse

    ap = argparse.ArgumentParser(description="resumable extraction job")
    ap.add_argument("--out", required=True)
    ap.add_argument("--n-docs", type=int, default=5000)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--input-parquet", default=None,
                    help="existing pages parquet (else synthesize --n-docs)")
    ap.add_argument("--checkpoint-partitions", type=int, default=64)
    ap.add_argument("--waves", type=int, default=8)
    # S11 parity: the reference resolves verify_turnover from param-or-.env
    # (reference __init__.py:133-137); here it is an explicit job argument
    ap.add_argument("--no-verify", action="store_true",
                    help="skip turnover verification (verification column null)")
    ap.add_argument("--target-wave-seconds", type=float, default=None,
                    help="adapt wave sizes to land near this duration")
    ap.add_argument("--wet-dir", default=None,
                    help="also emit Common-Crawl WET (extracted-text) "
                         "segments per partition id under this directory")
    args = ap.parse_args()

    # Python workers talk over a Unix socket: over TCP a kernel's first small
    # batch waits ~40 ms (Nagle's algorithm against delayed ACK) in every task
    spark = (SparkSession.builder.appName("extract-job")
             .config("spark.python.unix.domain.socket.enabled", "true").getOrCreate())
    spark.sparkContext.setLogLevel("WARN")
    if args.input_parquet:
        pages = spark.read.parquet(args.input_parquet)
    else:
        from b_pdf_parser_spark.sources.pages import synth_pages_df

        pages = synth_pages_df(spark, args.n_docs, seed=args.seed)
    summary = run_extract_job(
        spark, pages, args.out,
        checkpoint_partitions=args.checkpoint_partitions, waves=args.waves,
        verify=not args.no_verify,
        target_wave_seconds=args.target_wave_seconds,
        wet_dir=args.wet_dir,
        lineage=f"input={args.input_parquet or f'synth:{args.n_docs}:{args.seed}'}",
    )
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
