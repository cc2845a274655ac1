"""Extraction workload: the seeded pages corpus through
``operators.extract.extract_pages``, plus its correctness gate and the
checkpointed job (``jobs/extract.run_extract_job``) of the traced run.

Correctness, checked on full passes outside the timed window:

* each url's ``(kind, error present)`` equals the
  ``sources.pages.page_kind_expected(i, seed)`` replay (the truth the
  ``extract_corpus_audit`` oracle uses); row ``i`` of the corpus is its
  ``i``-th row in file order, pinned by the url of every non-statement row;
* an order-insensitive digest of ``(url, text, metadata, transactions,
  verification)`` equals that of every other full pass of the run, of the
  first run over the same corpus in this checkout, the digest recorded in
  ``expected.json`` for the default seed and — in the traced run — the
  digest of the Parquet the checkpointed job wrote.
"""

from __future__ import annotations

import hashlib
import json
import shutil
import time
from collections import Counter, defaultdict
from pathlib import Path

from session import CORES, ROOT, WORK

# a pass starts 2 × cores Python tasks and each pays a fixed worker
# initialisation (extract.py_init_s, about 5 s summed per pass on a 4-core
# host); at 12,000 docs that is about a quarter of the UDF time, at 3,000
# it is over half. The 100k of the paper-scale corpus (~36 s a pass) would not
# fit a run.
N_DOCS = 12000
EXPECTED = Path(__file__).resolve().parent / "expected.json"
_KEEP_CORPORA = 6


def corpus(spark, seed: int, n: int) -> tuple[Path, float]:
    """The pages corpus for ``seed`` as Parquet, generated once per seed with
    ``sources.pages.synth_pages_df``. Returns its path and the seconds spent
    generating it (0 when cached)."""
    from b_pdf_parser_spark.sources.pages import CORPUS_VERSION, synth_pages_df

    root = WORK / "corpus"
    path = root / f"pages_v{CORPUS_VERSION}_{n}_{seed}"
    if (path / "_SUCCESS").exists():
        path.touch()
        return path, 0.0
    t = time.perf_counter()
    # 2 × cores files: the warm pass of a set-up reads the first of them
    synth_pages_df(spark, n, seed=seed, num_partitions=2 * CORES).write.mode(
        "overwrite").parquet(str(path))
    took = time.perf_counter() - t
    for old in sorted(root.iterdir(), key=lambda p: p.stat().st_mtime)[:-_KEEP_CORPORA]:
        shutil.rmtree(old, ignore_errors=True)
    return path, took


def truth(corpus_path: Path, seed: int) -> dict[str, Counter]:
    """url → multiset of expected ``(kind, error present)``."""
    import pyarrow.parquet as pq

    from b_pdf_parser_spark.sources.pages import page_kind_expected

    urls = []
    for p in sorted(corpus_path.glob("part-*.parquet")):
        urls.extend(pq.read_table(p, columns=["url"]).column("url").to_pylist())
    out: dict[str, Counter] = defaultdict(Counter)
    for i, url in enumerate(urls):
        tail = url.rsplit("/", 1)[-1]
        if not tail.startswith("stmt_") and tail != f"{i:08d}":
            raise RuntimeError(f"corpus row {i} holds {url}: file order is not index order")
        out[url][page_kind_expected(i, seed)] += 1
    return out


def digest_rows(frame):
    """One small row per document: url, kind, error present, and a hash of
    the extracted content columns."""
    import pyspark.sql.functions as F

    return frame.select(
        "url", "kind", F.col("error").isNotNull().alias("err"),
        F.xxhash64("url", "text", "metadata", "transactions", "verification").alias("h"),
    ).collect()


def digest(rows) -> str:
    lines = sorted(f"{r['url']}\t{r['kind']}\t{r['err']}\t{r['h']}" for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def check_rows(rows, expected: dict[str, Counter]) -> int:
    """Number of urls whose ``(kind, error present)`` multiset differs."""
    got: dict[str, Counter] = defaultdict(Counter)
    for r in rows:
        got[r["url"]][(r["kind"], bool(r["err"]))] += 1
    return sum(1 for u in set(got) | set(expected) if got.get(u) != expected.get(u))


def recorded_digest(corpus_path: Path):
    """The digest committed for this corpus, if any (the default seed)."""
    return json.loads(EXPECTED.read_text()).get(corpus_path.name)


def earlier_digest(corpus_path: Path, digest_now: str):
    """The digest the first run over this corpus in this checkout saw; the
    first run records ``digest_now`` and returns None."""
    path = WORK / "digests.json"
    seen = json.loads(path.read_text()) if path.exists() else {}
    key = corpus_path.name
    if key in seen:
        return seen[key]
    seen[key] = digest_now
    path.write_text(json.dumps(seen, indent=1, sort_keys=True))
    return None


def extract_frame(spark, corpus_path: Path):
    from b_pdf_parser_spark.operators.extract import extract_pages

    return extract_pages(spark.read.parquet(str(corpus_path)))


def warm_pass(spark, corpus_path: Path) -> None:
    """The warm pass of a set-up: the first of the corpus's files, to noop.
    It starts the Python workers and imports the package in them."""
    from b_pdf_parser_spark.operators.extract import extract_pages

    spark.sparkContext.setJobGroup("warm", "warm")
    part = sorted(corpus_path.glob("part-*.parquet"))[0]
    extract_pages(spark.read.parquet(str(part))).write.format("noop").mode("overwrite").save()


def noop_pass(spark, corpus_path: Path, group: str) -> float:
    spark.sparkContext.setJobGroup(group, group)
    t = time.perf_counter()
    extract_frame(spark, corpus_path).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t


def checkpoint_job(spark, corpus_path: Path) -> dict:
    """Run the resumable job into a fresh directory, then once more over the
    finished output (a resume with nothing left to do)."""
    import importlib.util

    from b_pdf_parser_spark.operators.extract import EXTRACTED_SCHEMA

    spec = importlib.util.spec_from_file_location("jobs_extract", ROOT / "jobs" / "extract.py")
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)

    out = WORK / "checkpoint"
    shutil.rmtree(out, ignore_errors=True)
    pages = spark.read.parquet(str(corpus_path))
    spark.sparkContext.setJobGroup("jobs.extract", "jobs.extract")
    t = time.perf_counter()
    summary = job.run_extract_job(spark, pages, str(out))
    wall = time.perf_counter() - t
    spark.sparkContext.setJobGroup("jobs.resume", "jobs.resume")
    t = time.perf_counter()
    again = job.run_extract_job(spark, pages, str(out))
    resume = time.perf_counter() - t
    waves: dict[tuple, float] = {}
    for rec in job.load_manifest(str(out)).values():
        waves[(rec["started"], rec["finished"])] = rec["finished"] - rec["started"]
    files = list((out / "extracted").rglob("*.parquet"))
    out_bytes = sum(p.stat().st_size for p in files)
    in_bytes = sum(p.stat().st_size for p in corpus_path.glob("part-*.parquet"))
    spark.sparkContext.setJobGroup("jobs.digest", "jobs.digest")
    rows = digest_rows(spark.read.schema(EXTRACTED_SCHEMA).parquet(str(out / "extracted")))
    shutil.rmtree(out)
    return {
        "wall_s": wall,
        "complete": summary["complete"] and not again["processed_partitions"],
        "waves": len(summary["wave_sizes"]),
        "wave_s": sorted(waves.values()),
        "resume_s": resume,
        "output_mb": out_bytes / 1e6,
        "output_files": len(files),
        "bytes_ratio": out_bytes / in_bytes if in_bytes else 0.0,
        "rows": rows,
    }
