"""Directory-ingest job: the reference's primary user entry point, Spark-first.

Reference analog: ``batch_parse_from_directory`` + per-file CSV writes
(``/root/reference/pdfparser/batch.py:444-465,193-219``) — walk a directory
of ``*.pdf``, parse each, write ``metadata/<stem>_metadata.csv`` and
``transactions/<stem>_transactions.csv`` with ';' delimiters.

Spark-first shape: ``spark.read.format("binaryFile")`` with a glob filter
(S5), the same Arrow-batched extraction operator, and **executor-side**
CSV writes (the reference writes every CSV from the driver process — its
scaling ceiling, SURVEY §7.5). The extraction plan is persisted so the
documents are parsed exactly once per job.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import pyspark.sql.functions as F  # noqa: E402
from pyspark.sql import DataFrame, SparkSession  # noqa: E402

__all__ = ["read_binary_dir", "parse_directory", "write_per_document_csvs"]


def read_binary_dir(spark: SparkSession, input_dir: str, glob: str = "*.pdf") -> DataFrame:
    """S5: directory discovery as a Spark source (recursive, glob-filtered),
    mapped into the ``pages`` input shape."""
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", "true")
        .load(input_dir)
    )
    return raw.select(
        F.col("path").alias("url"),
        F.col("modificationTime").alias("warc_ts"),
        F.col("content").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("lang"),
    )


def parse_directory(spark: SparkSession, input_dir: str, glob: str = "*.pdf") -> DataFrame:
    from b_pdf_parser_spark.operators.extract import extract_pages

    return extract_pages(read_binary_dir(spark, input_dir, glob))


def write_per_document_csvs(extracted: DataFrame, out_dir: str) -> int:
    """Reference-compatible per-document CSV outputs, written from executors.

    One ``metadata/<stem>_metadata.csv`` and one
    ``transactions/<stem>_transactions.csv`` per successfully parsed doc
    (contracts of utils.py:428-481), as a batch kernel that writes the
    files and yields how many documents it wrote, so no payload ever travels
    to the driver; ``out_dir`` must therefore be a filesystem shared by all
    executors (local mode, NFS, fuse-mounted object store).

    Filenames keep the reference's basename-stem contract, so colliding
    stems in different subdirectories would silently overwrite each other —
    rejected up front with a clear error instead.
    """
    from b_pdf_parser_spark.operators import arrow_kernel

    out = str(out_dir)

    def write_batches(batches):
        import csv as _csv
        import os
        from pathlib import Path as _P

        from b_pdf_parser_spark.fields import METADATA_KEYS, normalize_number

        mdir = _P(out) / "metadata"
        tdir = _P(out) / "transactions"
        mdir.mkdir(parents=True, exist_ok=True)
        tdir.mkdir(parents=True, exist_ok=True)
        written = 0
        for row in (row for b in batches for row in b.to_pylist()):
            if row["error"] is not None:
                continue
            stem = os.path.splitext(os.path.basename(row["url"]))[0]
            with open(mdir / f"{stem}_metadata.csv", "w", newline="", encoding="utf-8") as fh:
                w = _csv.writer(fh, delimiter=";")
                w.writerow(["Field", "Value"])
                meta = row["metadata"]
                for k in METADATA_KEYS:
                    v = meta.get(k) or ""
                    w.writerow([k, normalize_number(v) if v else ""])
            with open(tdir / f"{stem}_transactions.csv", "w", newline="", encoding="utf-8") as fh:
                w = _csv.writer(fh, delimiter=";")
                w.writerow(["Date", "Description", "User", "Debit", "Credit", "Balance"])
                for t in row["transactions"] or []:
                    w.writerow([
                        t["date"], t["description"], t["user"],
                        normalize_number(t["debit"]), normalize_number(t["credit"]),
                        normalize_number(t["balance"]),
                    ])
            written += 1
        yield {"n": [written]}

    sel = extracted.select("url", "error", "metadata", "transactions").persist()
    try:
        stems = sel.select(
            F.regexp_extract(F.element_at(F.split("url", "/"), -1), r"(.*?)(\.[^.]*)?$", 1)
            .alias("stem")
        )
        n_urls = sel.count()  # also materializes the cache (single extraction pass)
        if stems.distinct().count() != n_urls:
            raise ValueError(
                "duplicate file stems in input; per-document CSV names would collide"
            )
        return arrow_kernel(sel, write_batches, "n long").agg(F.sum("n")).first()[0] or 0
    finally:
        sel.unpersist()


def main() -> None:
    import argparse

    ap = argparse.ArgumentParser(description="parse a directory of PDFs to CSVs")
    ap.add_argument("--input", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--glob", default="*.pdf")
    args = ap.parse_args()

    # Python workers talk over a Unix socket: over TCP a kernel's first small
    # batch waits ~40 ms (Nagle's algorithm against delayed ACK) in every task
    spark = (SparkSession.builder.appName("parse-dir")
             .config("spark.python.unix.domain.socket.enabled", "true").getOrCreate())
    spark.sparkContext.setLogLevel("WARN")
    ext = parse_directory(spark, args.input, args.glob)
    n = write_per_document_csvs(ext, args.out)
    print(f"parsed {n} documents -> {args.out}")
    spark.stop()


if __name__ == "__main__":
    main()
