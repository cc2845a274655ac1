"""The extraction operator: ``pages`` → ``extracted`` (one row per url).

Spark-first design (SURVEY §3.2, §4.3):

* **Pure DataFrame + Arrow**: the document walk runs inside ``arrow_kernel``
  (``mapInArrow``, iterator form, so per-worker init happens once — the
  idiomatic analog of the reference's ``init_strategy='per-worker'``,
  batch.py:59,277). One
  Python dispatch per *document*, zero per-row Python anywhere else.
* **Partitioning**: a stable logical ``partition_id = pmod(xxhash64(url), P)``
  column is the checkpoint/lineage unit (resume-safe, independent of the
  physical layout; :func:`partition_id_col`). Physically, oversized
  payloads (> ``DEFAULT_SKEW_THRESHOLD`` bytes) take an independently
  salted hash key in the same single shuffle, so multi-MB documents never
  pile into one straggler task (north_rule salt-split; the indivisible-row
  analog of key salting) and the source is scanned exactly once.
* **Error capture**: a corrupt document sets the ``error`` column; the job
  never throws (reference semantics batch.py:134-190, S10).
* **Column pruning**: only ``url, html`` (+passthrough ``warc_ts``) are
  touched; Catalyst prunes ``text/lang`` out of the scan when the caller
  doesn't select them.

Reference parity for the per-document logic: pymupdf_parser.py:50-91
(page-0 metadata, filename account fallback, all-pages text, summary merge),
__init__.py:154-161 (verification attach).
"""

from __future__ import annotations

from typing import Iterator, Optional

import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

import re as _re

from .. import fields
from . import arrow_batch, arrow_kernel
from ..htmlmodel import extract_html_blocks_and_tables
from ..pdfmodel import PdfError, extract_pdf_pages_and_tables

# the kernel walks every HTML page once for blocks and tables together; only
# perfbench/replay.py imports this table hint, to time its table pass apart
_TABLE_HINT_RE = _re.compile(r"<table", _re.I)

__all__ = [
    "EXTRACTED_SCHEMA",
    "extract_pages",
    "extract_kind_audit",
    "extract_partition_walls",
    "make_extract_batch",
    "partition_id_col",
    "DEFAULT_SKEW_THRESHOLD",
]

DEFAULT_SKEW_THRESHOLD = 512 * 1024  # bytes; > p99 of the synthetic corpus

_META_FIELDS = [StructField(k, StringType()) for k in fields.METADATA_KEYS]
_TXN_FIELDS = [StructField(k, StringType()) for k in fields.TXN_KEYS]
_VERIFY_FIELDS = [
    StructField("passed", BooleanType()),
    StructField("debit_match", BooleanType()),
    StructField("credit_match", BooleanType()),
    StructField("total_debit_extracted", StringType()),
    StructField("total_debit_calculated", DoubleType()),
    StructField("debit_discrepancy", DoubleType()),
    StructField("total_credit_extracted", StringType()),
    StructField("total_credit_calculated", DoubleType()),
    StructField("credit_discrepancy", DoubleType()),
    StructField("status", StringType()),
    StructField("message", StringType()),
]

EXTRACTED_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("kind", StringType()),  # 'pdf' | 'html' | 'empty' | 'error'
        StructField("text", StringType()),
        StructField("metadata", StructType(_META_FIELDS)),
        StructField("transactions", ArrayType(StructType(_TXN_FIELDS))),
        StructField("n_transactions", IntegerType()),
        # which fallback strategy produced the transactions (S2/P15/A6):
        # 'table' | 'column' | 'inline' | 'none'
        StructField("txn_strategy", StringType()),
        StructField("valid", BooleanType()),
        StructField("verification", StructType(_VERIFY_FIELDS)),
        StructField("n_pages", IntegerType()),
        StructField("payload_bytes", LongType()),
        StructField("n_tokens", LongType()),
        StructField("error", StringType()),
        StructField("partition_id", IntegerType()),
    ]
)
_EXTRACTED_ARROW = to_arrow_schema(EXTRACTED_SCHEMA)
# the columns the kernel computes; the rest pass through from the input
_BODY_COLUMNS = [
    f.name for f in EXTRACTED_SCHEMA.fields
    if f.name not in ("url", "warc_ts", "partition_id")
]


def _extract_one(url: str, payload: Optional[bytes]) -> dict:
    """Per-document walk → dict of EXTRACTED columns (metadata deferred)."""
    row = {
        "kind": None,
        "text": None,
        "first_page": "",
        "n_pages": 0,
        "payload_bytes": len(payload) if payload is not None else 0,
        "tables": [],
        "error": None,
    }
    if payload is None or len(payload) == 0:
        row["kind"] = "empty"
        row["error"] = "empty payload"
        return row
    try:
        if payload[:1024].lstrip()[:5] == b"%PDF-":
            pages, tables = extract_pdf_pages_and_tables(payload)
            row["kind"] = "pdf"
            row["text"] = "".join(p + "\n" for p in pages)
            row["first_page"] = pages[0]
            row["n_pages"] = len(pages)
            row["tables"] = tables
        else:
            row["kind"] = "html"
            # one tag walk yields the blocks and the <table> rows; HTML
            # tables feed the same table→transactions strategy as PDF
            # span-cluster tables (an HTML bank statement and a PDF one are
            # the same document to the field layer)
            blocks, row["tables"] = extract_html_blocks_and_tables(payload)
            row["text"] = "\n".join(b.text for b in blocks if b.is_content)
            # label scans (metadata, summary totals) run over ALL blocks
            # (see fields.document_fields)
            row["first_page"] = "\n".join(b.text for b in blocks)
            row["n_pages"] = 1
    except PdfError as e:
        row["kind"] = "error"
        row["error"] = f"pdf: {e}"
    except Exception as e:  # never fail the batch (S10)
        row["kind"] = "error"
        row["error"] = f"{type(e).__name__}: {e}"
    return row


def _url_stem(url: str) -> str:
    tail = url.rsplit("/", 1)[-1]
    dot = tail.rfind(".")
    return tail[:dot] if dot > 0 else tail


def make_extract_batch(verify: bool = True):
    """Build the extraction kernel: an iterator of input batches (Arrow
    record batches, or pandas frames when driven outside Spark) → one
    assembled ``pa.RecordBatch`` of :data:`EXTRACTED_SCHEMA` per batch.
    ``verify`` mirrors the reference's ``verify_turnover`` toggle (S11:
    __init__.py:133-137, .env-driven) — off → the ``verification`` struct
    is null, nothing else changes. ``url``, ``warc_ts`` and
    ``partition_id`` pass through as the input columns."""

    def extract_batch(batches: Iterator) -> Iterator[pa.RecordBatch]:
        for b in batches:
            # columnar pulls once per batch (no per-row access in the loop)
            urls = b["url"].tolist()
            per_doc = [_extract_one(u, p) for u, p in zip(urls, b["html"].tolist())]

            rows = []
            for d, url in zip(per_doc, urls):
                full_text = d["text"] or ""
                row = fields.document_fields(d["kind"], full_text, d["first_page"],
                                             d["tables"], _url_stem(url), verify)
                for k in ("kind", "text", "n_pages", "payload_bytes", "error"):
                    row[k] = d[k]
                row["n_tokens"] = len(full_text.split())
                rows.append(row)
            cols = {k: [r[k] for r in rows] for k in _BODY_COLUMNS}
            for k in ("url", "warc_ts", "partition_id"):
                cols[k] = b[k]
            yield arrow_batch(cols, _EXTRACTED_ARROW)

    return extract_batch


def extract_pages(
    pages: DataFrame,
    *,
    num_partitions: Optional[int] = None,
    checkpoint_partitions: int = 64,
    verify: bool = True,
) -> DataFrame:
    """Build the extraction plan over a ``pages`` DataFrame.

    ``checkpoint_partitions`` fixes the *logical* partition_id space (stable
    across cluster sizes → resume works after rescale); ``num_partitions``
    sizes the physical shuffle (defaults to 2× parallelism). ``verify``
    toggles turnover verification (S11 parity: the reference resolves it
    from param-or-.env, tests/test_parsers.py:245-276 exercise both).
    """
    return arrow_kernel(
        _shuffled(pages, num_partitions, checkpoint_partitions),
        make_extract_batch(verify),
        EXTRACTED_SCHEMA,
    )


def partition_id_col(checkpoint_partitions: int) -> Column:
    """The checkpoint/lineage unit ``pmod(xxhash64(url), P)`` as an int
    column — the one definition the operator's tag and the resumable job's
    wave filter share, so a resumed run sees the same ids the first run
    wrote."""
    return F.pmod(F.xxhash64("url"), F.lit(checkpoint_partitions)).cast("int")


def _shuffled(
    pages: DataFrame,
    num_partitions: Optional[int],
    checkpoint_partitions: int,
) -> DataFrame:
    """The shared pre-UDF plan: tag + single salted shuffle.

    Salt-split of oversized payloads in a SINGLE scan + shuffle: rows above
    the skew threshold are keyed by an independent salted hash, so multi-MB
    documents decorrelate from the url-hash placement of small rows and
    spread uniformly (the indivisible-row analog of key salting; a
    two-branch filter+union would scan the 100 TB source twice).
    """
    spark = pages.sparkSession
    p_phys = num_partitions or spark.sparkContext.defaultParallelism * 2
    oversized = F.coalesce(F.length("html") > DEFAULT_SKEW_THRESHOLD, F.lit(False))
    part_key = F.when(
        oversized, F.xxhash64("url", F.lit("skew-salt"))
    ).otherwise(F.xxhash64("url"))
    tagged = pages.select(
        "url",
        "warc_ts",
        "html",
        partition_id_col(checkpoint_partitions).alias("partition_id"),
        part_key.alias("_pkey"),
    )
    return tagged.repartition(p_phys, F.col("_pkey")).drop("_pkey")


def extract_kind_audit(
    pages: DataFrame,
    *,
    num_partitions: Optional[int] = None,
    checkpoint_partitions: int = 64,
) -> DataFrame:
    """Corpus-audit projection of the extraction: one ``(kind, error)`` row
    per document, from the IDENTICAL per-document walk (``_extract_one`` —
    the full PDF/HTML parse with its whole error-capture surface; kind and
    error are decided there and never touched by the field layer).

    Round-7: the audit aggregations only read these two columns, but the
    full operator shipped every parsed text, transaction array and
    metadata struct back through Arrow just to drop them — hand-done
    column pruning for an opaque UDF stage (the optimizer cannot see
    inside ``mapInArrow``). A parity test pins per-kind/error counts
    equal to :func:`extract_pages` on the same corpus."""

    def audit_batch(batches: Iterator) -> Iterator[list]:
        for b in batches:
            yield [
                _extract_one(u, p) for u, p in zip(b["url"].tolist(), b["html"].tolist())
            ]

    return arrow_kernel(
        _shuffled(pages, num_partitions, checkpoint_partitions),
        audit_batch,
        "kind string, error string",
    )


def extract_partition_walls(
    pages: DataFrame,
    *,
    num_partitions: Optional[int] = None,
    checkpoint_partitions: int = 64,
    verify: bool = True,
) -> DataFrame:
    """Straggler diagnostics: run the IDENTICAL extraction plan (same tag,
    same salted shuffle, same batch body) but emit one row per physical
    task — ``(wall_sec, n_docs)`` — instead of the documents. The
    straggler ratio max/median over tasks that processed rows is the
    measured effectiveness of the salt-split (a number, not a design
    note): 1.0 = perfectly level waves, >>1 = one task pins the stage."""
    import time

    inner = make_extract_batch(verify)

    def timed(batches: Iterator) -> Iterator[dict]:
        t0 = time.perf_counter()
        n = sum(out.num_rows for out in inner(batches))
        yield {"wall_sec": [time.perf_counter() - t0], "n_docs": [n]}

    return arrow_kernel(
        _shuffled(pages, num_partitions, checkpoint_partitions),
        timed,
        "wall_sec double, n_docs long",
    )
