"""WET sink — extracted text in Common Crawl's WARC container (ISO 28500 /
the public WARC 1.0 spec), the segments ``jobs/extract.py`` emits beside
its parquet output.

Format notes (matching how CC writes its WET files, so a reader of real
segments reads these):

* each record = ``WARC/1.0`` header block + CRLF CRLF + payload (exactly
  ``Content-Length`` bytes) + CRLF CRLF — a reader frames records by
  Content-Length, never by scanning for delimiters;
* a WET record is a ``conversion`` record: the UTF-8 text, no HTTP
  envelope, Content-Type text/plain;
* ``.warc.wet.gz`` files are a CONCATENATION of independently-gzipped
  records (one gzip member per record), so a reader can split/seek without
  decompressing the whole segment, and a mangled record loses only itself.

Spark shape: writing runs inside ``arrow_kernel`` — each Arrow batch
serializes to one segment per partition value, written executor-side, and
the operator *returns a manifest row* (path, records, bytes) instead of
collecting anything. Linear and partition-parallel: 10^12 docs is just
more segments.

``WARC-Date`` is the record's instant in UTC (the ``Z`` suffix), whatever
the Spark session time zone.
"""

from __future__ import annotations

import gzip
import io
import os
import uuid
from datetime import datetime
from typing import Iterator, Optional

import pyarrow as pa
from pyspark.sql import DataFrame

from ..operators import arrow_kernel

__all__ = ["wet_record", "write_wet"]

WET_MANIFEST_DDL = "path STRING, n_records BIGINT, n_bytes BIGINT"
_DATE_FMT = "%Y-%m-%dT%H:%M:%SZ"


def _utc_stamps(col: pa.Array) -> list:
    """A timestamp column as UTC-aware datetimes: the instant, never the
    session-local wall clock."""
    return col.cast(pa.timestamp("us", tz="UTC")).tolist()


def wet_record(url: str, ts: datetime, text: str) -> bytes:
    """One uncompressed WARC ``conversion`` record — the WET shape Common
    Crawl ships extracted text in (no HTTP envelope, Content-Type
    text/plain)."""
    body = text.encode("utf-8")
    stamp = ts.strftime(_DATE_FMT)
    head = (
        b"WARC/1.0\r\n"
        b"WARC-Type: conversion\r\n"
        + b"WARC-Target-URI: " + url.encode("utf-8") + b"\r\n"
        + b"WARC-Date: " + stamp.encode("ascii") + b"\r\n"
        + b"Content-Type: text/plain\r\n"
        + b"Content-Length: %d\r\n\r\n" % len(body)
    )
    return head + body + b"\r\n\r\n"


def _gzip_member(record: bytes) -> bytes:
    buf = io.BytesIO()
    # mtime pinned for byte-deterministic segments
    with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
        gz.write(record)
    return buf.getvalue()


def write_wet(
    docs: DataFrame, out_dir: str, partition_col: Optional[str] = None
) -> DataFrame:
    """Serialize (url, warc_ts, text) rows into ``.warc.wet.gz`` segments —
    the WET generation job Common Crawl itself runs after extraction: one
    segment per (Arrow batch, partition value), one gzip member per record,
    executor-side writes, a manifest DataFrame back (path, n_records,
    n_bytes; no driver collection). Rows with a null text or timestamp are
    skipped (an extraction error row has nothing to convert).

    ``partition_col`` routes each record into a ``<col>=<value>/`` subdir
    (hive-style) — the checkpoint unit the resumable job needs: a wave can
    clear and rewrite exactly its partition ids' segments, keeping WET
    output idempotent under kill/resume. A NULL partition value is an
    error, not a skip: it names no segment directory, and dropping those
    rows would lose records with no manifest trace, so the writer fails
    loud and the caller must coalesce or filter the partition column
    first."""

    def emit(batches: Iterator[pa.RecordBatch]) -> Iterator[dict]:
        for b in batches:
            if partition_col is not None and b[partition_col].null_count:
                raise ValueError(
                    f"null {partition_col!r} in WET sink input: "
                    "records would be dropped with no manifest trace — "
                    "coalesce or filter the partition column before writing"
                )
            keys = b[partition_col].tolist() if partition_col else [None] * len(b)
            groups: dict = {}
            for key, url, ts, text in zip(
                keys, b["url"].tolist(), _utc_stamps(b["warc_ts"]), b["text"].tolist()
            ):
                if text is not None and ts is not None:
                    groups.setdefault(key, []).append(_gzip_member(wet_record(url, ts, text)))
            for key, chunks in sorted(groups.items()):
                target = (
                    os.path.join(out_dir, f"{partition_col}={int(key)}")
                    if key is not None else out_dir
                )
                os.makedirs(target, exist_ok=True)
                seg = b"".join(chunks)
                path = os.path.join(target, f"segment-{uuid.uuid4().hex[:12]}.warc.wet.gz")
                with open(path, "wb") as f:
                    f.write(seg)
                yield {"path": [path], "n_records": [len(chunks)], "n_bytes": [len(seg)]}

    cols = ["url", "warc_ts", "text"] + ([partition_col] if partition_col else [])
    return arrow_kernel(docs.select(*cols), emit, WET_MANIFEST_DDL)
