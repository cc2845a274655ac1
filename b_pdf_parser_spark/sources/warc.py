"""WARC source/sink — Common Crawl's native container (ISO 28500 / the
public WARC 1.0 spec). A crawl pipeline's first read is WARC segments, not
parquet; this module lets the same extraction plan run straight off them.

Format notes (matching how CC actually writes files, so a reader built here
works on real segments):

* each record = ``WARC/1.0`` header block + CRLF CRLF + payload (exactly
  ``Content-Length`` bytes) + CRLF CRLF — record boundaries come from
  Content-Length, NEVER from scanning for delimiters (payloads are binary);
* ``response`` records wrap the payload in an HTTP/1.1 response envelope
  (status line + headers + CRLF CRLF + body);
* ``.warc.gz`` files are a CONCATENATION of independently-gzipped records
  (one gzip member per record) so readers can split/seek without
  decompressing the whole segment.

Spark shape: writing runs inside ``arrow_kernel`` — each Arrow batch
serializes to one ``.warc.gz`` segment written executor-side, and the
operator *returns a manifest row* (path, records, bytes) instead of
collecting anything; reading is ``binaryFile`` scan → ``arrow_kernel``
record split (one Python dispatch per segment, Content-Length arithmetic —
no regex over payload bytes). Both directions are linear and
partition-parallel: 10^12 docs is just more segments.

``WARC-Date`` is the record's instant in UTC (the ``Z`` suffix), whatever
the Spark session time zone: writers format the UTC wall clock, readers
parse the label as UTC.
"""

from __future__ import annotations

import gzip
import io
import zlib
from datetime import datetime, timezone
from typing import Iterator, List, Optional, Tuple

import pyarrow as pa
from pyspark.sql import DataFrame

from ..operators import arrow_kernel

__all__ = [
    "warc_record",
    "wet_record",
    "split_warc",
    "split_wet",
    "write_warc",
    "write_warc_indexed",
    "write_wet",
    "read_warc",
    "read_wet",
    "fetch_warc_record",
]

WARC_MANIFEST_DDL = "path STRING, n_records BIGINT, n_bytes BIGINT"
WARC_ROWS_DDL = "url STRING, warc_ts TIMESTAMP, html BINARY"
_DATE_FMT = "%Y-%m-%dT%H:%M:%SZ"


def _utc_stamps(col: pa.Array) -> list:
    """A timestamp column as UTC-aware datetimes: the instant, never the
    session-local wall clock."""
    return col.cast(pa.timestamp("us", tz="UTC")).tolist()


def _parse_date(date: str) -> Optional[datetime]:
    try:
        return datetime.strptime(date, _DATE_FMT).replace(tzinfo=timezone.utc)
    except ValueError:
        return None


def _http_envelope(payload: bytes, content_type: str) -> bytes:
    return (
        b"HTTP/1.1 200 OK\r\nContent-Type: "
        + content_type.encode("ascii")
        + b"\r\nContent-Length: %d\r\n\r\n" % len(payload)
        + payload
    )


def warc_record(url: str, ts: datetime, payload: bytes,
                content_type: str = "text/html") -> bytes:
    """One uncompressed WARC ``response`` record (header + HTTP envelope)."""
    body = _http_envelope(payload, content_type)
    stamp = ts.strftime(_DATE_FMT)
    head = (
        b"WARC/1.0\r\n"
        b"WARC-Type: response\r\n"
        + b"WARC-Target-URI: " + url.encode("utf-8") + b"\r\n"
        + b"WARC-Date: " + stamp.encode("ascii") + b"\r\n"
        + b"Content-Type: application/http; msgtype=response\r\n"
        + b"Content-Length: %d\r\n\r\n" % len(body)
    )
    return head + body + b"\r\n\r\n"


def wet_record(url: str, ts: datetime, text: str) -> bytes:
    """One uncompressed WARC ``conversion`` record — the WET shape Common
    Crawl ships extracted text in (same container, no HTTP envelope,
    Content-Type text/plain)."""
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


def _gunzip_member_list(data: bytes) -> List[bytes]:
    """Decompress a concatenation of gzip members (the .warc.gz layout),
    one decompressed blob per member — member boundaries ARE the recovery
    points: a record with a mangled header only loses itself, because the
    next member starts a fresh parse."""
    out: List[bytes] = []
    while data:
        d = zlib.decompressobj(wbits=31)
        try:
            member = d.decompress(data) + d.flush()
        except zlib.error:
            break  # truncated / corrupt tail: keep the members already read
        out.append(member)
        if d.unused_data == data:
            break
        data = d.unused_data
    return out


def _walk_records(
    data: bytes, want_type: bytes = b"response", strip_http: bool = True
) -> List[Tuple[str, str, bytes]]:
    """Content-Length-driven record walk over one uncompressed buffer.
    A malformed header ends THIS buffer's walk (payloads are binary, so
    scanning forward for delimiters would mis-frame records)."""
    out: List[Tuple[str, str, bytes]] = []
    i = 0
    n = len(data)
    while i < n:
        if data[i : i + 5] != b"WARC/":
            break
        hdr_end = data.find(b"\r\n\r\n", i)
        if hdr_end < 0:
            break
        headers = {}
        for line in data[i:hdr_end].split(b"\r\n")[1:]:
            k, _, v = line.partition(b":")
            headers[k.strip().lower()] = v.strip()
        try:
            clen = int(headers.get(b"content-length", b""))
        except ValueError:
            break
        body = data[hdr_end + 4 : hdr_end + 4 + clen]
        i = hdr_end + 4 + clen
        while data[i : i + 2] == b"\r\n":  # record separator
            i += 2
        if headers.get(b"warc-type") != want_type:
            continue
        payload = body
        if strip_http:
            # strip the HTTP envelope: payload starts after its CRLF CRLF
            http_end = body.find(b"\r\n\r\n")
            payload = body[http_end + 4 :] if http_end >= 0 else body
        out.append(
            (
                headers.get(b"warc-target-uri", b"").decode("utf-8", "replace"),
                headers.get(b"warc-date", b"").decode("ascii", "replace"),
                payload,
            )
        )
    return out


def _split_records(
    data: bytes, want_type: bytes, strip_http: bool
) -> List[Tuple[str, str, bytes]]:
    """``.warc.gz`` input is parsed per gzip member (CC writes one member
    per record), so a record with a missing/garbled Content-Length drops
    only itself — every later member still parses. Uncompressed input has
    no such recovery boundary; there a malformed header ends the walk."""
    if data[:2] == b"\x1f\x8b":
        out: List[Tuple[str, str, bytes]] = []
        for member in _gunzip_member_list(data):
            out.extend(_walk_records(member, want_type, strip_http))
        return out
    return _walk_records(data, want_type, strip_http)


def split_warc(data: bytes) -> List[Tuple[str, str, bytes]]:
    """(url, date, payload) per ``response`` record (HTTP envelope
    stripped) — the page-fetch side of the container."""
    return _split_records(data, b"response", True)


def split_wet(data: bytes) -> List[Tuple[str, str, bytes]]:
    """(url, date, utf-8 text bytes) per ``conversion`` record — the WET
    (extracted-text) side; conversion records carry no HTTP envelope."""
    return _split_records(data, b"conversion", False)


def _write_segments(
    docs: DataFrame,
    out_dir: str,
    value_col: str,
    record_fn,
    suffix: str,
    partition_col: Optional[str] = None,
) -> DataFrame:
    """Shared executor-side segment writer for both container sinks: rows →
    per-record gzip members → one segment file per (Arrow batch, optional
    partition value), yielding one manifest row per segment. Rows with a
    null value or timestamp are skipped (nothing to serialize) — but a
    NULL partition value is an error, not a skip: it names no segment
    directory, and dropping those rows would lose records with no
    manifest trace, so the writer fails loud instead and the caller must
    coalesce or filter the partition column first. Keeping one
    implementation means a hardening fix (timestamp coercion, atomic
    write) can never silently miss the other sink."""
    import os
    import uuid

    def emit(batches: Iterator[pa.RecordBatch]) -> Iterator[dict]:
        for b in batches:
            if partition_col is not None and b[partition_col].null_count:
                raise ValueError(
                    f"null {partition_col!r} in {suffix} sink input: "
                    "records would be dropped with no manifest trace — "
                    "coalesce or filter the partition column before writing"
                )
            keys = b[partition_col].tolist() if partition_col else [None] * len(b)
            groups: dict = {}
            for key, url, ts, val in zip(
                keys, b["url"].tolist(), _utc_stamps(b["warc_ts"]), b[value_col].tolist()
            ):
                if val is not None and ts is not None:
                    groups.setdefault(key, []).append(_gzip_member(record_fn(url, ts, val)))
            for key, chunks in sorted(groups.items()):
                target = (
                    os.path.join(out_dir, f"{partition_col}={int(key)}")
                    if key is not None else out_dir
                )
                os.makedirs(target, exist_ok=True)
                seg = b"".join(chunks)
                path = os.path.join(target, f"segment-{uuid.uuid4().hex[:12]}{suffix}")
                with open(path, "wb") as f:
                    f.write(seg)
                yield {"path": [path], "n_records": [len(chunks)], "n_bytes": [len(seg)]}

    cols = ["url", "warc_ts", value_col] + ([partition_col] if partition_col else [])
    return arrow_kernel(docs.select(*cols), emit, WARC_MANIFEST_DDL)


def write_warc(pages: DataFrame, out_dir: str) -> DataFrame:
    """Serialize a pages DataFrame into ``.warc.gz`` segments, one per Arrow
    batch, written from the executors; returns the manifest DataFrame
    (path, n_records, n_bytes). Follows the repo's sink rule: no driver
    collection — the manifest is itself a (tiny) distributed result."""
    return _write_segments(
        pages, out_dir, "html",
        lambda u, t, v: warc_record(u, t, bytes(v)), ".warc.gz",
    )


WARC_INDEX_DDL = "url STRING, path STRING, offset BIGINT, length BIGINT"


def write_warc_indexed(pages: DataFrame, out_dir: str) -> DataFrame:
    """Like :func:`write_warc`, but returns the CDX-style per-record index
    (url, path, offset, length) instead of the segment manifest — the
    random-access pattern Common Crawl ships alongside its segments: one
    record is fetched by reading ``length`` bytes at ``offset`` (an exact
    gzip member) without touching the rest of the segment. The index is a
    distributed result; persist it bucketed/sorted by url for O(1) lookups
    at corpus scale."""
    import os
    import uuid

    def emit(batches: Iterator[pa.RecordBatch]) -> Iterator[dict]:
        os.makedirs(out_dir, exist_ok=True)
        for b in batches:
            members: List[Tuple[str, bytes]] = [
                (url, _gzip_member(warc_record(url, ts, payload)))
                for url, ts, payload in zip(
                    b["url"].tolist(), _utc_stamps(b["warc_ts"]), b["html"].tolist()
                )
                if payload is not None and ts is not None
            ]
            if not members:
                continue
            name = f"segment-{uuid.uuid4().hex[:12]}.warc.gz"
            path = os.path.join(out_dir, name)
            urls, offs, lens = [], [], []
            off = 0
            with open(path, "wb") as f:
                for url, member in members:
                    f.write(member)
                    urls.append(url)
                    offs.append(off)
                    lens.append(len(member))
                    off += len(member)
            yield {"url": urls, "path": [path] * len(urls), "offset": offs, "length": lens}

    return arrow_kernel(pages.select("url", "warc_ts", "html"), emit, WARC_INDEX_DDL)


def fetch_warc_record(path: str, offset: int, length: int) -> Tuple[str, str, bytes]:
    """Point lookup: read one gzip member at (offset, length) and parse it —
    the consumer side of :func:`write_warc_indexed`."""
    with open(path, "rb") as f:
        f.seek(offset)
        member = f.read(length)
    recs = split_warc(member)
    if not recs:
        raise ValueError(f"no WARC record at {path}:{offset}+{length}")
    return recs[0]


def write_wet(
    docs: DataFrame, out_dir: str, partition_col: Optional[str] = None
) -> DataFrame:
    """Serialize (url, warc_ts, text) rows into ``.warc.wet.gz`` segments —
    the WET generation job Common Crawl itself runs after extraction. Same
    sink rules as :func:`write_warc`: one segment per Arrow batch, one gzip
    member per record, executor-side writes, a manifest DataFrame back (no
    driver collection). Rows with a null text or timestamp are skipped (an
    extraction error row has nothing to convert).

    ``partition_col`` routes each record into a ``<col>=<value>/`` subdir
    (hive-style) — the checkpoint unit the resumable job needs: a wave can
    clear and rewrite exactly its partition ids' segments, keeping WET
    output idempotent under kill/resume."""
    return _write_segments(
        docs, out_dir, "text",
        lambda u, t, v: wet_record(u, t, str(v)), ".warc.wet.gz",
        partition_col=partition_col,
    )


WET_ROWS_DDL = "url STRING, warc_ts TIMESTAMP, text STRING"


def read_wet(spark, path_glob: str) -> DataFrame:
    """Scan ``.warc.wet(.gz)`` segments into (url, warc_ts, text) rows —
    the extracted-text twin of :func:`read_warc`."""
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.wet*")
        .option("recursiveFileLookup", "true")  # hive-style partition dirs
        .load(path_glob)
        .select("path", "content")
    )

    def parse(batches: Iterator[pa.RecordBatch]) -> Iterator[list]:
        for b in batches:
            yield [
                {"url": url, "warc_ts": _parse_date(date),
                 "text": payload.decode("utf-8", "replace")}
                for blob in b["content"].tolist()
                for url, date, payload in split_wet(blob)
            ]

    return arrow_kernel(files, parse, WET_ROWS_DDL)


def read_warc(spark, path_glob: str) -> DataFrame:
    """Scan ``.warc(.gz)`` segments into (url, warc_ts, html) rows — the
    same shape the parquet pages source yields, so the downstream
    extraction plan is source-agnostic."""
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.warc*")
        .load(path_glob)
        .select("path", "content")
    )

    def parse(batches: Iterator[pa.RecordBatch]) -> Iterator[list]:
        for b in batches:
            yield [
                {"url": url, "warc_ts": _parse_date(date), "html": payload}
                for blob in b["content"].tolist()
                for url, date, payload in split_warc(blob)
            ]

    return arrow_kernel(files, parse, WARC_ROWS_DDL)
