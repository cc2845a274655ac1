import sys
import zlib
from contextlib import contextmanager
from datetime import datetime, timezone
from pathlib import Path
from typing import List, Tuple

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

FIXTURES = Path(__file__).resolve().parent / "fixtures"


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .appName("b_pdf_parser_spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        # the worker transport of the job sessions (jobs/extract.py,
        # jobs/parse_dir.py), so the tests run the Python kernels over it
        .config("spark.python.unix.domain.socket.enabled", "true")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def fixtures_dir():
    return FIXTURES


@contextmanager
def session_time_zone(spark, tz: str):
    """Run the block under ``spark.sql.session.timeZone=tz`` on the shared
    session, restoring the previous value after."""
    key = "spark.sql.session.timeZone"
    prev = spark.conf.get(key)
    spark.conf.set(key, tz)
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def _wet_records(data: bytes) -> List[Tuple[str, str, bytes]]:
    """(url, date, payload) per ``conversion`` record of one uncompressed
    buffer, framed by Content-Length (payloads may hold CRLF CRLF); a
    malformed header ends the walk."""
    out, i = [], 0
    while data[i:i + 5] == b"WARC/":
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
        body = data[hdr_end + 4:hdr_end + 4 + clen]
        i = hdr_end + 4 + clen
        while data[i:i + 2] == b"\r\n":  # record separator
            i += 2
        if headers.get(b"warc-type") == b"conversion":
            out.append((headers.get(b"warc-target-uri", b"").decode("utf-8", "replace"),
                        headers.get(b"warc-date", b"").decode("ascii", "replace"), body))
    return out


def split_wet(data: bytes) -> List[Tuple[str, str, bytes]]:
    """(url, date, utf-8 text bytes) per WET record of a segment. A
    ``.warc.wet.gz`` segment is walked one gzip member at a time, so a
    record with a mangled header loses only itself; a corrupt or truncated
    member ends the read, keeping the records before it."""
    if data[:2] != b"\x1f\x8b":
        return _wet_records(data)
    out = []
    while data:
        d = zlib.decompressobj(wbits=31)
        try:
            member = d.decompress(data) + d.flush()
        except zlib.error:
            break
        out.extend(_wet_records(member))
        if d.unused_data == data:
            break
        data = d.unused_data
    return out


def read_wet(spark, path: str):
    """The WET segments under ``path`` (partition subdirectories included)
    as (url, warc_ts, text) rows, ``warc_ts`` read as UTC. Read on the
    driver: a test's segments are small."""
    def stamp(date: str):
        try:
            return datetime.strptime(date, "%Y-%m-%dT%H:%M:%SZ").replace(tzinfo=timezone.utc)
        except ValueError:
            return None

    rows = [(url, stamp(date), text.decode("utf-8", "replace"))
            for seg in sorted(Path(path).rglob("*.wet*"))
            for url, date, text in split_wet(seg.read_bytes())]
    return spark.createDataFrame(rows, "url STRING, warc_ts TIMESTAMP, text STRING")
