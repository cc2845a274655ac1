"""WARC source/sink: executor-side segment write + binaryFile read, byte-
identical payload roundtrip, and extraction-equivalence with the parquet
path (the source-agnostic pipeline claim)."""

from datetime import datetime

import pyspark.sql.functions as F

from b_pdf_parser_spark.sources.warc import (
    _gzip_member,
    read_warc,
    split_warc,
    warc_record,
    write_warc,
)


def test_split_warc_content_length_framing():
    recs = [
        ("https://a/x", datetime(2024, 1, 2, 3, 4, 5), b"<html>hello</html>"),
        # payload embedding the record separator and NULs must not mis-frame
        ("https://b/y", datetime(2024, 2, 3, 4, 5, 6), b"bin \r\n\r\n WARC/1.0 \x00"),
        ("https://c/z", datetime(2024, 3, 4, 5, 6, 7), b""),
    ]
    plain = b"".join(warc_record(u, t, p) for u, t, p in recs)
    gz = b"".join(_gzip_member(warc_record(u, t, p)) for u, t, p in recs)
    for data in (plain, gz):
        got = split_warc(data)
        assert [(u, p) for u, _, p in got] == [(u, p) for u, _, p in recs]
    # malformed / truncated input yields a (possibly partial) list, never raises
    for junk in (b"", plain[:50], gz[:40], b"\x1f\x8b\x00junk", b"not warc"):
        assert isinstance(split_warc(junk), list)


def test_warc_roundtrip_and_extraction_equivalence(spark, tmp_path):
    from b_pdf_parser_spark.operators.extract import extract_pages
    from b_pdf_parser_spark.sources.pages import synth_pages_df

    pages = synth_pages_df(spark, 120, seed=7, num_partitions=4).filter(
        F.col("html").isNotNull()
    )
    manifest = write_warc(pages, str(tmp_path / "segments")).collect()
    assert sum(r["n_records"] for r in manifest) == pages.count()
    assert all(r["path"].endswith(".warc.gz") for r in manifest)

    back = read_warc(spark, str(tmp_path / "segments"))
    # byte-identical payloads + timestamps per url
    orig = {r["url"]: r for r in pages.select("url", "warc_ts", "html").collect()}
    got = {r["url"]: r for r in back.collect()}
    assert set(got) == set(orig)
    for url, r in got.items():
        assert bytes(r["html"]) == bytes(orig[url]["html"]), url
        assert r["warc_ts"] == orig[url]["warc_ts"], url

    # the SAME extraction plan runs off WARC segments and agrees with the
    # parquet-shaped path (errors included)
    via_warc = extract_pages(back, num_partitions=4)
    via_df = extract_pages(pages, num_partitions=4)
    a = {(r["url"], r["kind"], r["text"]) for r in
         via_warc.select("url", "kind", "text").collect()}
    b = {(r["url"], r["kind"], r["text"]) for r in
         via_df.select("url", "kind", "text").collect()}
    assert a == b


def test_warc_index_point_lookup(spark, tmp_path):
    from b_pdf_parser_spark.sources.pages import synth_pages_df
    from b_pdf_parser_spark.sources.warc import fetch_warc_record, write_warc_indexed

    pages = synth_pages_df(spark, 60, seed=11, num_partitions=3).filter(
        F.col("html").isNotNull()
    )
    idx = {r["url"]: r for r in
           write_warc_indexed(pages, str(tmp_path / "seg")).collect()}
    orig = {r["url"]: bytes(r["html"]) for r in pages.select("url", "html").collect()}
    assert set(idx) == set(orig)
    # every record is retrievable by (offset, length) alone — and offsets
    # within a segment are disjoint ascending gzip members
    for url in list(orig)[:10]:
        r = idx[url]
        u, _, payload = fetch_warc_record(r["path"], r["offset"], r["length"])
        assert u == url and payload == orig[url]
    by_path = {}
    for r in idx.values():
        by_path.setdefault(r["path"], []).append((r["offset"], r["length"]))
    for spans in by_path.values():
        spans.sort()
        for (o1, l1), (o2, _) in zip(spans, spans[1:]):
            assert o1 + l1 == o2  # contiguous members, no gaps/overlap


def test_split_warc_gz_bad_member_loses_only_itself():
    # gzip member boundaries are recovery points: one record with a mangled
    # Content-Length drops only itself, not every record after it
    recs = [
        (f"https://h/{i}", datetime(2024, 1, 1, 0, 0, i), b"payload%d" % i)
        for i in range(5)
    ]
    members = [warc_record(u, t, p) for u, t, p in recs]
    bad = members[2].replace(b"Content-Length:", b"Content-Lenxth:", 1)
    gz = b"".join(
        _gzip_member(m) for m in [members[0], members[1], bad, members[3], members[4]]
    )
    got = split_warc(gz)
    assert [p for _, _, p in got] == [b"payload0", b"payload1", b"payload3", b"payload4"]


def test_wet_roundtrip_and_mixed_segments(spark, tmp_path):
    # WET conversion records: write extracted text, read it back
    # byte-identically; response and conversion records in ONE buffer are
    # routed to their own readers
    from b_pdf_parser_spark.sources.warc import (read_wet, split_wet,
                                                 wet_record, write_wet)

    docs = spark.createDataFrame(
        [("https://a/x", datetime(2024, 1, 2, 3, 4, 5), "extracted text\nwith lines"),
         ("https://b/y", datetime(2024, 2, 3, 4, 5, 6), "unicode € — text"),
         ("https://c/z", datetime(2024, 3, 4, 5, 6, 7), None),       # error row
         ("https://d/w", None, "no timestamp")],                     # skipped
        "url string, warc_ts timestamp, text string",
    )
    manifest = write_wet(docs, str(tmp_path / "wet")).collect()
    assert sum(m["n_records"] for m in manifest) == 2
    back = {r["url"]: r for r in read_wet(spark, str(tmp_path / "wet")).collect()}
    assert back["https://a/x"]["text"] == "extracted text\nwith lines"
    assert back["https://b/y"]["text"] == "unicode € — text"
    assert back["https://a/x"]["warc_ts"] == datetime(2024, 1, 2, 3, 4, 5)
    # mixed-type buffer: each splitter picks only its record type
    mixed = (warc_record("https://p/1", datetime(2024, 1, 1), b"<html>x</html>")
             + wet_record("https://p/1", datetime(2024, 1, 1), "x"))
    assert [u for u, _, _ in split_warc(mixed)] == ["https://p/1"]
    assert [(u, p) for u, _, p in split_wet(mixed)] == [("https://p/1", b"x")]


def test_wet_null_partition_value_fails_loud(spark, tmp_path):
    # pandas groupby drops null-key rows silently (dropna=True default); a
    # nullable partition column must therefore be an ERROR, not a silent
    # record loss with no manifest trace
    import pytest
    from pyspark.errors import PythonException

    from b_pdf_parser_spark.sources.warc import write_wet

    docs = spark.createDataFrame(
        [("https://a/x", datetime(2024, 1, 2), "text a", 0),
         ("https://b/y", datetime(2024, 2, 3), "text b", None)],
        "url string, warc_ts timestamp, text string, wave int",
    )
    with pytest.raises(PythonException) as exc:
        write_wet(docs, str(tmp_path / "wet"), partition_col="wave").collect()
    assert "no manifest trace" in str(exc.value)


def test_wet_generation_job_end_to_end(spark, tmp_path):
    # the CC WET pipeline shape: pages -> extraction -> write_wet -> read_wet
    # must reproduce the extraction's text column byte-for-byte
    import pyspark.sql.functions as F

    from b_pdf_parser_spark.operators.extract import extract_pages
    from b_pdf_parser_spark.sources.pages import synth_pages_df
    from b_pdf_parser_spark.sources.warc import read_wet, write_wet

    pages = synth_pages_df(spark, 60, seed=11, num_partitions=4)
    ext = extract_pages(pages, num_partitions=4).select("url", "warc_ts", "text")
    write_wet(ext, str(tmp_path / "wet")).collect()
    back = read_wet(spark, str(tmp_path / "wet"))
    src = ext.filter(F.col("text").isNotNull() & F.col("warc_ts").isNotNull())
    joined = src.alias("s").join(back.alias("b"), "url")
    n_src = src.count()
    assert back.count() == n_src
    assert joined.filter(F.col("s.text") != F.col("b.text")).count() == 0


def test_warc_date_is_utc_under_a_non_utc_session(spark, tmp_path):
    # 2024-01-02 11:04:05 UTC is 03:04:05 in Los Angeles: the header must
    # carry the UTC label, and reading it back must give the same instant
    import gzip

    from conftest import session_time_zone

    from b_pdf_parser_spark.sources.warc import read_wet, write_warc_indexed, write_wet

    ts = 1704193445
    with session_time_zone(spark, "America/Los_Angeles"):
        docs = spark.sql(
            f"SELECT 'https://a.example/x' AS url, timestamp_seconds({ts}) AS warc_ts,"
            " CAST('<p>hi</p>' AS BINARY) AS html, 'hi' AS text"
        )
        for name, write, read in (
            ("warc", write_warc, read_warc),
            ("wet", lambda d, o: write_wet(d, o), read_wet),
        ):
            out = str(tmp_path / name)
            (path,) = [r["path"] for r in write(docs, out).collect()]
            with open(path, "rb") as f:
                assert b"WARC-Date: 2024-01-02T11:04:05Z\r\n" in gzip.decompress(f.read())
            back = read(spark, out).selectExpr("CAST(warc_ts AS LONG) AS t").collect()
            assert [r["t"] for r in back] == [ts], name
        (idx,) = write_warc_indexed(docs, str(tmp_path / "idx")).collect()
        with open(idx["path"], "rb") as f:
            assert b"WARC-Date: 2024-01-02T11:04:05Z\r\n" in gzip.decompress(f.read())
