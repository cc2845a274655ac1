"""WET sink: Content-Length framing and per-member isolation of the records
the writer builds, executor-side segment writes read back byte-identically,
and the fail-loud on a null partition value."""

from datetime import datetime

from conftest import read_wet, session_time_zone, split_wet

from b_pdf_parser_spark.sources.warc import _gzip_member, wet_record, write_wet


def test_split_warc_content_length_framing():
    recs = [
        ("https://a/x", datetime(2024, 1, 2, 3, 4, 5), "hello text"),
        # text embedding the record separator and NULs must not mis-frame
        ("https://b/y", datetime(2024, 2, 3, 4, 5, 6), "bin \r\n\r\n WARC/1.0 \x00"),
        ("https://c/z", datetime(2024, 3, 4, 5, 6, 7), ""),
    ]
    plain = b"".join(wet_record(u, t, x) for u, t, x in recs)
    gz = b"".join(_gzip_member(wet_record(u, t, x)) for u, t, x in recs)
    for data in (plain, gz):
        got = split_wet(data)
        assert [(u, p) for u, _, p in got] == [(u, x.encode()) for u, _, x in recs]
        assert [d for _, d, _ in got] == ["2024-01-02T03:04:05Z", "2024-02-03T04:05:06Z",
                                          "2024-03-04T05:06:07Z"]
    # malformed / truncated input yields a (possibly partial) list, never raises
    for junk in (b"", plain[:50], gz[:40], b"\x1f\x8b\x00junk", b"not warc"):
        assert isinstance(split_wet(junk), list)


def test_split_warc_gz_bad_member_loses_only_itself():
    # gzip member boundaries are recovery points: one record with a mangled
    # Content-Length drops only itself, not every record after it
    recs = [
        (f"https://h/{i}", datetime(2024, 1, 1, 0, 0, i), f"text{i}")
        for i in range(5)
    ]
    members = [wet_record(u, t, x) for u, t, x in recs]
    members[2] = members[2].replace(b"Content-Length:", b"Content-Lenxth:", 1)
    got = split_wet(b"".join(_gzip_member(m) for m in members))
    assert [p for _, _, p in got] == [b"text0", b"text1", b"text3", b"text4"]


def test_wet_roundtrip_and_mixed_segments(spark, tmp_path):
    # WET conversion records: write extracted text, read it back
    # byte-identically; null text or timestamp rows are skipped
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


def test_wet_null_partition_value_fails_loud(spark, tmp_path):
    # pandas groupby drops null-key rows silently (dropna=True default); a
    # nullable partition column must therefore be an ERROR, not a silent
    # record loss with no manifest trace
    import pytest
    from pyspark.errors import PythonException

    docs = spark.createDataFrame(
        [("https://a/x", datetime(2024, 1, 2), "text a", 0),
         ("https://b/y", datetime(2024, 2, 3), "text b", None)],
        "url string, warc_ts timestamp, text string, wave int",
    )
    with pytest.raises(PythonException) as exc:
        write_wet(docs, str(tmp_path / "wet"), partition_col="wave").collect()
    assert "no manifest trace" in str(exc.value)


def test_wet_generation_job_end_to_end(spark, tmp_path):
    # the CC WET pipeline shape: pages -> extraction -> write_wet -> read back
    # must reproduce the extraction's text column byte-for-byte
    import pyspark.sql.functions as F

    from b_pdf_parser_spark.operators.extract import extract_pages
    from b_pdf_parser_spark.sources.pages import synth_pages_df

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

    ts = 1704193445
    with session_time_zone(spark, "America/Los_Angeles"):
        docs = spark.sql(
            f"SELECT 'https://a.example/x' AS url, timestamp_seconds({ts}) AS warc_ts,"
            " 'hi' AS text"
        )
        out = str(tmp_path / "wet")
        (path,) = [r["path"] for r in write_wet(docs, out).collect()]
        with open(path, "rb") as f:
            assert b"WARC-Date: 2024-01-02T11:04:05Z\r\n" in gzip.decompress(f.read())
        back = read_wet(spark, out).selectExpr("CAST(warc_ts AS LONG) AS t").collect()
        assert [r["t"] for r in back] == [ts]
