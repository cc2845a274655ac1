"""Instants must not depend on ``spark.sql.session.timeZone``. The suite's
session runs in UTC, where a timestamp that round-trips through a
session-local wall clock looks correct; these tests rerun the hazards
under America/Los_Angeles (UTC-8 in January)."""

import calendar

import pyspark.sql.functions as F

from conftest import session_time_zone

LA = "America/Los_Angeles"


def test_extract_pages_passes_warc_ts_through(spark):
    from b_pdf_parser_spark.operators.extract import extract_pages
    from b_pdf_parser_spark.sources.pages import synth_pages_df

    with session_time_zone(spark, LA):
        pages = synth_pages_df(spark, 200, seed=42, num_partitions=4).localCheckpoint()
        out = extract_pages(pages, num_partitions=4)
        joined = pages.select("url", F.col("warc_ts").alias("in_ts")).join(
            out.select("url", F.col("warc_ts").alias("out_ts")), "url"
        )
        assert joined.count() == 200
        assert joined.filter(~F.col("in_ts").eqNullSafe(F.col("out_ts"))).count() == 0


def test_synth_pages_instant_is_keyed_on_seed_and_index(spark):
    from b_pdf_parser_spark.sources.pages import make_page_row, synth_pages_df

    expected = {}
    for i in range(12):
        row = make_page_row(i, 5)
        expected[row["url"]] = calendar.timegm(row["warc_ts"].timetuple())
    for tz in ("UTC", LA):
        with session_time_zone(spark, tz):
            got = synth_pages_df(spark, 12, seed=5, num_partitions=2).selectExpr(
                "url", "CAST(warc_ts AS LONG) AS t"
            ).collect()
        assert {r["url"]: r["t"] for r in got} == expected, tz
