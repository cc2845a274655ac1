"""Native number expressions (P11/P12) must equal the scalar Python twins,
and the CSV sink tables must match the golden CSV contract."""

import pyspark.sql.functions as F

from b_pdf_parser_spark import fields
from b_pdf_parser_spark.functions.numbers import normalize_number_col, parse_id_number_col

CASES = [
    "1.000.000,00", "1,000,000.00", "123,45", "0.00", "0,00", "abc", "1.2.3",
    "12,34,56", "1,000", "1000", "999.99", "-5", "  77 ", "12.", ".5", "x1",
    "1x", "100.000", "100,000", "", " ", "1.234.567,89", "5.500,25", "2,50",
    "no digits here", "3.14", "10,0", "0", "00,1", ",,",
]


def test_parse_id_number_col_matches_scalar(spark):
    df = spark.createDataFrame([(v,) for v in CASES], "v string")
    got = {r["v"]: r["p"] for r in df.select("v", parse_id_number_col(F.col("v")).alias("p")).collect()}
    for v in CASES:
        assert got[v] == fields.parse_id_number(v), repr(v)


def test_normalize_number_col_matches_scalar(spark):
    df = spark.createDataFrame([(v,) for v in CASES], "v string")
    got = {r["v"]: r["n"] for r in df.select("v", normalize_number_col(F.col("v")).alias("n")).collect()}
    for v in CASES:
        assert got[v] == fields.normalize_number(v), repr(v)


def test_csv_sink_tables(spark):
    from b_pdf_parser_spark.operators.extract import extract_pages
    from b_pdf_parser_spark.plans.verify import transactions_table
    from b_pdf_parser_spark.sources.pages import synth_pages_df
    from b_pdf_parser_spark.sources.sinks import metadata_kv_table, transactions_csv_table

    ext = extract_pages(synth_pages_df(spark, 40, seed=5, num_partitions=2), num_partitions=4)
    pdfs = ext.filter(F.col("kind") == "pdf").localCheckpoint()
    kv = metadata_kv_table(pdfs)
    n_docs = pdfs.count()
    assert kv.count() == n_docs * len(fields.METADATA_KEYS)
    # normalized numbers: Indonesian totals become plain (no separators)
    some = kv.filter((F.col("Field") == "total_debit") & (F.col("Value") != "")).limit(5).collect()
    for r in some:
        assert "," not in r["Value"] and r["Value"].replace(".", "").isdigit()

    tx = transactions_csv_table(transactions_table(pdfs))
    assert set(tx.columns) == {"url", "seq", "Date", "Description", "User",
                               "Debit", "Credit", "Balance"}
    bad = tx.filter(~F.col("Date").rlike(r"^\d{2}/\d{2}/\d{2}")).count()
    assert bad == 0


def test_write_jsonl_roundtrip(spark, tmp_path):
    from b_pdf_parser_spark.sources.sinks import write_jsonl

    df = spark.createDataFrame(
        [(i, f"text {i}", f"src{i % 3}") for i in range(50)],
        "doc_id long, text string, source string",
    )
    write_jsonl(df, str(tmp_path / "out"), order_by="doc_id", shards=4)
    import glob
    parts = glob.glob(str(tmp_path / "out" / "part-*.json.gz"))
    assert len(parts) == 4
    back = spark.read.json(str(tmp_path / "out"))
    assert back.count() == 50
    got = {(r["doc_id"], r["text"], r["source"]) for r in back.collect()}
    exp = {(r["doc_id"], r["text"], r["source"]) for r in df.collect()}
    assert got == exp
