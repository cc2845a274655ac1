"""Local-Spark end-to-end tests of the extraction pipeline (SURVEY §5 mirror
layer 4): synthetic pages corpus → extract → relational cross-checks."""

import pyspark.sql.functions as F
import pytest

from b_pdf_parser_spark.functions.numbers import parse_id_number_col
from b_pdf_parser_spark.operators.extract import extract_pages
from b_pdf_parser_spark.plans.verify import transactions_table, verify_turnover_plan
from b_pdf_parser_spark.sources.pages import synth_pages_df

N = 200
SEED = 42


@pytest.fixture(scope="module")
def extracted(spark):
    pages = synth_pages_df(spark, N, seed=SEED, num_partitions=4)
    df = extract_pages(pages, num_partitions=8).cache()
    df.count()
    yield df
    df.unpersist()


def test_row_count_and_kinds(extracted):
    assert extracted.count() == N
    kinds = {r["kind"]: r["n"] for r in
             extracted.groupBy("kind").agg(F.count("*").alias("n")).collect()}
    assert kinds.get("pdf", 0) > 50 and kinds.get("html", 0) > 50
    assert set(kinds) <= {"pdf", "html", "empty", "error"}


def test_errors_never_fail_job(extracted):
    errs = extracted.filter(F.col("error").isNotNull())
    assert errs.count() > 0  # corpus contains corrupt payloads by design
    assert errs.filter(F.col("kind") == "pdf").count() == 0


def test_pdf_docs_parse_and_validate(extracted):
    pdfs = extracted.filter(F.col("kind") == "pdf").cache()
    try:
        stmts = pdfs.filter(F.col("n_transactions") > 0)
        n = stmts.count()
        assert n > 50
        assert stmts.filter(F.col("valid")).count() == n  # statements are clean
        assert stmts.filter(F.col("metadata.valuta") == "IDR").count() == n
        assert stmts.filter(F.col("metadata.account_no") == "").count() == 0
        # two-column report docs: text extracted, honestly not statement-valid
        reports = pdfs.filter(F.col("txn_strategy") == "none")
        assert reports.count() > 0
        assert reports.filter(F.col("n_tokens") <= 0).count() == 0
        assert reports.filter(F.col("valid")).count() == 0
        assert stmts.count() + reports.count() == pdfs.count()
    finally:
        pdfs.unpersist()


def test_strategy_fallback_chain(extracted):
    # S2/P10: all three strategies fire on the corpus, tables take precedence
    pdfs = extracted.filter(F.col("kind") == "pdf").cache()
    try:
        strat = {r["txn_strategy"]: r["n"] for r in
                 pdfs.groupBy("txn_strategy").agg(F.count("*").alias("n")).collect()}
        assert strat.get("table", 0) > 5
        assert strat.get("column", 0) > 5
        assert strat.get("inline", 0) > 5
        assert set(strat) <= {"table", "column", "inline", "none"}
        # table rows preserve multi-word descriptions as one cell (the text
        # strategies can't see cell boundaries); inline rows can't
        tdocs = pdfs.filter(F.col("txn_strategy") == "table")
        multi = tdocs.filter(
            F.exists("transactions", lambda t: t["description"].contains(" "))
        )
        assert multi.count() > 0
        # table-strategy docs all carry the full date+time anchor in cell 0
        bad_date = tdocs.filter(
            ~F.forall("transactions",
                      lambda t: t["date"].rlike(r"^\d{2}/\d{2}/\d{2} \d{2}:\d{2}:\d{2}$"))
        )
        assert bad_date.count() == 0
    finally:
        pdfs.unpersist()


def test_relational_verify_matches_udf_verify(extracted):
    pdfs = extracted.filter(F.col("kind") == "pdf")
    rel = verify_turnover_plan(pdfs)
    joined = pdfs.select(
        "url", F.col("verification.status").alias("udf_status")
    ).join(rel, "url")
    assert joined.filter(F.col("udf_status") != F.col("status")).count() == 0
    statuses = {r["status"] for r in rel.select("status").distinct().collect()}
    assert "passed" in statuses


def test_transactions_explode_shape(extracted):
    txn = transactions_table(extracted)
    total = extracted.agg(F.sum("n_transactions")).collect()[0][0]
    assert txn.count() == total
    # seq is dense per url starting at 0
    mx = txn.groupBy("url").agg(F.max("seq").alias("m"), F.count("*").alias("c"))
    assert mx.filter(F.col("m") != F.col("c") - 1).count() == 0


def test_partition_id_stable_and_bounded(extracted):
    pids = extracted.select("partition_id").distinct().collect()
    assert all(0 <= r["partition_id"] < 64 for r in pids)
    # recomputing yields identical assignment (resume safety)
    again = extracted.select(
        "url",
        F.pmod(F.xxhash64("url"), F.lit(64)).cast("int").alias("pid2"),
    )
    j = extracted.select("url", "partition_id").join(again, "url")
    assert j.filter(F.col("partition_id") != F.col("pid2")).count() == 0


def test_parse_id_number_col_semantics(spark):
    rows = [("1.000.000,00", 1000000.0), ("123,45", 123.45), ("", 0.0),
            ("abc", 0.0), ("1,000,000.00", 0.0), ("100,000.00", 100.0)]
    df = spark.createDataFrame(rows, "v string, expected double")
    bad = df.filter(parse_id_number_col(F.col("v")) != F.col("expected"))
    assert bad.count() == 0


def test_verify_toggle_both_directions(spark, extracted):
    # S11 parity (reference env-matrix, tests/test_parsers.py:245-276):
    # verify=False nulls the verification struct and changes nothing else;
    # the module fixture (default verify=True) is the "on" direction
    on_pdfs = extracted.filter(F.col("kind") == "pdf")
    assert on_pdfs.filter(F.col("verification").isNull()).count() == 0
    pages = synth_pages_df(spark, 60, seed=SEED, num_partitions=2)
    off = extract_pages(pages, num_partitions=4, verify=False).cache()
    try:
        assert off.filter(F.col("verification").isNotNull()).count() == 0
        # everything else identical to the verified run over the same urls
        on_sub = extracted.select("url", "text", "n_transactions", "valid")
        off_sub = off.select("url", "text", "n_transactions", "valid")
        j = off_sub.join(on_sub.withColumnRenamed("text", "t2")
                         .withColumnRenamed("n_transactions", "n2")
                         .withColumnRenamed("valid", "v2"), "url")
        assert j.count() == 60
        assert j.filter(
            (F.col("text") != F.col("t2"))
            | (F.col("n_transactions") != F.col("n2"))
            | (F.col("valid") != F.col("v2"))
        ).count() == 0
    finally:
        off.unpersist()


def test_determinism_same_seed_same_output(spark, extracted):
    pages2 = synth_pages_df(spark, N, seed=SEED, num_partitions=2)  # different layout
    ext2 = extract_pages(pages2, num_partitions=4)
    a = extracted.select("url", "text", "n_transactions")
    b = ext2.select("url", "text", "n_transactions")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_extraction_scan_prunes_unused_columns(spark, tmp_path):
    # the 100 TB scan contract: extract_pages touches url/warc_ts/html
    # only, so the crawler-provided text/lang columns must be pruned OUT
    # of the parquet ReadSchema (reading them would be a ~2x IO tax at
    # scale for columns the walk never looks at)
    src = str(tmp_path / "pages")
    synth_pages_df(spark, 50, seed=3, num_partitions=2).write.parquet(src)
    plan = (
        extract_pages(spark.read.parquet(src), num_partitions=4)
        ._jdf.queryExecution().executedPlan().toString()
    )
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema, plan
    assert "text" not in read_schema[0] and "lang" not in read_schema[0], read_schema[0]
    assert "html" in read_schema[0] and "url" in read_schema[0], read_schema[0]
