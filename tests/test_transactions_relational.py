"""The pure-relational transaction derivation (window sessionization, P8
option b) must equal the kernel's cursor walk on the column-layout corpus.

:func:`transactions_relational` is the reference the kernel's column
strategy (``fields.extract_transactions`` inside the Arrow batch) is
compared against. It re-derives the same result for clean column-layout
documents with DataFrame operators only, so it shares no code with the
kernel it checks:

    posexplode(split(text, '\\n'))               one row per line
    → anchor = line rlike date-time pattern      (P6)
    → txn_id = sum(anchor) over (url, pos)       running window (W1)
    → groupBy(url, txn_id): sort_array(collect)  one array per transaction
    → field assignment by classifier positions   (P7 predicates, W3 ranks)

Cursor-walk semantics reproduced: description lines run until the first
numeric-ish line; that head line selects the branch — 6-8 digit user id
(debit/credit/balance follow), decimal amount (no user; head is the debit),
anything else is out of the clean grammar and dropped here (the kernel's
degenerate-input fallbacks are its own job). The Python-free plan test
keeps the reference independent of the kernel."""

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from b_pdf_parser_spark.operators.extract import extract_pages
from b_pdf_parser_spark.plans.verify import transactions_table
from b_pdf_parser_spark.sources.pages import synth_pages_df

COLS = ["url", "seq", "date", "description", "user", "debit", "credit", "balance"]

_ANCHOR = r"^\d{2}/\d{2}/\d{2}\s+\d{2}:\d{2}:\d{2}"
_NUMERICISH = r"^[\d,.]+$"
_USERID = r"^\d{6,8}$"
_AMOUNT = r"^[\d,]+\.\d{2}$"


def transactions_relational(extracted: DataFrame, text_col: str = "text") -> DataFrame:
    """url → (seq, date, description, user, debit, credit, balance) rows."""
    lines = (
        extracted.select(
            "url", F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "raw")
        )
        .select("url", "pos", F.trim("raw").alias("line"))
        .filter(F.col("line") != "")
    )

    anchor = F.col("line").rlike(_ANCHOR)
    run = Window.partitionBy("url").orderBy("pos").rowsBetween(Window.unboundedPreceding, 0)
    grouped = lines.select(
        "url", "pos", "line", F.sum(anchor.cast("int")).over(run).alias("txn_id")
    ).filter(F.col("txn_id") > 0)

    txn = grouped.groupBy("url", "txn_id").agg(
        F.array_sort(F.collect_list(F.struct("pos", "line"))).alias("ls")
    )

    # first numeric-ish line after the date = the description terminator
    # (index-aware transform + get(): ANSI-safe, no OOB throws)
    numericish_sql = _NUMERICISH.replace("\\", "\\\\")  # SQL literal escaping
    txn = txn.withColumn(
        "head_idx",
        F.expr(
            "array_min(transform(filter("
            "  transform(ls, (x, i) -> named_struct('i', i, 'l', x.line)),"
            f"  s -> s.i >= 1 AND s.l rlike '{numericish_sql}'), s -> s.i))"
        ),
    ).where(F.col("head_idx").isNotNull())

    head = F.expr("get(ls, head_idx).line")
    user_branch = head.rlike(_USERID)
    amount_branch = ~user_branch & head.rlike(_AMOUNT)

    def field(user_off: int, amount_off: int):
        return (
            F.when(user_branch, F.expr(f"get(ls, head_idx + {user_off}).line"))
            .when(amount_branch, F.expr(f"get(ls, head_idx + {amount_off}).line"))
            .otherwise(F.lit(None))
        )

    return (
        txn.where(user_branch | amount_branch)
        .select(
            "url",
            (F.col("txn_id") - 1).cast("int").alias("seq"),
            F.expr("get(ls, 0).line").alias("date"),
            F.when(
                F.col("head_idx") > 1,
                F.expr("array_join(transform(slice(ls, 2, head_idx - 1), x -> x.line), ' ')"),
            ).otherwise(F.lit("")).alias("description"),
            F.when(user_branch, head).otherwise(F.lit("")).alias("user"),
            F.coalesce(
                F.when(user_branch, F.expr("get(ls, head_idx + 1).line"))
                .when(amount_branch, head),
                F.lit(""),
            ).alias("debit"),
            F.coalesce(field(2, 1), F.lit("")).alias("credit"),
            F.coalesce(field(3, 2), F.lit("")).alias("balance"),
        )
    )


def test_relational_equals_udf_walk(spark):
    ext = extract_pages(
        synth_pages_df(spark, 250, seed=55, num_partitions=4), num_partitions=8
    ).cache()
    col_docs = ext.filter(F.col("txn_strategy") == "column").localCheckpoint()
    ext.unpersist()
    assert col_docs.count() > 50
    a = transactions_table(col_docs).select(COLS)
    b = transactions_relational(col_docs).select(COLS)
    assert a.count() == b.count() > 500
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_relational_plan_is_python_free(spark):
    # the reference must share no code with the kernel it checks: over
    # checkpointed plain text rows its plan holds no Python operator at all
    pages = synth_pages_df(spark, 10, seed=1, num_partitions=2)
    docs = pages.select("url", F.coalesce("text", F.lit("")).alias("text")).localCheckpoint()
    plan = transactions_relational(docs)._jdf.queryExecution().executedPlan().toString()
    for op in ("EvalPython", "MapInArrow", "MapInPandas", "PythonUDF"):
        assert op not in plan, plan  # window+agg only