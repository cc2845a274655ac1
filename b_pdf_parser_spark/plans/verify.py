"""Relational turnover verification — joins J1 + aggregates A1–A3 as a pure
DataFrame plan (no UDF anywhere).

This is the Spark-native re-derivation of the reference's per-document
``verify_turnover`` (utils.py:686-775): explode transactions, parse amounts
with native expressions (P12: utils.py:527-548 semantics via
``try_cast`` + ``coalesce`` → silent-0.0), hash-aggregate per url (partial
aggregation map-side, Catalyst), left-join back to the per-doc summary
fields, tolerance-compare with ``when`` chains. The per-doc UDF result
(operators/extract.py) is the fixture-exact fast path; this plan is the
cross-checkable relational form used by queries()/oracle_sql().

Scale notes: the aggregate shuffles on url (already the partition key of the
extraction output → AQE can often reuse/coalesce); both sides of the join
are keyed on url so it's a co-partitioned shuffled hash join; no broadcast
needed because both sides are O(corpus).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..functions.numbers import parse_id_number_col

__all__ = ["transactions_table", "verify_turnover_plan"]


def transactions_table(extracted: DataFrame) -> DataFrame:
    """UDTF-shaped explode: one output row per transaction (S8 sink shape)."""
    return extracted.select(
        "url", F.posexplode("transactions").alias("seq", "t")
    ).select(
        "url",
        "seq",
        F.col("t.date").alias("date"),
        F.col("t.description").alias("description"),
        F.col("t.user").alias("user"),
        F.col("t.debit").alias("debit"),
        F.col("t.credit").alias("credit"),
        F.col("t.balance").alias("balance"),
    )


def verify_turnover_plan(extracted: DataFrame, tolerance: float = 0.01) -> DataFrame:
    """url → relational verification verdict (status/match flags/discrepancies)."""
    sums = (
        transactions_table(extracted)
        .groupBy("url")
        .agg(
            F.sum(parse_id_number_col(F.col("debit"))).alias("calc_debit"),
            F.sum(parse_id_number_col(F.col("credit"))).alias("calc_credit"),
        )
    )
    docs = extracted.select(
        "url",
        F.col("metadata.total_debit").alias("ext_debit_raw"),
        F.col("metadata.total_credit").alias("ext_credit_raw"),
    )
    j = docs.join(sums, "url", "left").select(
        "url",
        "ext_debit_raw",
        "ext_credit_raw",
        F.coalesce("calc_debit", F.lit(0.0)).alias("calc_debit"),
        F.coalesce("calc_credit", F.lit(0.0)).alias("calc_credit"),
    )
    has_debit = F.col("ext_debit_raw") != ""
    has_credit = F.col("ext_credit_raw") != ""
    debit_disc = F.when(
        has_debit, F.abs(parse_id_number_col(F.col("ext_debit_raw")) - F.col("calc_debit"))
    ).otherwise(F.lit(0.0))
    credit_disc = F.when(
        has_credit, F.abs(parse_id_number_col(F.col("ext_credit_raw")) - F.col("calc_credit"))
    ).otherwise(F.lit(0.0))
    debit_match = has_debit & (debit_disc <= F.lit(tolerance))
    credit_match = has_credit & (credit_disc <= F.lit(tolerance))
    status = (
        F.when(~has_debit & ~has_credit, F.lit("not_available"))
        .when(debit_match & credit_match, F.lit("passed"))
        .otherwise(F.lit("failed"))
    )
    return j.select(
        "url",
        debit_match.alias("debit_match"),
        credit_match.alias("credit_match"),
        F.round(debit_disc, 2).alias("debit_discrepancy"),
        F.round(credit_disc, 2).alias("credit_discrepancy"),
        "calc_debit",
        "calc_credit",
        status.alias("status"),
        (status == "passed").alias("passed"),
    )
