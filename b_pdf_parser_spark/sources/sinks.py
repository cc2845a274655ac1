"""CSV sink contracts (S7–S9) — executor-side distributed writes.

The reference writes per-file CSVs from the driver process
(batch.py:374-377, its scaling ceiling — SURVEY §7.5); here the same output
contracts are DataFrame writes that scale with the cluster:

* metadata  — ``Field;Value`` long form, numbers normalized (utils.py:428-444)
* transactions — ``Date;Description;User;Debit;Credit;Balance``
  (utils.py:447-481)
* metrics  — the per-partition manifest table (benchmark.py:254-289 analog)

All ';'-delimited with headers, numbers through the native P11 expression.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..fields import METADATA_KEYS
from ..functions.numbers import normalize_number_col

__all__ = [
    "metadata_kv_table",
    "transactions_csv_table",
    "write_jsonl",
    "write_bucketed",
    "bucketed_join",
]


def metadata_kv_table(extracted: DataFrame) -> DataFrame:
    """url → (Field, Value) rows in the reference's metadata CSV shape."""
    pairs = []
    for k in METADATA_KEYS:
        pairs.append(F.lit(k))
        pairs.append(F.col(f"metadata.{k}"))
    stacked = extracted.select(
        "url",
        F.expr(
            "stack({n}, {args}) as (Field, RawValue)".format(
                n=len(METADATA_KEYS),
                args=", ".join(
                    f"'{k}', metadata.{k}" for k in METADATA_KEYS
                ),
            )
        ),
    )
    return stacked.select(
        "url",
        "Field",
        F.when(
            F.col("RawValue").isNull() | (F.col("RawValue") == ""), F.lit("")
        ).otherwise(normalize_number_col(F.col("RawValue"))).alias("Value"),
    )


def transactions_csv_table(txns: DataFrame) -> DataFrame:
    """Exploded transactions → the 6-column CSV contract (numbers normalized)."""
    return txns.select(
        "url",
        "seq",
        F.col("date").alias("Date"),
        F.col("description").alias("Description"),
        F.col("user").alias("User"),
        normalize_number_col(F.col("debit")).alias("Debit"),
        normalize_number_col(F.col("credit")).alias("Credit"),
        normalize_number_col(F.col("balance")).alias("Balance"),
    )


def write_jsonl(df: DataFrame, path: str, *, order_by: str = "doc_id",
                shards: int = 0) -> None:
    """Gzipped JSON-Lines export — the interchange format LLM training
    stacks ingest. Uses Spark's native JSON writer (whole-stage codegen
    serialization, no Python in the loop); ``shards`` > 0 repartitions by
    hash of the order key so shard membership is partitioning-independent
    and stable across cluster sizes; within-shard order follows
    ``sortWithinPartitions`` for reproducible files."""
    out = df
    if shards > 0:
        out = df.repartition(shards, F.crc32(F.col(order_by).cast("string")))
    (
        out.sortWithinPartitions(order_by)
        .write.mode("overwrite")
        .option("compression", "gzip")
        .json(path)
    )


def write_bucketed(
    df: DataFrame, table: str, path: str, key: str, buckets: int = 16
) -> None:
    """Persist ``df`` hash-bucketed (and per-file sorted) on ``key``.

    This is the co-location primitive for the repeatedly-joined tables of a
    10^12-row corpus (url→doc joins, dedup-key joins): every table bucketed
    on the same key with the same bucket count joins with **zero shuffle
    exchanges** — the planner reads matching buckets side by side and, with
    ``sortBy``, skips the sort too. Paying one write-time shuffle once
    instead of one per downstream join is the standard Spark answer to
    "this join is the bottleneck at scale".

    ``tests/test_bucketed_join.py`` asserts the property on the physical
    plan (no ``Exchange`` operator) rather than trusting the API. Bucketing
    metadata lives in the session catalog, so this uses ``saveAsTable``
    with an explicit ``path`` (external table); plain ``.parquet(path)``
    writes cannot record bucket info.
    """
    (
        df.write.mode("overwrite")
        .bucketBy(buckets, key)
        .sortBy(key)
        .option("path", path)
        .saveAsTable(table)
    )


def bucketed_join(spark, left_table: str, right_table: str, key: str) -> DataFrame:
    """Inner-join two same-bucketed catalog tables on their bucket key."""
    return spark.table(left_table).join(spark.table(right_table), key)

