"""Structured-Streaming lift of the extraction stage (SURVEY §2.8).

The reference is batch-only; the extraction operator is stateless, so
lifting it to a stream is exactly the ``readStream → mapInArrow →
writeStream`` shape the SURVEY predicts. No watermarks or stateful
operators are required — per-document extraction has no cross-row state.

``extract_stream`` applies the same Arrow-batched walk to a streaming
DataFrame; ``run_file_stream`` tails a directory of pages parquet and
appends extracted output, with checkpointing handled by the streaming
engine (complementing the batch job's manifest for the batch path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators import arrow_kernel
from ..operators.extract import EXTRACTED_SCHEMA, extract_batch, partition_id_col

__all__ = ["extract_stream", "run_file_stream"]


def extract_stream(pages_stream: DataFrame, checkpoint_partitions: int = 64) -> DataFrame:
    """Streaming variant of operators.extract.extract_pages (no repartition:
    micro-batch sizing is the streaming engine's job)."""
    tagged = pages_stream.select(
        "url",
        "warc_ts",
        "html",
        partition_id_col(checkpoint_partitions).alias("partition_id"),
    )
    return arrow_kernel(tagged, extract_batch, EXTRACTED_SCHEMA)


def run_file_stream(
    spark,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    *,
    available_now: bool = True,
):
    """Tail ``input_dir`` (pages parquet), append extracted rows to
    ``output_dir``. ``available_now=True`` drains what exists and stops —
    the testable batch-equivalent trigger."""
    pages = (
        spark.readStream.schema(
            "url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING"
        ).parquet(input_dir)
    )
    out = extract_stream(pages)
    writer = (
        out.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()
