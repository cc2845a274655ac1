"""Operator package. Shared plan helpers live here."""

from __future__ import annotations

from typing import Callable, Iterator, Union

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType

from .. import ship_package

__all__ = ["spread", "arrow_kernel", "arrow_batch"]


def spread(df: DataFrame) -> DataFrame:
    """Round-robin the frame up to the session's parallelism when its scan
    is narrower — scale-adaptively (the width derives from the cluster,
    never a constant).

    Why: the test tables are single-row-group parquet files, and a row
    group is indivisible — ``maxPartitionBytes`` byte-splits notwith-
    standing, ONE task reads all rows, so every map-side stage above the
    scan (Arrow batch kernels, explodes, partial aggregations) ran
    serially while the rest of the cluster idled. A few hundred KB of
    shuffle buys full-width compute. On a production layout (many files /
    row groups ≥ cluster width) the partition count already meets the
    parallelism and this is a no-op — no Exchange is added.

    Determinism: round-robin repartition is retry-safe (Spark sorts
    before repartitioning, SPARK-23207) and every consumer here is
    row-order-independent (aggregations / joins / per-row maps whose
    outputs are hashed order-insensitively or re-sorted downstream).
    """
    if df.isStreaming:  # no static partition count to inspect
        return df
    p = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= p:
        return df
    return df.repartition(p)


def _column(values, type_: pa.DataType) -> pa.Array:
    if isinstance(values, pa.Array):
        return values if values.type == type_ else values.cast(type_)
    return pa.array(values, type=type_)


def arrow_batch(value, schema: pa.Schema) -> pa.RecordBatch:
    """One kernel output → a ``pa.RecordBatch`` of exactly ``schema``'s
    columns and types. ``value`` is a list of row dicts (a missing key is
    null), a dict of columns, or a record batch; columns are matched by
    name, extra ones are dropped. Columns may be Python lists, numpy
    arrays or Arrow arrays — pass timestamp columns through as the input
    Arrow arrays, so an instant never round-trips through a Python
    datetime. Python values convert as Arrow converts them: None is null,
    a float NaN stays NaN, and no value is widened past its declared type."""
    if isinstance(value, list):
        return pa.RecordBatch.from_pylist(value, schema=schema)
    if isinstance(value, pa.RecordBatch):
        value = dict(zip(value.schema.names, value.columns))
    return pa.RecordBatch.from_arrays(
        [_column(value[f.name], f.type) for f in schema], schema=schema
    )


def arrow_kernel(
    df: DataFrame,
    fn: Callable[[Iterator[pa.RecordBatch]], Iterator],
    schema: Union[str, StructType],
) -> DataFrame:
    """The one way to run a Python batch kernel over a frame:
    ``DataFrame.mapInArrow`` with the interchange decisions made here.

    ``fn`` takes the partition's iterator of input ``pa.RecordBatch`` (so
    per-partition state and per-worker setup still work) and yields
    anything :func:`arrow_batch` accepts; each yield becomes one batch of
    exactly the declared types (``schema`` is DDL or a ``StructType``),
    and empty ones are dropped. Kernels read a column as
    ``b[name].tolist()``, or ``.to_numpy()`` for null-free numeric work —
    a pandas frame accepts the same calls, which is what lets a kernel be
    driven outside Spark.

    This is where the package ships itself: the first kernel built on a
    SparkContext registers the package zip (:func:`ship_package`), so
    executors can import the kernel's code whatever ran before it and
    whatever directory the workers start in. Callers never ship."""
    ship_package(df.sparkSession)
    st = schema if isinstance(schema, StructType) else DataType.fromDDL(schema)
    arrow_schema = to_arrow_schema(st)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for value in fn(batches):
            out = arrow_batch(value, arrow_schema)
            if out.num_rows:
                yield out

    return df.mapInArrow(run, st)
