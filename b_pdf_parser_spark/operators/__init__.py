"""Operator package. Shared plan helpers live here.

How a plan is built: one Py4J crossing per expression. PySpark's
DataFrame call-site capture (``spark.python.sql.dataFrameDebugging.enabled``,
a static conf that is on by default and belongs to the caller's session)
wraps ``F.col`` and every ``Column`` method in a call-site capture of about
13 Py4J commands, so a query spelled as a chain of Column calls spends more
time being built on the driver than its job takes to run. So:

* a computed value, filter or join condition is one SQL expression
  (``selectExpr``, ``F.expr``, or SQL text in ``agg``), named with ``AS``
  in the text or by ``withColumn(s)``;
* an intermediate value used more than once is named once, as a column of
  an earlier projection, and referenced by that name; the same ``Column``
  object is never substituted into several places of a tree;
* a bare column reference is its name (a string), and a DataFrame alias
  (``df.alias("a")``) stays in the DataFrame API;
* a caller-supplied column name inside SQL text goes through
  :func:`sql_name`.
"""

from __future__ import annotations

from typing import Callable, Iterator, Union

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType

from .. import ship_package

__all__ = ["sql_name", "spread", "arrow_kernel", "arrow_batch"]


def sql_name(name: str) -> str:
    """``name`` as a quoted SQL identifier, for a caller-supplied column
    name inside SQL text: the whole string is one column name (a dot does
    not reach into a struct), and a backtick in it is doubled."""
    return "`" + name.replace("`", "``") + "`"


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

    It pays only under a heavy kernel: the near-dup signature frame
    (``dedup._doc_signature_frame``; ``near_dup_pairs`` 0.56 s a query
    with it against 0.72 s without). Winnowing, SimHash and the two vector
    quantizers ran faster without it, so they read their scan as it is.

    Determinism: round-robin repartition is retry-safe (Spark sorts
    before repartitioning, SPARK-23207) and every consumer here is
    row-order-independent (aggregations / joins / per-row maps whose
    outputs are hashed order-insensitively or re-sorted downstream).
    """
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
