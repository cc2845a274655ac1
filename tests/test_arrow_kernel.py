"""The ``operators.arrow_kernel`` contract: each kernel output becomes one
Arrow batch of exactly the declared types (widths included), None is null
for every column type the kernels emit, empty outputs are dropped, and a
dict of columns and a list of row dicts build the same batch."""

import pyarrow as pa
import pytest

from b_pdf_parser_spark.operators import arrow_kernel

CASES = {
    # name: (DDL type, two values — the second always None, Arrow type)
    "int": ("int", [7, None], pa.int32()),
    "bigint": ("bigint", [2**40, None], pa.int64()),
    "string": ("string", ["a", None], pa.string()),
    "binary": ("binary", [b"\x00\xff", None], pa.binary()),
    "double": ("double", [0.5, None], pa.float64()),
    "boolean": ("boolean", [True, None], pa.bool_()),
    "array": ("array<string>", [["x", None], None], pa.list_(pa.string())),
    "struct": (
        "struct<a:int,b:string>",
        [{"a": 1, "b": None}, None],
        pa.struct([("a", pa.int32()), ("b", pa.string())]),
    ),
}


class _Capture:
    """Stands in for a DataFrame: keeps the ``mapInArrow`` body so the
    batches the helper emits can be inspected without a Spark job. It
    carries the session the helper ships the package on."""

    def __init__(self, spark):
        self.sparkSession = spark

    def mapInArrow(self, fn, schema):
        self.fn = fn
        return self


def _emitted(spark, ddl: str, outputs: list) -> list:
    return list(arrow_kernel(_Capture(spark), lambda _: iter(outputs), ddl).fn(iter([])))


@pytest.mark.parametrize("name", sorted(CASES))
def test_arrow_kernel_contract(spark, name):
    ddl, values, arrow_type = CASES[name]
    schema = f"k long, v {ddl}"
    columns = {"k": [1, 2], "v": values}
    rows = [{"k": 1, "v": values[0]}, {"k": 2}]  # a missing key is null
    empties = [[], {"k": [], "v": []}]

    by_columns = _emitted(spark, schema, empties + [columns])
    by_rows = _emitted(spark, schema, [rows] + empties)
    assert len(by_columns) == len(by_rows) == 1  # empty outputs dropped
    assert by_columns[0].equals(by_rows[0])
    assert by_columns[0].schema.field("v").type == arrow_type
    assert by_columns[0]["v"].null_count == 1

    if name == "int":  # the declared width is enforced, never widened
        with pytest.raises(pa.ArrowInvalid):
            _emitted(spark, schema, [{"k": [1], "v": [2**40]}])

    got = arrow_kernel(
        spark.range(0, 1, 1, 1), lambda bs: (columns for _ in bs), schema
    ).orderBy("k").collect()
    expect = values[0]
    if name == "struct":
        expect = (1, None)
    assert [r["v"] for r in got] == [expect, None]
