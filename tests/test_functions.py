"""The native number expression (P12) must equal its scalar Python twin."""

import pyspark.sql.functions as F

from b_pdf_parser_spark import fields
from b_pdf_parser_spark.functions.numbers import parse_id_number_col

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
