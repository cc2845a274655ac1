import sys
from contextlib import contextmanager
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

FIXTURES = Path(__file__).resolve().parent / "fixtures"


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .appName("b_pdf_parser_spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        # the worker transport of the job sessions (jobs/extract.py,
        # jobs/parse_dir.py), so the tests run the Python kernels over it
        .config("spark.python.unix.domain.socket.enabled", "true")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def fixtures_dir():
    return FIXTURES


@contextmanager
def session_time_zone(spark, tz: str):
    """Run the block under ``spark.sql.session.timeZone=tz`` on the shared
    session, restoring the previous value after."""
    key = "spark.sql.session.timeZone"
    prev = spark.conf.get(key)
    spark.conf.set(key, tz)
    try:
        yield
    finally:
        spark.conf.set(key, prev)
