"""b_pdf_parser_spark — PySpark-native document-content extraction engine.

From-scratch rebuild (Spark-first, not a port) of the capabilities of the
reference single-machine pipeline ``rager306/b-pdf-parser``: PDF object-model
text extraction, HTML boilerplate stripping, bank-statement field extraction,
turnover verification, batch metrics — re-expressed as DataFrame plans +
Arrow batch kernels (``operators.arrow_kernel`` over ``mapInArrow``), plus
the web-scale operator pack (dedup, similarity search, text analysis) a
100 TB training-data pipeline needs.
"""

__version__ = "0.1.0"


def ship_package(spark) -> None:
    """Make this package importable inside executor Python workers.

    The production deployment is ``spark-submit --py-files
    b_pdf_parser_spark.zip`` (north_rule); for interactive/driver-managed
    sessions this helper builds the same zip on the fly and registers it
    with ``addPyFile`` — idempotent per SparkContext.
    """
    import os
    import tempfile
    import zipfile
    from pathlib import Path

    sc = spark.sparkContext
    marker = "_b_pdf_parser_spark_shipped"
    if getattr(sc, marker, False):
        return
    pkgdir = Path(__file__).resolve().parent
    zpath = Path(tempfile.gettempdir()) / f"b_pdf_parser_spark_{os.getpid()}.zip"
    if not zpath.exists():
        with zipfile.ZipFile(zpath, "w") as z:
            for p in sorted(pkgdir.rglob("*.py")):
                z.write(p, f"b_pdf_parser_spark/{p.relative_to(pkgdir)}")
    sc.addPyFile(str(zpath))
    setattr(sc, marker, True)
