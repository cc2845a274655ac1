"""b_pdf_parser_spark — PySpark-native document-content extraction engine.

From-scratch rebuild (Spark-first, not a port) of the capabilities of the
reference single-machine pipeline ``rager306/b-pdf-parser``: PDF object-model
text extraction, HTML boilerplate stripping, bank-statement field extraction,
turnover verification, batch metrics — re-expressed as DataFrame plans +
Arrow batch kernels (``operators.arrow_kernel`` over ``mapInArrow``), plus
the web-scale operator pack (dedup, similarity search, text analysis) a
100 TB training-data pipeline needs.

Importing the package also installs ``_stat_check_zip_caches`` (below), which
stops PySpark workers from re-parsing every zip on ``sys.path`` before each
task.
"""

__version__ = "0.1.0"


def _stat_check_zip_caches() -> None:
    """Make ``zipimporter.invalidate_caches`` skip archives that did not change.

    Before every task a PySpark worker calls ``importlib.invalidate_caches()``
    (``pyspark.worker_util.setup_spark_files``). The eager zipimport of
    CPython 3.10–3.12 answers it by re-parsing the central directory of every
    zipimporter in ``sys.path_importer_cache``: ``pyspark.zip``, the py4j zip,
    the spark-core jar and their sub-package paths, ~26k entries and ~90 ms
    per task. The replacement re-reads an archive only when its
    ``(st_mtime_ns, st_size, st_ino)`` differs from the last read; otherwise
    it rebinds the importer to the shared ``_zip_directory_cache`` entry. An
    archive it cannot stat or never read goes to the stock method, so a
    missing or rewritten archive behaves as on stock CPython. The lazy
    zipimport of 3.13+ (``_get_files``) is left alone; so is an already
    installed hook.
    """
    import os
    import zipimport

    cls = zipimport.zipimporter
    stock = cls.invalidate_caches
    if hasattr(cls, "_get_files") or hasattr(stock, "__wrapped__"):
        return
    read_at = {}  # archive -> stat signature taken just before its last read

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return stock(self)
        sig = (st.st_mtime_ns, st.st_size, st.st_ino)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and read_at.get(self.archive) == sig:
            self._files = files
            return
        stock(self)
        read_at[self.archive] = sig

    invalidate_caches.__wrapped__ = stock
    cls.invalidate_caches = invalidate_caches


_stat_check_zip_caches()


def ship_package(spark) -> None:
    """Make this package importable inside executor Python workers.

    The production deployment is ``spark-submit --py-files
    b_pdf_parser_spark.zip`` (north_rule); for interactive/driver-managed
    sessions this helper builds the same zip on the fly and registers it
    with ``addPyFile`` — idempotent per SparkContext, so a repeat call costs
    one ``getattr``. The kernel boundary calls it, not its callers: every
    plan node that hands package code to executors ships on its input frame
    (``operators.arrow_kernel``; bloom's ``applyInArrow`` merges, the BPE
    ``arrow_udf``), so the first kernel of a session ships whatever query
    or job builds it. The zip is named by a digest of the package sources
    and written under a temporary name, then renamed into place, so a zip
    left by another process or another version of the sources is never
    shipped.
    """
    import hashlib
    import os
    import tempfile
    import zipfile
    from pathlib import Path

    sc = spark.sparkContext
    marker = "_b_pdf_parser_spark_shipped"
    if getattr(sc, marker, False):
        return
    pkgdir = Path(__file__).resolve().parent
    sources = [(p.relative_to(pkgdir).as_posix(), p.read_bytes())
               for p in sorted(pkgdir.rglob("*.py"))]
    digest = hashlib.sha256()
    for rel, data in sources:
        digest.update(b"%s\0%d\0" % (rel.encode(), len(data)))
        digest.update(data)
    tmpdir = tempfile.gettempdir()
    zpath = Path(tmpdir) / f"b_pdf_parser_spark_{digest.hexdigest()[:20]}.zip"
    if not zpath.exists():
        fd, part = tempfile.mkstemp(suffix=".zip.part", dir=tmpdir)
        try:
            with os.fdopen(fd, "wb") as f, zipfile.ZipFile(f, "w") as z:
                for rel, data in sources:
                    z.writestr(f"b_pdf_parser_spark/{rel}", data)
            os.chmod(part, 0o644)
            os.replace(part, zpath)
        except BaseException:
            os.unlink(part)
            raise
    sc.addPyFile(str(zpath))
    setattr(sc, marker, True)
