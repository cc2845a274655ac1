"""What importing the package does to the process, and how it ships itself.

``_stat_check_zip_caches`` keeps ``zipimporter.invalidate_caches`` from
re-parsing unchanged archives (PySpark workers call it before every task);
``ship_package`` registers a zip that always holds the current sources,
and ``arrow_kernel`` calls it, so the first kernel of a session ships."""

import importlib
import os
import subprocess
import sys
import tempfile
import types
import uuid
import zipfile
import zipimport
from pathlib import Path

import pytest

import b_pdf_parser_spark
from b_pdf_parser_spark.operators import arrow_kernel

PKGDIR = Path(b_pdf_parser_spark.__file__).resolve().parent
eager_only = pytest.mark.skipif(hasattr(zipimport.zipimporter, "_get_files"),
                                reason="lazy zipimport: no hook is installed")


def _write_zip(path: Path, names) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name in names:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip holding module ``<stem>_a`` on ``sys.path``, already imported
    (so its zipimporter sits in ``sys.path_importer_cache``), plus the list
    of archives ``zipimport._read_directory`` reads from then on."""
    stem = f"zipcache_{uuid.uuid4().hex}"
    path = tmp_path / "mods.zip"
    _write_zip(path, [f"{stem}_a"])
    monkeypatch.syspath_prepend(str(path))
    assert importlib.import_module(f"{stem}_a").NAME == f"{stem}_a"
    importer = sys.path_importer_cache[str(path)]
    assert isinstance(importer, zipimport.zipimporter)
    reads = []
    stock_read = zipimport._read_directory

    def counting_read(archive_path):
        reads.append(archive_path)
        return stock_read(archive_path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    yield types.SimpleNamespace(
        path=path, stem=stem, importer=importer, reads=reads)
    for name in (f"{stem}_a", f"{stem}_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(str(path), None)
    zipimport._zip_directory_cache.pop(str(path), None)


@eager_only
def test_unchanged_archive_is_not_reread(archive):
    archive.importer.invalidate_caches()  # the first call may read
    archive.reads.clear()
    archive.importer.invalidate_caches()
    archive.importer.invalidate_caches()
    assert archive.reads == []
    assert archive.importer._files is zipimport._zip_directory_cache[str(archive.path)]
    assert f"{archive.stem}_a.py" in archive.importer._files


def test_rewritten_archive_is_reread(archive):
    archive.importer.invalidate_caches()
    archive.reads.clear()
    _write_zip(archive.path, [f"{archive.stem}_a", f"{archive.stem}_b"])
    importlib.invalidate_caches()
    assert importlib.import_module(f"{archive.stem}_b").NAME == f"{archive.stem}_b"
    assert archive.reads.count(str(archive.path)) == 1


@eager_only
def test_deleted_archive_empties_the_listing_like_stock(archive):
    archive.importer.invalidate_caches()
    archive.path.unlink()
    archive.importer.invalidate_caches()  # raises nothing, as stock does
    assert archive.importer._files == {}
    assert str(archive.path) not in zipimport._zip_directory_cache


@eager_only
def test_reload_does_not_stack_wrappers(monkeypatch):
    # addPyFile (any earlier ship_package) puts a package zip on sys.path;
    # reload from the sources, or later tests would run the zip's copy
    monkeypatch.syspath_prepend(str(PKGDIR.parent))
    installed = zipimport.zipimporter.invalidate_caches
    importlib.reload(b_pdf_parser_spark)
    assert Path(b_pdf_parser_spark.__file__).resolve().parent == PKGDIR
    assert zipimport.zipimporter.invalidate_caches is installed
    assert not hasattr(installed.__wrapped__, "__wrapped__")


def test_lazy_zipimport_is_left_alone(monkeypatch):
    class Lazy:
        def _get_files(self):
            return {}

        def invalidate_caches(self):
            pass

    class Eager:
        def invalidate_caches(self):
            pass

    lazy_stock, eager_stock = Lazy.invalidate_caches, Eager.invalidate_caches
    monkeypatch.setattr(zipimport, "zipimporter", Lazy)
    b_pdf_parser_spark._stat_check_zip_caches()
    assert Lazy.invalidate_caches is lazy_stock
    monkeypatch.setattr(zipimport, "zipimporter", Eager)
    b_pdf_parser_spark._stat_check_zip_caches()
    assert Eager.invalidate_caches.__wrapped__ is eager_stock


def test_workers_do_not_reread_archives_between_tasks(spark):
    """Every task of an ``arrow_kernel`` job: a second back-to-back
    ``importlib.invalidate_caches()`` (the call PySpark makes before each
    task) re-reads no archive."""

    def probe(batches):
        import importlib as il
        import sys as s
        import zipimport as zi

        for _ in batches:
            pass
        importers = sum(isinstance(f, zi.zipimporter)
                        for f in s.path_importer_cache.values())
        il.invalidate_caches()
        reads, stock_read = [], zi._read_directory
        zi._read_directory = lambda p: reads.append(p) or stock_read(p)
        try:
            il.invalidate_caches()
        finally:
            zi._read_directory = stock_read
        yield {"importers": [importers], "rereads": [len(reads)]}

    tasks = 2 * spark.sparkContext.defaultParallelism
    rows = arrow_kernel(spark.range(0, tasks, 1, tasks), probe,
                        "importers int, rereads int").collect()
    assert len(rows) == tasks
    if not any(r["importers"] for r in rows):
        pytest.skip("the Python workers import nothing from a zip archive")
    assert [r["rereads"] for r in rows] == [0] * tasks


def test_ship_package_ships_the_current_sources(monkeypatch, tmp_path):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    stale = tmp_path / f"b_pdf_parser_spark_{os.getpid()}.zip"
    with zipfile.ZipFile(stale, "w") as z:  # a zip left under the old pid name
        z.writestr("b_pdf_parser_spark/__init__.py", "STALE = True\n")
    shipped = []
    sc = types.SimpleNamespace(addPyFile=shipped.append)
    b_pdf_parser_spark.ship_package(types.SimpleNamespace(sparkContext=sc))
    b_pdf_parser_spark.ship_package(types.SimpleNamespace(sparkContext=sc))
    assert len(shipped) == 1  # idempotent per SparkContext
    want = {f"b_pdf_parser_spark/{p.relative_to(PKGDIR).as_posix()}": p.read_bytes()
            for p in PKGDIR.rglob("*.py")}
    with zipfile.ZipFile(shipped[0]) as z:
        assert {n: z.read(n) for n in z.namelist()} == want
    assert not list(tmp_path.glob("*.part"))


_FIRST_QUERY = """
import sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[2]")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.enabled", "false").getOrCreate())
import __spark_entry__ as entry
entry.queries()[sys.argv[2]](spark, sys.argv[3]).toPandas().to_parquet(sys.argv[4])
spark.stop()
"""


@pytest.mark.parametrize("name", ["near_dup_pairs", "langid"])
def test_first_kernel_ships_in_a_fresh_session(name, tmp_path):
    """A registered query run first in a fresh session, with the workers
    started outside the repo and the repo on the driver's ``sys.path``
    only, still imports the package on executors and matches its oracle:
    no caller has to ship before the first kernel."""
    import duckdb
    import pandas as pd
    from test_entry_oracle import ORACLES, SF_DIR, TABLES, _rows

    repo = PKGDIR.parent
    got_path = tmp_path / "got.parquet"
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYTHONPATH", "PYSPARK_GATEWAY_PORT", "PYSPARK_GATEWAY_SECRET")}
    proc = subprocess.run(
        [sys.executable, "-c", _FIRST_QUERY, str(repo), name, SF_DIR, str(got_path)],
        cwd=tmp_path, env=env, timeout=300, capture_output=True, text=True,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    exp = con.execute(ORACLES[name]).df()
    con.close()
    exp.columns = [c.lower() for c in exp.columns]
    got = pd.read_parquet(got_path)
    assert len(got) > 0
    assert _rows(got) == _rows(exp)


def test_extraction_kernel_import_leaves_pandas_out():
    """Importing the extraction kernel, as every fresh Python worker does,
    must not load pandas: only ``fields.extract_metadata_batch`` uses it,
    and it imports pandas itself."""
    code = ("import sys; import b_pdf_parser_spark.operators.extract; "
            "print('pandas' in sys.modules)")
    proc = subprocess.run([sys.executable, "-c", code], cwd=PKGDIR.parent,
                          timeout=120, capture_output=True, text=True)
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert proc.stdout.strip() == "False"
