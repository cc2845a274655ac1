"""Kill/resume semantics of the extraction job (SURVEY §7.2 step 7): a
resumed run must process exactly the partitions the killed run didn't,
without duplicating any output row."""

import sys
from pathlib import Path

import pyspark.sql.functions as F
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from jobs.extract import load_manifest, load_metrics, run_extract_job  # noqa: E402
from b_pdf_parser_spark.sources.pages import synth_pages_df  # noqa: E402

N = 120
P = 16


def test_kill_and_resume(spark, tmp_path):
    out = str(tmp_path / "job_out")
    pages = synth_pages_df(spark, N, seed=9, num_partitions=4)

    # simulate a kill: only 2 of 4 waves run
    first = run_extract_job(spark, pages, out, checkpoint_partitions=P,
                            waves=4, max_waves=2, num_partitions=8)
    assert not first["complete"]
    done_after_kill = set(load_manifest(out))
    assert 0 < len(done_after_kill) < P
    assert set(first["processed_partitions"]) == done_after_kill

    # resume: must process exactly the complement, reprocess nothing
    second = run_extract_job(spark, pages, out, checkpoint_partitions=P,
                             waves=4, num_partitions=8)
    assert second["complete"]
    assert set(second["skipped_partitions"]) == done_after_kill
    assert set(second["processed_partitions"]).isdisjoint(done_after_kill)
    assert set(second["processed_partitions"]) | done_after_kill == set(range(P))

    # output is exactly one row per url, nothing duplicated or lost
    ext = spark.read.parquet(f"{out}/extracted")
    assert ext.count() == N
    assert ext.select("url").distinct().count() == N

    # metrics table sums agree with the data
    m = load_metrics(spark, out)
    assert m.count() == P
    assert m.agg(F.sum("docs")).collect()[0][0] == N
    errs = ext.filter(F.col("error").isNotNull()).count()
    assert m.agg(F.sum("errors")).collect()[0][0] == errs
    assert all(r["lineage"] for r in m.select("lineage").collect())


def test_rerun_of_complete_job_is_noop(spark, tmp_path):
    out = str(tmp_path / "job_out2")
    pages = synth_pages_df(spark, 40, seed=11, num_partitions=2)
    run_extract_job(spark, pages, out, checkpoint_partitions=8, waves=2, num_partitions=4)
    again = run_extract_job(spark, pages, out, checkpoint_partitions=8, waves=2, num_partitions=4)
    assert again["processed_partitions"] == []
    assert len(again["skipped_partitions"]) == 8
    assert spark.read.parquet(f"{out}/extracted").count() == 40


def test_resume_with_other_checkpoint_partitions_raises(spark, tmp_path):
    # an id names a different key range under another P: a resume at P=4 of
    # a P=8 run would skip ids 0-3 as done and never report complete
    out = str(tmp_path / "job_p")
    pages = synth_pages_df(spark, 40, seed=11, num_partitions=2)
    run_extract_job(spark, pages, out, checkpoint_partitions=8, waves=4,
                    max_waves=1, num_partitions=4)
    before = load_manifest(out)
    with pytest.raises(ValueError, match=r"checkpoint_partitions=8\b.*checkpoint_partitions=4\b"):
        run_extract_job(spark, pages, out, checkpoint_partitions=4, waves=2, num_partitions=4)
    assert load_manifest(out) == before  # no wave ran
    assert {r["checkpoint_partitions"] for r in before.values()} == {8}
    assert load_metrics(spark, out).select("checkpoint_partitions").distinct().collect()[0][0] == 8


def test_empty_wave_does_not_crash(spark, tmp_path):
    # 10 docs over 64 partitions / 8 waves: most waves match zero urls —
    # the metrics read-back must tolerate an output dir with no files yet
    out = str(tmp_path / "job_tiny")
    pages = synth_pages_df(spark, 10, seed=3, num_partitions=2)
    summary = run_extract_job(spark, pages, out, checkpoint_partitions=64,
                              waves=8, num_partitions=4)
    assert summary["complete"] and summary["docs"] == 10


def test_overwrite_mode_restored(spark, tmp_path):
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    pages = synth_pages_df(spark, 12, seed=4, num_partitions=2)
    run_extract_job(spark, pages, str(tmp_path / "j"), checkpoint_partitions=4,
                    waves=1, num_partitions=2)
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode") == prev


def test_overwrite_mode_restored_when_a_wave_raises(spark, tmp_path, monkeypatch):
    # a raising wave (write failure, stale WET segments) must not leave
    # dynamic partition overwrite behind in the caller's session
    import jobs.extract

    def boom(*a, **kw):
        raise RuntimeError("wave failed")

    monkeypatch.setattr(jobs.extract, "extract_pages", boom)
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    pages = synth_pages_df(spark, 12, seed=4, num_partitions=2)
    with pytest.raises(RuntimeError, match="wave failed"):
        run_extract_job(spark, pages, str(tmp_path / "j"), checkpoint_partitions=4,
                        waves=1, num_partitions=2)
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode") == prev


def test_adaptive_waves_cover_everything(spark, tmp_path):
    # time-targeted waves: first wave uses the static split, later waves
    # resize from observed seconds-per-partition. Whatever sizes it picks,
    # every partition must be processed exactly once and the manifest
    # must be complete.
    out = str(tmp_path / "job_adaptive")
    pages = synth_pages_df(spark, 60, seed=13, num_partitions=4)
    summary = run_extract_job(
        spark, pages, out, checkpoint_partitions=16, waves=8,
        num_partitions=4, target_wave_seconds=30.0,
    )
    assert summary["complete"] and summary["docs"] == 60
    assert sorted(summary["processed_partitions"]) == list(range(16))
    assert sum(summary["wave_sizes"]) == 16
    # a generous 30s target must coalesce the cheap local partitions into
    # fewer waves than the static 8-way split would have used
    assert len(summary["wave_sizes"]) < 8


def test_adaptive_waves_respect_max_waves(spark, tmp_path):
    out = str(tmp_path / "job_adaptive_cap")
    pages = synth_pages_df(spark, 30, seed=14, num_partitions=2)
    summary = run_extract_job(
        spark, pages, out, checkpoint_partitions=8, waves=8,
        num_partitions=2, target_wave_seconds=0.001, max_waves=2,
    )
    # a tiny target shrinks waves to 1 partition; the cap stops after 2
    assert len(summary["wave_sizes"]) == 2
    assert not summary["complete"]
    resumed = run_extract_job(
        spark, pages, out, checkpoint_partitions=8, waves=8, num_partitions=2,
    )
    assert resumed["complete"]
    assert set(resumed["processed_partitions"]).isdisjoint(
        summary["processed_partitions"]
    )


def test_wet_output_resumes_without_duplicates(spark, tmp_path):
    # WET segments are wave-derived output: an interrupted job must resume
    # into exactly-once WET coverage (per-pid subdirs cleared and rewritten)
    import pyspark.sql.functions as F

    from conftest import read_wet

    from b_pdf_parser_spark.sources.pages import synth_pages_df

    pages = synth_pages_df(spark, 200, seed=5, num_partitions=4)
    out = str(tmp_path / "job")
    wet = str(tmp_path / "wet")
    P = 8
    # partial run: only half the waves
    run_extract_job(spark, pages, out, checkpoint_partitions=P, waves=4,
                    num_partitions=4, max_waves=2, wet_dir=wet)
    partial = read_wet(spark, wet).count()
    # resume to completion
    summary = run_extract_job(spark, pages, out, checkpoint_partitions=P,
                              waves=4, num_partitions=4, wet_dir=wet)
    assert summary["complete"]
    got = read_wet(spark, wet)
    n = got.count()
    assert n > partial
    # exactly one WET record per extracted row that has text+timestamp
    ext = spark.read.parquet(f"{out}/extracted")
    expect = ext.filter(F.col("text").isNotNull() & F.col("warc_ts").isNotNull())
    assert n == expect.count()
    assert got.select("url").distinct().count() == n  # no duplicates
    # text byte-identity against the parquet truth
    j = got.alias("w").join(expect.alias("e"), "url")
    assert j.filter(F.col("w.text") != F.col("e.text")).count() == 0
