"""The corpus-audit replay (`page_kind_expected`) must agree with the REAL
generator + extractor — it is the independent truth the
`extract_corpus_audit` driver oracle states as literals, so any drift
between the replayed stratum draws and what the pipeline actually emits
would silently corrupt the oracle. Pinned here at two (seed, n) points,
including a non-default seed, so the replay cannot be accidentally tuned
to the bench corpus."""

from collections import Counter

import pyspark.sql.functions as F

from b_pdf_parser_spark.operators.extract import extract_pages
from b_pdf_parser_spark.sources.pages import page_kind_expected, synth_pages_df


def _real_counts(spark, n, seed):
    ext = extract_pages(
        synth_pages_df(spark, n, seed=seed, num_partitions=8), num_partitions=8
    )
    return {
        r["kind"]: (r["n"], r["e"])
        for r in ext.groupBy("kind")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("error").isNotNull().cast("long")).alias("e"),
        )
        .collect()
    }


def _replay_counts(n, seed):
    kinds, errs = Counter(), Counter()
    for i in range(n):
        k, e = page_kind_expected(i, seed)
        kinds[k] += 1
        errs[k] += int(e)
    return {k: (kinds[k], errs[k]) for k in kinds}


def test_replay_matches_pipeline_bench_seed(spark):
    assert _real_counts(spark, 2500, 42) == _replay_counts(2500, 42)


def test_replay_matches_pipeline_other_seed(spark):
    assert _real_counts(spark, 1200, 7) == _replay_counts(1200, 7)


def test_audit_projection_matches_full_extraction(spark):
    # round-7: extract_kind_audit is the audit-only projection of
    # extract_pages (same _extract_one walk, no field layer, no wide
    # Arrow row) — its per-kind/error counts must equal the full
    # operator's on the same corpus
    from b_pdf_parser_spark.operators.extract import extract_kind_audit

    pages = synth_pages_df(spark, 1500, seed=42, num_partitions=8)
    audit = {
        r["kind"]: (r["n"], r["e"])
        for r in extract_kind_audit(pages, num_partitions=8)
        .groupBy("kind")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("error").isNotNull().cast("long")).alias("e"),
        )
        .collect()
    }
    assert audit == _real_counts(spark, 1500, 42)
