"""Bloom-filter frontier operator: the no-false-negative guarantee, a sane
false-positive rate, partition determinism, and exact-equivalence of the
accelerated frontier check."""

import math

import pyspark.sql.functions as F

from b_pdf_parser_spark.operators.bloom import (
    bloom_bitmap,
    bloom_bitmap_bytes,
    frontier_new_keys,
    probe_bloom,
)

M = 1 << 14  # 16384 bits
K = 7


def _urls(spark, lo, hi, parts=4):
    return spark.range(lo, hi, 1, parts).select(
        F.concat(F.lit("https://h"), (F.col("id") % 50).cast("string"),
                 F.lit(".example/p"), F.col("id").cast("string")).alias("url")
    )


def test_no_false_negatives_ever(spark):
    base = _urls(spark, 0, 500)
    bloom = bloom_bitmap_bytes(base, "url", M, K)
    probed = probe_bloom(base, "url", bloom, M, K)
    assert probed.filter(~F.col("maybe_seen")).count() == 0


def test_false_positive_rate_near_theory(spark):
    n = 500
    base = _urls(spark, 0, n)
    bloom = bloom_bitmap_bytes(base, "url", M, K)
    fresh = _urls(spark, 10_000, 12_000)  # disjoint key range
    fp = probe_bloom(fresh, "url", bloom, M, K).filter("maybe_seen").count()
    fpr = fp / 2_000
    theory = (1 - math.exp(-K * n / M)) ** K  # ~0.0035 at these params
    assert fpr <= max(3 * theory, 0.02), (fpr, theory)


def test_bitmap_deterministic_across_partitioning(spark):
    base = _urls(spark, 0, 300, parts=1)
    b1 = bloom_bitmap_bytes(base, "url", M, K)
    b8 = bloom_bitmap_bytes(_urls(spark, 0, 300, parts=8), "url", M, K)
    assert b1 == b8  # bit-OR merge is order/partition independent
    assert len(b1) == M // 8


def test_frontier_matches_exact_antijoin(spark):
    # overlap: candidates 200..700 vs base 0..500 → exactly 500..700 are new
    base = _urls(spark, 0, 500)
    cand = _urls(spark, 200, 700)
    got = sorted(r["url"] for r in frontier_new_keys(base, cand, "url", M, K).collect())
    exact = sorted(
        r["url"]
        for r in cand.join(base, "url", "left_anti").distinct().collect()
    )
    assert got == exact
    assert len(got) == 200


def test_probe_preserves_all_columns_and_rows(spark):
    base = _urls(spark, 0, 100)
    bloom = bloom_bitmap_bytes(base, "url", M, K)
    df = _urls(spark, 0, 50).withColumn("depth", F.length("url"))
    out = probe_bloom(df, "url", bloom, M, K)
    assert out.columns == ["url", "depth", "maybe_seen"]
    assert out.count() == 50


def test_empty_base_probes_all_new(spark):
    empty = _urls(spark, 0, 0)
    bloom = bloom_bitmap_bytes(empty, "url", M, K)
    assert bloom == bytes(M // 8)
    probed = probe_bloom(_urls(spark, 0, 100), "url", bloom, M, K)
    assert probed.filter("maybe_seen").count() == 0


def test_build_plan_shuffles_blobs_not_rows(spark):
    # the merge exchanges carry (m/8)-byte blobs, never rows — and the
    # OR-reduce must be a TWO-LEVEL tree (group-bucketed partial merge,
    # then the final merge over <= merge_groups blobs) so no single task
    # fans in every partition's bitmap; the probe plan must be join-free
    base = _urls(spark, 0, 200, parts=8)
    plan = bloom_bitmap(base, "url", M, K)._jdf.queryExecution().executedPlan().toString()
    merge_levels = plan.count("FlatMapGroupsInArrow")
    assert merge_levels == 2, plan
    bloom = bloom_bitmap_bytes(base, "url", M, K)
    probe_plan = (
        probe_bloom(_urls(spark, 0, 10), "url", bloom, M, K)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join" not in probe_plan and "Exchange" not in probe_plan


def test_tree_merge_matches_single_group_merge(spark):
    # bit-OR is associative/commutative: the tree-reduced bitmap must be
    # byte-identical to a degenerate single-group merge, for group counts
    # below, at, and above the partition count
    base = _urls(spark, 0, 300, parts=8)
    blobs = {
        g: bloom_bitmap(base, "url", M, K, merge_groups=g).collect()[0]["bloom"]
        for g in (1, 4, 64)
    }
    assert bytes(blobs[1]) == bytes(blobs[4]) == bytes(blobs[64])


def test_deep_tree_bounds_fanin_and_matches(spark):
    # when partitions >> merge_groups the tree must add LEVELS (not widen
    # task fan-in): 16 partials at fan-in 2 need buckets 8 -> 4 -> 2, i.e.
    # 4 FlatMapGroupsInArrow stages, and the result must stay
    # byte-identical to the shallow default tree
    base = _urls(spark, 0, 400, parts=16)
    deep = bloom_bitmap(base, "url", M, K, merge_groups=2)
    plan = deep._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FlatMapGroupsInArrow") == 4, plan
    assert bytes(deep.collect()[0]["bloom"]) == bloom_bitmap_bytes(base, "url", M, K)


def test_sparse_and_dense_partials_agree(spark):
    # a single fat partition crosses the positions-outweigh-bitmap switch
    # (500 keys * 7 probes * 8 bytes > 2 KB bitmap) and ships dense; the
    # same keys over many thin partitions ship sparse — identical bitmap
    m_small = 1 << 14  # 2 KB dense => fat partition goes dense
    fat = bloom_bitmap_bytes(_urls(spark, 0, 500, parts=1), "url", m_small, K)
    thin = bloom_bitmap_bytes(_urls(spark, 0, 500, parts=32), "url", m_small, K)
    assert fat == thin


def test_frontier_scans_base_once(spark):
    # the history side is persisted (lineage kept — fault-tolerant, unlike
    # a localCheckpoint) before the bitmap build, so the confirm anti-join
    # reads cached blocks instead of re-scanning the base lineage: the
    # executed plan's base side must be an InMemoryTableScan, and the
    # candidate probe subtree must be a materialized checkpoint (no Range
    # leaf of its own)
    base = _urls(spark, 0, 500)
    cand = _urls(spark, 200, 700)
    df = frontier_new_keys(base, cand, "url", M, K)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan or "TableCacheQueryStage" in plan, plan
    assert "Scan ExistingRDD" in plan, plan  # the checkpointed probe
