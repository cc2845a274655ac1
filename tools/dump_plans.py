"""Regenerate BENCH/PLANS.md: executed physical plans of representative
queries, the evidence trail for the scale-shape claims (pushed filters /
pruned ReadSchema on scans, broadcast joins on small dims, no cartesian
products outside labeled demos, single-Exchange window compositions).

Run: ``python tools/dump_plans.py`` (sf0.001 — plan SHAPE is
scale-independent; AQE leaves `isFinalPlan=false` in the pre-execution
string, which is fine: the structural operators are what we pin)."""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF = "/root/testdata/sf0.001"

SHOW = {
    "extract_kinds": (
        "extraction flagship (formula corpus): generate → salted repartition → "
        "Arrow MapInArrow walk → value projection; no shuffle after the single "
        "placement exchange"
    ),
    "near_dup_pairs": (
        "LSH-banded near-dup: shingle subtree shared/checkpointed once, band-key "
        "join produces candidates, exact Jaccard confirms — never an all-pairs "
        "product"
    ),
    "near_dup_keep_best": (
        "cluster retention: ONE cluster-keyed Exchange serves both the quality "
        "argmax window and the member-count window"
    ),
    "frontier_new": (
        "bloom frontier: map-only bitmap probe (broadcast bitmap, no join for "
        "cleared rows); only the maybe_seen sliver anti-joins the cached history"
    ),
    "lsh_ann_topk": (
        "ANN: signature-bucket equi-join replaces the brute-force cross product; "
        "re-rank windows partition by query"
    ),
    "pricing_summary": (
        "relational core: parquet scan with pruned ReadSchema, partial "
        "aggregation map-side, WholeStageCodegen spans"
    ),
    "host_cap_threshold": (
        "windowless per-host cap: two linear shuffles (count + broadcast "
        "threshold join), no single-host giant task"
    ),
    "chunk_documents": (
        "context chunking: map-only split → sequence → slice → posexplode, "
        "ZERO Exchanges"
    ),
    "extract_corpus_audit": (
        "corpus-scale audit (round 5): cached-parquet scan → the SAME salted "
        "extraction exchange → map-only Arrow walk → one partial-aggregated "
        "groupBy(kind) — the full bench corpus under the correctness gate"
    ),
    "semantic_dedup": (
        "SemDeDup (round 5): centroid assignment runs under the checkpointed "
        "subtree (Scan ExistingRDD below — its own plan is the k-row "
        "broadcast nested-loop); visible here: the cluster-keyed self-join "
        "for the epsilon-ball (cost = sum of squared cluster sizes, never "
        "an all-pairs product) + map-side partial_min + one outer join back; "
        "round 6: k scales with the corpus (max(16, ceil(n/8)))"
    ),
    "bpe_tokens": (
        "BPE tokenization (round 6): the ENCODE plan is map-only — pruned "
        "parquet scan → one ArrowEvalPython (the batched encode with the "
        "merge table in the closure) → projection; the training word-count "
        "pass ran at plan-build time as its own map-side-combined "
        "TakeOrderedAndProject job (driver holds <= top_words rows)"
    ),
    "bigram_perplexity": (
        "CCNet-shaped bigram LM scoring (round 6): the model side is two "
        "map-side-combined aggregations over the TARGET subset only "
        "(vocabulary-sized); scoring joins on the gram keys + one doc-keyed "
        "partial agg; the (N, V) scalar frame enters as a broadcast "
        "nested-loop, never a driver collect"
    ),
    "bm25_retrieval": (
        "BM25 retrieval (round 6): the broadcast query relation prunes the "
        "tf posting list BEFORE the df/dl joins, so the scored set is "
        "|postings of query terms|, not |corpus|; per-term contributions "
        "are DECIMAL(28,9) summed (partition-order-proof); per-query top-k "
        "is a window over the pruned set"
    ),
    "web_pipeline": (
        "curation-funnel capstone (round 6): dedup semi-join → codegen'd "
        "quality CASE → bigram-LM joins → map-only hash-threshold mix, all "
        "one declarative plan; the funnel is five 1-row aggregates unioned "
        "— no driver-side counting"
    ),
    "cc_luhn_scrub": (
        "Luhn-validated PII scrub (round 6): corpus construction, candidate "
        "extraction, the mod-10 checksum fold and the replacement fold are "
        "ONE map-only codegen'd projection — zero Exchanges, zero Python"
    ),
    "host_hits": (
        "HITS fixed point (round 6): per iteration two equi-joins + two "
        "host-keyed partial-aggregated groupBys; L1 totals enter as 1-row "
        "broadcast crossJoins — integer arithmetic end to end"
    ),
    "feed_items": (
        "RSS/Atom harvest (round 6): Arrow-batch XML generation, then the "
        "whole parse is regexp_extract_all + posexplode + codegen'd "
        "projections — no Python in the parse path"
    ),
    "quality_classifier": (
        "trained LR quality filter (round 6, board): the shown plan is the "
        "final REPORT (weights union + accuracy agg); the 8 GD iterations "
        "and 2 standardize passes each ran as their own map-side-combined "
        "aggregation collecting <= 6 numbers — no data ever reaches the "
        "driver"
    ),
    "hll_distinct": (
        "from-scratch HyperLogLog (round 6): register extraction is a "
        "codegen'd integer CASE chain in the scan stage; the sketch "
        "aggregate partial-combines to <= m rows per partition; the "
        "estimate is one decimal-summed agg + a 1-row join"
    ),
    "cms_heavy_hitters": (
        "Count-Min sketch (round 6): ONE corpus pass builds all depth "
        "cells (explode over an inline struct array); the cell table "
        "broadcasts to the probe side, so point queries are map-only + "
        "one tiny groupBy"
    ),
    "token_shards_bucketed": (
        "token-budget sharding re-priced in BPE tokens (round 6): encode is "
        "map-only Arrow, then the same bucket-partitioned running-sum window "
        "— no SinglePartition window anywhere in the plan"
    ),
}


def main() -> None:
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as e

    queries = {**e.queries(), **e.extra_queries()}
    out = [
        "# Physical plans of representative queries",
        "",
        "Generated by `python tools/dump_plans.py` — the evidence trail for the",
        "scale-shape claims. Read for: `PushedFilters`/`ReadSchema` on parquet",
        "scans, `BroadcastHashJoin` on small dims, zero `CartesianProduct`",
        "outside the labeled quadratic demos, `WholeStageCodegen` spans on the",
        "relational core, and single-Exchange window compositions.",
        "",
    ]
    for name, blurb in SHOW.items():
        plan = (
            queries[name](spark, SF)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        lines = [ln.rstrip() for ln in plan.splitlines()]
        if len(lines) > 55:
            lines = lines[:55] + ["   ... (truncated)"]
        stats = (
            f"Exchanges: {plan.count('Exchange')} · "
            f"broadcast joins: {plan.count('BroadcastHashJoin') + plan.count('BroadcastNestedLoop')} · "
            f"cartesian products: {plan.count('CartesianProduct')}"
        )
        out += [f"## {name}", "", blurb, "", stats, "", "```"]
        out += lines
        out += ["```", ""]
    (REPO / "BENCH" / "PLANS.md").write_text("\n".join(out))
    print(f"wrote BENCH/PLANS.md ({sum(len(x) for x in out)} chars)")
    spark.stop()


if __name__ == "__main__":
    main()
