"""Unit tests for the as-of join, deterministic sampling, incremental dedup,
quality-decision, host-cap and token-shard operators (semantics beyond the
DuckDB oracle parity, which tests/test_entry_oracle.py covers)."""

import datetime as dt

import pytest
import pyspark.sql.functions as F

from b_pdf_parser_spark.operators.dedup import incremental_dedup
from b_pdf_parser_spark.operators.sampling import hash_threshold, stratified_sample
from b_pdf_parser_spark.operators.temporal import asof_join


def _ts(s):
    return dt.datetime.fromisoformat(s)


# ---------------------------------------------------------------------------
# asof_join
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def asof_frames(spark):
    left = spark.createDataFrame(
        [
            (1, 10, _ts("2024-01-05")),  # between r1 and r2 → r1
            (2, 10, _ts("2024-01-10")),  # exactly at r2 → inclusive
            (3, 10, _ts("2024-01-01")),  # before everything → NULL
            (4, 20, _ts("2024-06-01")),  # other key
            (5, 30, _ts("2024-06-01")),  # key with no right rows → NULL
        ],
        "event_id long, k long, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (10, _ts("2024-01-02"), 100),
            (10, _ts("2024-01-10"), 200),
            (10, _ts("2024-01-10"), 150),  # same-ts dup → max payload wins
            (20, _ts("2024-05-31"), 300),
        ],
        "k long, rts timestamp, val long",
    )
    return left, right


def test_asof_backward_inclusive(asof_frames):
    left, right = asof_frames
    out = asof_join(
        left, right, left_on="k", right_on="k", left_ts="ts", right_ts="rts",
        payload={"val": "last_val"},
    )
    got = {r.event_id: r.last_val for r in out.collect()}
    assert got == {1: 100, 2: 200, 3: None, 4: 300, 5: None}


def test_asof_keeps_all_left_rows_and_columns(asof_frames):
    left, right = asof_frames
    out = asof_join(
        left, right, left_on="k", right_on="k", left_ts="ts", right_ts="rts",
        payload={"val": "last_val"},
    )
    assert out.count() == left.count()
    assert out.columns == ["event_id", "k", "ts", "last_val"]


def test_asof_plan_has_single_exchange_no_cartesian(asof_frames):
    left, right = asof_frames
    out = asof_join(
        left, right, left_on="k", right_on="k", left_ts="ts", right_ts="rts",
        payload={"val": "last_val"},
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan
    # the union feeds ONE window exchange on _k (plus the small right-side
    # pre-aggregation); no per-row replication anywhere
    assert "Window" in plan


# ---------------------------------------------------------------------------
# sampling
# ---------------------------------------------------------------------------


def test_hash_threshold_values():
    assert hash_threshold(0.0) == "00000000"
    assert hash_threshold(0.25) == "40000000"
    assert hash_threshold(0.5) == "80000000"
    assert hash_threshold(1.0) == "ffffffff"
    with pytest.raises(ValueError):
        hash_threshold(1.5)


@pytest.fixture(scope="module")
def ids_df(spark):
    return spark.range(0, 4000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 3).cast("string").alias("stratum"),
    )


def _hash_sample(df, rate):
    # one md5-threshold rate for every row: the keep rule under the strata
    return stratified_sample(df, "doc_id", "stratum", {}, default_rate=rate)


def test_hash_sample_rate_and_determinism(ids_df):
    kept = _hash_sample(ids_df, 0.25)
    n = kept.count()
    assert abs(n / 4000 - 0.25) < 0.05  # uniform hash → close to rate
    # re-running with a different partitioning yields the identical set
    again = _hash_sample(ids_df.repartition(13), 0.25)
    assert sorted(r.doc_id for r in kept.collect()) == sorted(
        r.doc_id for r in again.collect()
    )


def test_hash_sample_monotone_rates(ids_df):
    low = {r.doc_id for r in _hash_sample(ids_df, 0.1).collect()}
    high = {r.doc_id for r in _hash_sample(ids_df, 0.4).collect()}
    assert low <= high  # upsampling only ADDS rows


def test_stratified_rates_apply_per_stratum(ids_df):
    kept = stratified_sample(
        ids_df, "doc_id", "stratum", {"0": 0.8, "1": 0.2}, default_rate=0.0
    )
    by = {r.stratum: r.n for r in kept.groupBy("stratum").agg(F.count("*").alias("n")).collect()}
    assert by.get("2") is None  # default 0 drops the unlisted stratum
    assert abs(by["0"] / 1334 - 0.8) < 0.1
    assert abs(by["1"] / 1333 - 0.2) < 0.1


# ---------------------------------------------------------------------------
# incremental dedup
# ---------------------------------------------------------------------------


def test_incremental_dedup_semantics(spark):
    base = spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "doc_id long, text string"
    )
    inc = spark.createDataFrame(
        [
            (10, "alpha"),   # already in base → dropped
            (11, "gamma"),   # new → kept with min id
            (12, "gamma"),   # dup within batch → collapsed into 11
            (13, "delta"),   # new → kept
        ],
        "doc_id long, text string",
    )
    out = incremental_dedup(base, inc, "doc_id", "text")
    assert sorted(r.keep_id for r in out.collect()) == [11, 13]


def test_incremental_dedup_empty_base(spark):
    base = spark.createDataFrame([], "doc_id long, text string")
    inc = spark.createDataFrame([(5, "x"), (6, "x")], "doc_id long, text string")
    out = incremental_dedup(base, inc, "doc_id", "text")
    assert [r.keep_id for r in out.collect()] == [5]


def test_per_host_cap_exact_and_partitioning_independent(spark):
    from b_pdf_parser_spark.operators.sampling import per_host_cap

    rows = [(i, f"host{i % 3}") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, host string")
    out = per_host_cap(df, "doc_id", "host", cap=4).collect()
    kept = [r for r in out if r["keep"]]
    assert len(out) == 30
    by_host = {}
    for r in kept:
        by_host.setdefault(r["host"], set()).add(r["doc_id"])
    assert all(len(v) == 4 for v in by_host.values())
    # the SAME docs survive under a different partitioning (determinism —
    # the property df.sample() does not have)
    again = {(r["doc_id"], r["keep"])
             for r in per_host_cap(df.repartition(7), "doc_id", "host", 4).collect()}
    assert again == {(r["doc_id"], r["keep"]) for r in out}


def test_quality_decisions_every_reason_reachable(spark):
    from b_pdf_parser_spark.operators.textstats import quality_decisions

    ok = "the cat and the dog ran off to a barn with hay and corn for all of them " \
         "so they could rest and eat well " * 2
    docs = [
        (1, "too short"),                                     # word_count
        (2, " ".join(["supercalifragilistic"] * 40)),         # mean_word_len (>10)
        (3, " ".join(["alpha beta"] * 40)),                   # repetition (top2 ≫ 6%)
        (4, " ".join(f"word{i}" for i in range(40))),         # stopwords (no hits)
        (5, ok),                                              # ok
        (6, ""),                                              # empty → word_count
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: (r["keep"], r["reason"])
           for r in quality_decisions(df).collect()}
    assert got[1] == (False, "word_count")
    assert got[2] == (False, "mean_word_len")
    assert got[3] == (False, "repetition")
    assert got[4] == (False, "stopwords")
    assert got[5] == (True, "ok")
    assert got[6] == (False, "word_count")


def test_token_shards_offsets_and_budget(spark):
    from b_pdf_parser_spark.operators.sampling import token_shards

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * (10 + i))) for i in range(40)],
        "doc_id long, text string",
    )
    out = token_shards(docs, "doc_id", "text", tokens_per_shard=100).collect()
    assert len(out) == 40
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r["n_toks"])
    # every shard except possibly the last starts within budget: a doc's
    # start offset is < (shard+1)*budget by construction, and shard ids
    # form a contiguous range from 0
    assert min(by_shard) == 0 and set(by_shard) == set(range(len(by_shard)))
    # determinism under repartition (hash-ordered layout, integer sums)
    again = {(r["doc_id"], r["shard"])
             for r in token_shards(docs.repartition(7), "doc_id", "text", 100).collect()}
    assert again == {(r["doc_id"], r["shard"]) for r in out}


def test_per_host_cap_threshold_matches_exact_under_cap(spark):
    # hosts at or under the cap keep everything — identical to the window
    # form; the windowless variant must not drop anything there
    from b_pdf_parser_spark.operators.sampling import (per_host_cap,
                                                       per_host_cap_threshold)

    rows = [(i, f"host{i % 5}") for i in range(15)]  # 3 per host, cap 4
    df = spark.createDataFrame(rows, "doc_id long, host string")
    thr = {(r["doc_id"], r["keep"])
           for r in per_host_cap_threshold(df, "doc_id", "host", 4).collect()}
    exact = {(r["doc_id"], r["keep"])
             for r in per_host_cap(df, "doc_id", "host", 4).collect()}
    assert thr == exact
    assert all(k for _, k in thr)


def test_per_host_cap_threshold_megahost_approx_and_deterministic(spark):
    from b_pdf_parser_spark.operators.sampling import per_host_cap_threshold

    # one 4000-row "mega host" + a tiny host; cap 40 → expect ~40 ± binomial
    rows = [(i, "mega") for i in range(4000)] + [(9990 + i, "tiny") for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id long, host string")
    out = per_host_cap_threshold(df, "doc_id", "host", 40).collect()
    kept_mega = [r["doc_id"] for r in out if r["host"] == "mega" and r["keep"]]
    assert 20 <= len(kept_mega) <= 60  # ±>3σ of Binomial(4000, 0.01)
    assert all(r["keep"] for r in out if r["host"] == "tiny")
    # partitioning-independent: identical keeps on a different layout
    again = {(r["doc_id"], r["keep"])
             for r in per_host_cap_threshold(df.repartition(13), "doc_id", "host", 40).collect()}
    assert again == {(r["doc_id"], r["keep"]) for r in out}


def test_token_shards_bucketed_matches_global_within_bucket(spark):
    # within one bucket the two-level packing IS the global packing of that
    # bucket's docs: sizes ≈ tokens_per_shard, order is the md5 layout
    from b_pdf_parser_spark.operators.sampling import (token_shards,
                                                       token_shards_bucketed)

    rows = [(i, " ".join(f"w{j}" for j in range(1 + i % 20))) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = token_shards_bucketed(df, "doc_id", "text", 50).collect()
    assert len(out) == 300
    assert {r["bucket"] for r in out} <= set("0123456789abcdef")
    # per-bucket running sums: every shard except a bucket's last must have
    # total tokens in [tokens_per_shard - max_doc, tokens_per_shard + max_doc)
    from collections import defaultdict
    by_bucket = defaultdict(list)
    for r in out:
        by_bucket[r["bucket"]].append(r)
    for bucket, rs in by_bucket.items():
        tot = defaultdict(int)
        for r in rs:
            tot[r["shard"]] += r["n_toks"]
        shards = sorted(tot)
        assert shards == list(range(len(shards))), f"bucket {bucket}: gap in shard ids"
        for s in shards[:-1]:
            assert tot[s] >= 50 - 20, f"bucket {bucket} shard {s} underfull mid-stream"
    # determinism across partitioning
    again = {(r["doc_id"], r["bucket"], r["shard"])
             for r in token_shards_bucketed(df.repartition(11), "doc_id", "text", 50).collect()}
    assert again == {(r["doc_id"], r["bucket"], r["shard"]) for r in out}
    # global single-level form still packs the identical doc universe
    assert {r["doc_id"] for r in token_shards(df, "doc_id", "text", 50).collect()} == {
        r["doc_id"] for r in out
    }
