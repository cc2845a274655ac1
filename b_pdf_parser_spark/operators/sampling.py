"""Deterministic sampling operators for training-data mixture construction.

Web-scale training pipelines don't use ``df.sample()`` (seeded per-partition
RNG → results change when the partitioning changes, and a resumed job
re-rolls the dice). They hash a stable document key and keep rows whose
hash falls under a rate threshold, so:

* the decision is a pure function of the row — identical on 1 or 1,000
  executors, across retries, and in the DuckDB oracle;
* upsampling a stratum later only ADDS documents (monotone thresholds:
  the kept set at rate r is a subset of the kept set at rate r' > r);
* no shuffle at all — map-only, whole-stage-codegen predicate on the scan.

The hash is the first 8 hex chars of md5 (32 uniform bits), compared
lexicographically against an 8-hex-digit threshold string — string
comparison of fixed-width hex equals numeric comparison, and both Spark
and DuckDB produce identical md5 hex, so the oracle is byte-equal with no
float math anywhere.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from . import sql_name

__all__ = [
    "hash_threshold",
    "stratified_sample",
    "per_host_cap",
    "per_host_cap_threshold",
    "token_shards",
    "token_shards_bucketed",
]


def hash_threshold(rate: float) -> str:
    """8-hex-digit threshold: keep iff substr(md5(key),1,8) < threshold."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0,1], got {rate}")
    return format(min(int(rate * 2**32), 2**32 - 1), "08x")


def _bucket(key_col: str) -> F.Column:
    return F.substring(F.md5(F.col(key_col).cast("string")), 1, 8)


def stratified_sample(
    df: DataFrame,
    key_col: str,
    stratum_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic rates (the 'training mixture' operator):
    e.g. keep 100% of high-quality docs, 25% of medium, 1% of the tail.
    Map-only; the CASE collapses to one codegen'd predicate per row."""
    thr = F.lit(hash_threshold(default_rate))
    for value, rate in sorted(rates.items()):
        thr = F.when(F.col(stratum_col) == value, F.lit(hash_threshold(rate))).otherwise(thr)
    return df.filter(_bucket(key_col) < thr)


def token_shards(
    df: DataFrame, id_col: str, text_col: str, tokens_per_shard: int
) -> DataFrame:
    """Pack documents into ~equal-token shards (the training-data chunking
    step before tokenization): docs are laid out in the deterministic
    md5(id) order and a document starts the shard its running token offset
    falls in — ``shard = (cumsum − n_toks) DIV tokens_per_shard``. Pure
    integer arithmetic, so assignment is reproducible across engines and
    cluster sizes.

    Scale note: the exact global running sum is one ordered window —
    inherently a single sorted pass. At 10^12 docs the standard move is
    two-level packing (hash docs into ~10^4 coarse buckets first, apply
    this operator per bucket — same code, ``partitionBy`` the bucket);
    the global form here is the oracle-checked contract.
    """
    from pyspark.sql import Window

    from ..operators.textstats import token_count

    t = df.select(
        F.col(id_col).alias("doc_id"),
        token_count(F.col(text_col)).alias("n_toks"),
        _bucket(id_col).alias("_h"),
    )
    cum = F.sum("n_toks").over(
        Window.orderBy("_h", "doc_id").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
    )
    return (
        t.withColumn("cum", cum)
        .select(
            "doc_id",
            "n_toks",
            F.expr(f"(cum - n_toks) DIV {int(tokens_per_shard)}").alias("shard"),
        )
    )


def token_shards_bucketed(
    df: DataFrame, id_col: str, text_col: str, tokens_per_shard: int,
    bucket_hex_len: int = 1, n_tokens_col: str = None,
) -> DataFrame:
    """Two-level shard packing — the 10^12-doc form of ``token_shards``.

    ``token_shards``'s exact global running sum is one ordered window: a
    single sorted pass that cannot parallelize. Here documents first hash
    into ``16**bucket_hex_len`` coarse buckets (map-only, the leading hex
    digits of the same md5 the layout order already uses), and the running
    sum runs PER BUCKET (``partitionBy`` the bucket) — every bucket packs
    independently on its own executor, so the operator scales linearly
    with the cluster. Shard identity is the (bucket, shard) pair; each
    bucket's shards are ~``tokens_per_shard`` sized, so the trade vs the
    global form is only that shard numbering restarts per bucket and each
    bucket's final partial shard may be under-full (≤ one per bucket).

    Output: (doc_id, bucket, n_toks, shard). Pure integer + md5-hex
    arithmetic → identical on any cluster size and in the DuckDB oracle.

    ``n_tokens_col``: price shards in an already-computed token count
    (e.g. real BPE tokens from ``operators/bpe.bpe_tokenize`` — round-6
    re-pricing) instead of the whitespace ``token_count`` default.
    """
    from pyspark.sql import Window

    from ..operators.textstats import token_count

    n_toks = (
        F.col(n_tokens_col).cast("long")
        if n_tokens_col
        else token_count(F.col(text_col)).cast("long")
    )
    t = df.select(
        F.col(id_col).alias("doc_id"),
        n_toks.alias("n_toks"),
        _bucket(id_col).alias("_h"),
    ).withColumn("bucket", F.substring("_h", 1, bucket_hex_len))
    cum = F.sum("n_toks").over(
        Window.partitionBy("bucket").orderBy("_h", "doc_id").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
    )
    return t.withColumn("cum", cum).select(
        "doc_id",
        "bucket",
        "n_toks",
        F.expr(f"(cum - n_toks) DIV {int(tokens_per_shard)}").alias("shard"),
    )


def per_host_cap(
    df: DataFrame, key_col: str, host_col: str, cap: int
) -> DataFrame:
    """Keep at most ``cap`` rows per host — the anti-spam diversity cap CC
    pipelines apply so one template-heavy domain can't dominate a training
    mix. Rows are ranked inside each host by ``md5(key)`` (an unbiased,
    partitioning-independent order: the SAME documents survive on 1 or
    1,000 executors and in the DuckDB oracle) and flagged ``keep`` iff
    rank ≤ cap.

    Shape at scale: one hash-partitioned window on the host key. Per-host
    state is only a running counter, but a mega-host (10^9 pages of one
    domain) still lands on one task — at that scale either pre-filter with
    an md5-threshold sample to bring hosts under a partition's size, or trade
    exactness for a per-host threshold (cap/count quantile of the hash),
    which this module's threshold machinery expresses with two linear
    passes and no window. The exact window form is the contract here.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(host_col).orderBy(
        F.md5(F.col(key_col).cast("string")).asc(), F.col(key_col).asc()
    )
    return df.select(
        key_col, host_col, (F.row_number().over(w) <= cap).alias("keep")
    )


def per_host_cap_threshold(
    df: DataFrame, key_col: str, host_col: str, cap: int
) -> DataFrame:
    """Windowless form of ``per_host_cap`` for mega-hosts.

    ``per_host_cap``'s row_number window puts a whole host on one task — at
    10^9 pages of one domain that task never finishes. This variant trades
    the exact count for two LINEAR passes: (1) count rows per host (hash
    groupBy, map-side combined), (2) keep rows whose md5(key) falls under
    ``cap/count`` of the 32-bit hash space. Survivors are chosen by the
    same partitioning-independent md5 order, hosts at or under the cap keep
    everything exactly, and an over-cap host keeps ~``cap`` rows in
    expectation (binomial, tight for large hosts). The per-host threshold
    is pure integer/hex arithmetic, so the decision is reproducible on any
    cluster size and in the DuckDB oracle. The count join broadcasts when
    the host dimension is small; at web scale it is a plain hash join on
    the host key.

    Output mirrors ``per_host_cap``: (key, host, keep).
    """
    counts = df.groupBy(host_col).agg(F.expr("count(*) AS _n"))
    key = sql_name(key_col)
    # floor(cap * 2^32 / n) as an 8-hex threshold; doubles are exact here
    # (cap * 2^32 ≲ 2^48 « 2^53)
    thr = f"lpad(lower(hex(floor({int(cap)} * {float(2**32)!r}D / _n))), 8, '0')"
    return df.join(counts, host_col).selectExpr(
        key, sql_name(host_col),
        f"_n <= {int(cap)} OR substring(md5(CAST({key} AS STRING)), 1, 8) < {thr} AS keep",
    )
