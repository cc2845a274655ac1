"""Bloom-filter membership for crawl-frontier dedup at 10^12-URL scale.

The exact frontier check (`dedup.incremental_dedup`) anti-joins candidates
against the full crawl history — both sides shuffle on the hash key, every
cycle. A Bloom filter collapses the history side into a fixed-size bitmap
(m bits ≈ 1.2 GB covers 10^9 URLs at 1% FPR with k=7) that ships to every
executor once; candidates are then tested MAP-SIDE. The guarantee that
matters operationally is *no false negatives*: a candidate the bloom calls
unseen is provably new and can be crawled without any join at all — only
the small `maybe_seen` fraction (true hits + FPR) pays the exact anti-join.

Spark shape (no per-row Python anywhere):

* the two 32-bit hash halves come from ``F.md5`` JVM-side (whole-stage
  codegen) — Python only ever sees integer columns;
* partials build per PARTITION inside ``arrow_kernel`` and ship in the
  SMALLER of two encodings: the set-bit POSITIONS (8·k bytes per key —
  what a thin partition produces) or the dense bitmap (m/8 bytes — the
  cap for fat partitions). At the advertised 10^9-URL sizing (m≈10^10
  bits, 10^4 input partitions of 10^5 keys) the first merge level
  therefore shuffles ~6 MB per partition (~60 GB total) instead of 10^4
  dense 1.2 GB blobs (~12 TB);
* the OR-reduce is an ADAPTIVE TREE: every merge task fans in at most
  ``merge_groups`` partials (levels are added as ``ceil(log_fanin P)``
  grows), and each task folds its group with an IN-PLACE ``bitwise_or``
  accumulator. Peak memory per merge task is bounded by
  ``(merge_groups + 1) · m/8`` bytes — the group's blobs (each ≤ m/8 by
  the encoding rule, materialized by ``applyInArrow``) plus the
  accumulator — e.g. ~11 GB at m=10^10 bits with ``merge_groups=8``,
  ~81 GB with the default 64. (The sparse-output merge path allocates a
  concat + sort copy, but it is gated on the group's TOTAL position
  bytes staying under m/8, so its transient is ~3·m/8 — inside the same
  bound.) Size ``merge_groups`` to the executor, not to the partition
  count;
* probing distributes the bitmap via ``SparkContext.broadcast`` (torrent
  fan-out, one copy per executor, no per-task closure shipping — task
  closures are capped by ``spark.rpc.message.maxSize``, broadcasts are
  not) and tests all k positions with numpy — linear, map-only, no
  shuffle.

Bit positions use the Kirsch–Mitzenmacher double-hashing construction
``pos_i = (h1 + i·h2) mod m`` (public result: two hashes simulate k with
no FPR loss). Decisions are a pure function of (key, m, k): identical on
1 or 1,000 executors and across retries (bit-OR is associative,
commutative and idempotent, so ANY grouping of partials — including a
differently-bucketed retry — produces the same bitmap).
"""

from __future__ import annotations

import math
from typing import Iterator, List, Optional

import numpy as np
import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import BinaryType, BooleanType, IntegerType, StructField, StructType

from .. import ship_package
from . import arrow_batch, arrow_kernel

__all__ = [
    "bloom_bitmap",
    "bloom_bitmap_bytes",
    "probe_bloom",
    "frontier_new_keys",
]


def _h1(key_col: str) -> F.Column:
    return F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 8), 16, 10).cast("long")


def _h2(key_col: str) -> F.Column:
    # force h2 odd so (h1 + i*h2) cycles well for any m (h2=0 would probe
    # one position k times)
    return (
        F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 9, 8), 16, 10)
        .cast("long")
        .bitwiseOR(F.lit(1))
    )


def _fold_into(bitmap: np.ndarray, blob: bytes, dense: bool) -> None:
    """OR one partial (either encoding) into a dense accumulator, in place."""
    if dense:
        np.bitwise_or(bitmap, np.frombuffer(blob, dtype=np.uint8), out=bitmap)
    else:
        pos = np.frombuffer(blob, dtype=np.int64)
        np.bitwise_or.at(bitmap, pos >> 3, (1 << (pos & 7)).astype(np.uint8))


# output schemas of an intermediate and of the final merge level
_LEVEL = StructType([
    StructField("g", IntegerType()),
    StructField("blob", BinaryType()),
    StructField("dense", BooleanType()),
])
_FINAL = StructType([StructField("bloom", BinaryType())])


def _merge_level_fn(n_bytes: int, next_buckets: Optional[int]):
    """``applyInArrow`` body for one tree level.

    ``next_buckets`` set → intermediate level: emit ``(g, blob, dense)``
    where ``g = key % next_buckets`` (group keys at a level are dense
    0..b-1 integers, so the NEXT level's fan-in is ceil(b/next_buckets)
    by construction — deterministic, not a birthday-collision bound on
    ``spark_partition_id``). ``None`` → final level: emit the dense
    ``bloom``. Both fold in place (peak = group rows + ONE accumulator,
    never a stacked copy), and keep the sparse encoding through
    intermediate levels while it stays smaller than the dense bitmap.
    """

    schema = to_arrow_schema(_FINAL if next_buckets is None else _LEVEL)

    def merge(key, group):  # (key tuple, pa.Table) -> pa.Table
        blobs = group["blob"].to_pylist()
        denses = group["dense"].to_pylist()
        g = key[0].as_py() % next_buckets if next_buckets is not None else None
        # stay sparse only when the group's TOTAL position bytes are below
        # the dense size — gating BEFORE concatenating bounds the sparse
        # path's transient (concat + unique's sort copy) to ~3 extra
        # bitmap-equivalents instead of 3x the whole group's bytes
        all_sparse = not any(denses)
        sparse_total = sum(len(b) for b in blobs) if all_sparse else 0
        if all_sparse and g is not None and sparse_total < n_bytes:
            merged = np.unique(
                np.concatenate([np.frombuffer(b, dtype=np.int64) for b in blobs])
            )
            out = {"g": [g], "blob": [merged.tobytes()], "dense": [False]}
        else:
            bitmap = np.zeros(n_bytes, dtype=np.uint8)
            for blob, dense in zip(blobs, denses):
                _fold_into(bitmap, blob, dense)
            raw = bitmap.tobytes()
            out = {"g": [g], "blob": [raw], "dense": [True], "bloom": [raw]}
        return pa.Table.from_batches([arrow_batch(out, schema)])

    return merge


def bloom_bitmap(
    df: DataFrame, key_col: str, m_bits: int, k: int, merge_groups: int = 64
) -> DataFrame:
    """Build the bitmap distributedly → a 1-row DataFrame (bloom BINARY).

    ``merge_groups`` is the MAXIMUM FAN-IN of any merge task: the OR-tree
    adds levels (``ceil(log_merge_groups P)`` of them for P input
    partitions) so no task ever receives more than ``merge_groups``
    partial blobs, and each blob is at most m/8 bytes (thin partitions
    ship set-bit positions instead — always the smaller encoding). Peak
    memory per merge task is therefore ``(merge_groups + 1) · m/8``
    bytes (the ``applyInArrow`` group plus one in-place accumulator);
    pick it so that fits the executor — the tree gets deeper, not wider,
    as partition counts grow.
    """
    if m_bits % 8:
        raise ValueError("m_bits must be a multiple of 8")
    n_bytes = m_bits // 8
    fanin = max(int(merge_groups), 2)
    ship_package(df.sparkSession)  # the applyInArrow merges run package code
    hashed = df.select(_h1(key_col).alias("h1"), _h2(key_col).alias("h2"))

    def partials(batches: Iterator[pa.RecordBatch]) -> Iterator[dict]:
        # sparse until the position list would outweigh the dense bitmap
        chunks: List[np.ndarray] = []
        total = 0
        bitmap: Optional[np.ndarray] = None
        seen = False
        for b in batches:
            if not len(b):
                continue
            seen = True
            h1 = b["h1"].to_numpy()
            h2 = b["h2"].to_numpy()
            pos = (h1[None, :] + np.arange(k)[:, None] * h2[None, :]).ravel() % m_bits
            if bitmap is None:
                chunks.append(pos)
                total += pos.nbytes
                if total >= n_bytes:  # fat partition: cap at the dense encoding
                    bitmap = np.zeros(n_bytes, dtype=np.uint8)
                    for c in chunks:
                        np.bitwise_or.at(bitmap, c >> 3, (1 << (c & 7)).astype(np.uint8))
                    chunks = []
            else:
                np.bitwise_or.at(bitmap, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
        if not seen:
            return
        if bitmap is None:
            merged = np.unique(np.concatenate(chunks))
            if merged.nbytes < n_bytes:
                yield {"blob": [merged.tobytes()], "dense": [False]}
                return
            bitmap = np.zeros(n_bytes, dtype=np.uint8)
            np.bitwise_or.at(bitmap, merged >> 3, (1 << (merged & 7)).astype(np.uint8))
        yield {"blob": [bitmap.tobytes()], "dense": [True]}

    parts = arrow_kernel(hashed, partials, "blob binary, dense boolean")

    # bucket-count chain: level j has b_j groups, b_{j+1} = ceil(b_j/fanin),
    # so every task's fan-in is <= fanin at every level; at least one
    # intermediate level always runs (the two-level minimum the plan tests
    # pin), and more are added only when the partition count demands them
    n = max(df.rdd.getNumPartitions(), 1)
    bucket_counts: List[int] = []
    while n > fanin:
        n = math.ceil(n / fanin)
        bucket_counts.append(n)
    if not bucket_counts:
        bucket_counts = [1]

    cur = parts.withColumn(
        "g", F.pmod(F.spark_partition_id(), F.lit(bucket_counts[0])).cast("int")
    )
    for level, b in enumerate(bucket_counts):
        nxt = bucket_counts[level + 1] if level + 1 < len(bucket_counts) else None
        if nxt is not None:
            cur = cur.groupBy("g").applyInArrow(_merge_level_fn(n_bytes, nxt), _LEVEL)
    # last two levels: merge the final bucketing (fan-in <= fanin by the
    # chain construction), then OR the <= fanin surviving blobs (all keyed
    # g=0 by the `% 1` of the previous level) into the dense bitmap
    return (
        cur.groupBy("g")
        .applyInArrow(_merge_level_fn(n_bytes, 1), _LEVEL)
        .groupBy("g")
        .applyInArrow(_merge_level_fn(n_bytes, None), _FINAL)
    )


def bloom_bitmap_bytes(
    df: DataFrame, key_col: str, m_bits: int, k: int, merge_groups: int = 64
) -> bytes:
    """Driver-side blob of :func:`bloom_bitmap` — the ONE deliberate driver
    object in this module (m/8 bytes, e.g. 12 MB at 10^8 bits), fetched so
    the probe can broadcast it. Empty input → all-zero bitmap."""
    rows = bloom_bitmap(df, key_col, m_bits, k, merge_groups).collect()
    return bytes(rows[0]["bloom"]) if rows else bytes(m_bits // 8)


def probe_bloom(
    df: DataFrame,
    key_col: str,
    bloom: bytes,
    m_bits: int,
    k: int,
    return_handle: bool = False,
):
    """Append ``maybe_seen`` (bloom membership) to ``df`` — map-only.

    ``maybe_seen = false`` is definitive (no false negatives); ``true``
    means "present or false positive" and wants an exact confirm if
    exactness matters (see :func:`frontier_new_keys`).

    The bitmap reaches executors via ``SparkContext.broadcast`` — one
    torrent-distributed copy per executor, shared by all its tasks —
    rather than closure capture, which would ship the blob inside every
    serialized task and trip ``spark.rpc.message.maxSize`` at GB sizes.

    ``return_handle=True`` returns ``(DataFrame, Broadcast)`` so the
    caller can ``destroy()`` the broadcast deterministically once the
    probe is materialized (:func:`frontier_new_keys` does). With the
    default single return the broadcast is released by GC + the
    ContextCleaner — fine for one-shot probes, but an ITERATIVE caller
    at GB bitmap sizes should take the handle (or use
    ``frontier_new_keys``, which cleans up).
    """
    if len(bloom) * 8 != m_bits:
        raise ValueError(f"bitmap is {len(bloom) * 8} bits, expected {m_bits}")
    out_schema = StructType(
        list(df.schema.fields) + [StructField("maybe_seen", BooleanType(), False)]
    )
    hashed = df.select("*", _h1(key_col).alias("_h1"), _h2(key_col).alias("_h2"))
    bc = df.sparkSession.sparkContext.broadcast(bloom)

    def probe(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        bm = np.frombuffer(bc.value, dtype=np.uint8)
        for b in batches:
            h1 = b["_h1"].to_numpy()
            h2 = b["_h2"].to_numpy()
            ok = np.ones(len(b), dtype=bool)
            for i in range(k):
                pos = (h1 + i * h2) % m_bits
                ok &= ((bm[pos >> 3] >> (pos & 7)) & 1).astype(bool)
            yield b.append_column("maybe_seen", pa.array(ok))

    out_df = arrow_kernel(hashed, probe, out_schema)
    if return_handle:
        return out_df, bc
    return out_df


def frontier_new_keys(
    base: DataFrame,
    candidates: DataFrame,
    key_col: str,
    m_bits: int = 1 << 20,
    k: int = 7,
    merge_groups: int = 64,
) -> DataFrame:
    """Exactly-new candidates, bloom-accelerated: rows the bloom clears are
    new by construction (zero joins); only ``maybe_seen`` rows (true dups +
    the ~FPR sliver) pay the exact anti-join against the base. Result is
    IDENTICAL to the plain anti-join — the bloom changes the cost, not the
    answer. ``merge_groups`` passes through to the bitmap tree merge as
    the per-task fan-in bound — lower it when ``(merge_groups+1) · m/8``
    bytes exceeds executor memory.

    Lifecycle choices for the steady-state crawl loop this accelerates:

    * ``base`` is scanned ONCE per cycle — its distinct key set is cached
      with ``persist(MEMORY_AND_DISK)`` (lineage PRESERVED, so an executor
      loss recomputes blocks instead of failing the job, unlike a
      localCheckpoint, which at the advertised 10^9-URL history would pin
      the whole history in non-replicated block storage); the cache is
      released by Spark's ContextCleaner once the returned frame — the
      last reference to it — is dropped;
    * the candidate probe IS locally checkpointed (eagerly) — it is one
      cycle's candidates, orders of magnitude smaller than the history —
      which lets the bitmap broadcast be ``destroy()``-ed deterministically
      right here rather than leaking one m/8-byte blob per crawl cycle to
      GC timing.
    """
    from pyspark import StorageLevel

    base_keys = (
        base.select(key_col).distinct().persist(StorageLevel.MEMORY_AND_DISK)
    )
    bloom = bloom_bitmap_bytes(base_keys, key_col, m_bits, k, merge_groups)
    probed_raw, handle = probe_bloom(
        candidates.select(key_col).distinct(), key_col, bloom, m_bits, k,
        return_handle=True,
    )
    # the probe feeds both branches below; materializing it lets the
    # bitmap broadcast be destroyed here
    probed = probed_raw.localCheckpoint(eager=True)
    handle.destroy()
    fresh = probed.filter(~F.col("maybe_seen")).drop("maybe_seen")
    suspects = probed.filter(F.col("maybe_seen")).drop("maybe_seen")
    return fresh.unionByName(suspects.join(base_keys, key_col, "left_anti"))
