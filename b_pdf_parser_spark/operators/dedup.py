"""Deduplication operators for web-scale training-data pipelines.

Five families, each with a DuckDB-oracle-compatible formula:

* **exact**          — content-hash groupBy (one shuffle on a 16-byte key,
  map-side partial agg; at 10^12 docs this is the cheapest possible dedup)
* **MinHash + LSH**  — word-3-gram shingles → k seeded min-hashes → bands →
  candidate pairs via a self-equi-join on band keys (shuffle keyed on the
  *band*, so only colliding docs ever meet — the scale path)
* **n-gram Jaccard** — exact similarity for candidate pairs (shingle-set
  intersection attached per pair via ``array_intersect``; confirms LSH
  candidates)
* **SimHash**        — 16-bit bit-vote signature; band-bucket (bit-sampling
  LSH) candidates confirmed by exact hamming distance
* **Winnowing**      — rolling n-gram-hash window minima (Schleimer et al.
  2003): position-robust fingerprint sets for partial-overlap detection

Round-7 execution shape: all PER-DOCUMENT work (shingling, seeded
minhashes, band keys, simhash votes, winnowing minima) runs in Arrow batch
kernels — one Python dispatch per batch, md5 in C — so the subtrees below
every join/aggregate are map-only. The old all-relational forms paid a
lead-window Exchange plus one or two keyed aggregations per doc-local
step, and their per-element expressions (higher-order lambdas) execute
interpreted, which measured several times slower than the kernels.
Cross-document steps (band self-join, duplicate-window build, connected
components) stay relational.

Portability notes (these choices make the DuckDB oracle byte-equal):
hashes are md5 hex *strings* (both engines agree); min/aggregation over
strings is lexicographic in both engines and in Python (ASCII); the
kernels mirror ``split(lower(trim(text)), ' ')`` tokenization exactly.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from . import arrow_kernel, spread

__all__ = [
    "exact_dup_stats",
    "shingles",
    "minhash_signature_string",
    "lsh_candidate_pairs",
    "ngram_jaccard_pairs",
    "incremental_dedup",
    "simhash",
    "simhash_neardup_pairs",
    "winnow_fingerprints",
    "duplicate_spans",
]

DEFAULT_K = 8  # minhash permutations
DEFAULT_BANDS = 4  # → rows-per-band = K / BANDS = 2


# ---------------------------------------------------------------------------
# round-7: the per-document shingle/minhash/band work moved into ONE Arrow
# batch kernel (arrow_kernel + hashlib). The old plan exploded every
# (shingle, seed) pair through a lead window + two keyed aggregations —
# three Exchanges and millions of tiny rows before the LSH self-join even
# started. Everything below the self-join is now map-only; md5 runs in C.
#
# Exactness: the kernel is a string-for-string twin of the relational
# expressions — tokens are split(lower(trim(text)), ' ') (ASCII-safe:
# Python and the JVM agree on lower/trim/split for the corpus alphabet,
# and every value is re-checked against the DuckDB oracles, which are the
# actual referee), minhash = min md5('<seed>:'||gram)[:16] with
# lexicographic string MIN ≡ Python min() on ASCII hex, and band keys are
# the sorted 'seed=hash' joins the old collect_list+array_sort built.
# ---------------------------------------------------------------------------


def _py_grams(text: str, n: int) -> list:
    """Exact twin of the relational shingle construction: tokens =
    split(lower(trim(text)), ' ') (empty tokens KEPT, as the old window
    form kept them), grams = every run of ``n`` consecutive tokens joined
    by one space."""
    ws = text.strip(" ").lower().split(" ")
    return [" ".join(ws[i:i + n]) for i in range(len(ws) - n + 1)]


def _doc_signature_frame(
    df: DataFrame, id_col: str, text_col: str, n: int,
    k: int | None = None, bands: int | None = None, with_grams: bool = False,
) -> DataFrame:
    """One row per document that has ≥ 1 full ``n``-gram:

    ``(id[, grams][, mhs][, band_keys])``

    * ``grams``     — DISTINCT shingles, first-occurrence order
    * ``mhs``       — k minhashes, ``mhs[seed] = min md5(seed:gram)[:16]``
    * ``band_keys`` — per band, ','-joined SORTED 'seed=hash' parts

    Computed in one Arrow batch pass (hashlib md5 in C); documents with
    null text or no full gram emit nothing, exactly like the old
    explode-based frames which simply had no rows for them."""
    import hashlib

    from typing import Iterator

    per_band = (k // bands) if (k is not None and bands is not None) else None
    want_mh = k is not None
    src = spread(df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text")))
    id_ddl = src.schema.fields[0].dataType.simpleString()
    ddl = f"id {id_ddl}" + (", grams array<string>" if with_grams else "") \
        + (", mhs array<string>" if want_mh else "") \
        + (", band_keys array<string>" if per_band is not None else "")

    def run(batches: Iterator) -> Iterator:
        md5 = hashlib.md5
        for b in batches:
            ids, grams_col, mhs_col, bk_col = [], [], [], []
            for i, s in zip(b["id"].tolist(), b["text"].tolist()):
                if s is None:
                    continue
                grams = _py_grams(s, n)
                if not grams:
                    continue
                gset = list(dict.fromkeys(grams))  # distinct, stable order
                ids.append(i)
                if with_grams:
                    grams_col.append(gset)
                if want_mh:
                    mhs = [
                        min(
                            md5(f"{seed}:{g}".encode()).hexdigest()[:16]
                            for g in gset
                        )
                        for seed in range(k)
                    ]
                    mhs_col.append(mhs)
                    if per_band is not None:
                        bk_col.append([
                            ",".join(sorted(
                                f"{s_}={mhs[s_]}"
                                for s_ in range(bnd * per_band,
                                                (bnd + 1) * per_band)
                            ))
                            for bnd in range(bands)
                        ])
            yield {"id": ids, "grams": grams_col, "mhs": mhs_col, "band_keys": bk_col}

    return arrow_kernel(src, run, ddl)


def exact_dup_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per content-hash group: size and representative (min id)."""
    return (
        df.select(F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.count("*").alias("n_dups"), F.min("id").alias("keep_id"))
    )


def shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Word n-gram shingle *set* rows (id, shingle) — map-only explode of
    the batch kernel's per-doc distinct gram arrays (they cannot collide
    across docs, so no global distinct Exchange is needed)."""
    return _doc_signature_frame(df, id_col, text_col, n, with_grams=True).select(
        "id", F.explode("grams").alias("shingle")
    )


def minhash_signature_string(
    df: DataFrame, id_col: str, text_col: str, k: int = DEFAULT_K, n: int = 3
) -> DataFrame:
    """One row per doc: 'seed=hash,...' signature string (oracle-friendly).
    array_sort over the seed-ordered parts equals the old sorted
    collect_list exactly; assembled map-side from the kernel's mhs."""
    sets = _doc_signature_frame(df, id_col, text_col, n, k=k)
    parts = [
        F.concat_ws("=", F.lit(i), F.get("mhs", i)) for i in range(k)
    ]
    return sets.select(
        "id", F.array_join(F.array_sort(F.array(*parts)), ",").alias("signature")
    )


def lsh_candidate_pairs(
    df: DataFrame, id_col: str, text_col: str,
    k: int = DEFAULT_K, bands: int = DEFAULT_BANDS, n: int = 3,
    sets_df: DataFrame | None = None,
) -> DataFrame:
    """Near-dup candidates: equal band-key ⇒ candidate. Returns (id_a, id_b).

    The self-join shuffles on (band, band_key) — only hash-colliding docs
    co-locate, so the join stays linear-ish at 10^12 docs instead of the
    quadratic all-pairs. Round-7: everything below the self-join is the
    map-only batch kernel (the old path paid three Exchanges — shingle
    window, (id, seed) groupBy, (id, band) groupBy — before the join even
    started), and both join sides reuse ONE Exchange (ReuseExchange over
    the identical subplan). ``sets_df`` shares a prebuilt kernel frame
    (must carry ``band_keys``)."""
    sets = (
        _doc_signature_frame(df, id_col, text_col, n, k=k, bands=bands)
        if sets_df is None else sets_df
    )
    keys = sets.select("id", F.posexplode("band_keys").alias("band", "band_key"))
    a = keys.alias("a")
    b = keys.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.band_key") == F.col("b.band_key"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, threshold: float = 0.0,
) -> DataFrame:
    """Exact n-gram Jaccard for LSH candidate pairs: (id_a, id_b, jaccard).

    Round-7 shape: ONE batch-kernel pass per doc (grams + minhashes + band
    keys, checkpointed) feeds both the LSH bands and the confirm stage;
    the confirm attaches the per-doc gram ARRAYS to each candidate pair
    (two id-keyed joins) and intersects them map-side with
    ``array_intersect`` (codegen, not a lambda HOF) — the old path
    exploded shingle rows into an (id_b, shingle)-keyed join and
    re-aggregated. Values identical: |A∩B| over distinct arrays equals
    the old distinct-row intersection count, the sizes are the array
    sizes, and the int/int → round(…, 4) arithmetic is unchanged."""
    sets = _doc_signature_frame(
        df, id_col, text_col, n, k=DEFAULT_K, bands=DEFAULT_BANDS, with_grams=True
    ).localCheckpoint(eager=False)  # shared: band subtree + both confirm sides
    cands = lsh_candidate_pairs(df, id_col, text_col, n=n, sets_df=sets)
    ga = sets.select(F.col("id").alias("id_a"), F.col("grams").alias("_ga"))
    gb = sets.select(F.col("id").alias("id_b"), F.col("grams").alias("_gb"))
    inter = F.size(F.array_intersect("_ga", "_gb"))
    return (
        cands.join(ga, "id_a")
        .join(gb, "id_b")
        .select(
            "id_a", "id_b",
            F.round(
                inter / (F.size("_ga") + F.size("_gb") - inter), 4
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# round cap of connected_components' label propagation
_CC_MAX_ITER = 25


def connected_components(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """Duplicate clusters from candidate pairs: (id, cluster_id = min id of
    the connected component). Iterative min-label propagation — the standard
    shape for turning near-dup PAIRS into dedup GROUPS at scale (keep one
    doc per cluster). Each iteration is one join + one aggregate, label
    state is localCheckpoint'ed to cut lineage; converges in O(diameter)
    iterations (components from near-dup edges are shallow in practice).
    Raises ``RuntimeError`` if labels still change after ``_CC_MAX_ITER``
    rounds, rather than return components split at the cap.

    Deterministic: the fixpoint (min id reachable) is order-independent, so
    a DuckDB recursive CTE computes the identical result (the oracle).
    """
    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst")).unionByName(
        pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
    ).distinct().localCheckpoint(eager=False)
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("label"))
        .localCheckpoint(eager=False)
    )
    for _ in range(_CC_MAX_ITER):
        neighbor_min = (
            edges.join(labels, edges.src == labels.id)
            .select(F.col("dst").alias("id"), "label")
            .groupBy("id")
            .agg(F.min("label").alias("nlabel"))
        )
        new_labels = (
            labels.join(neighbor_min, "id", "left")
            .select("id", F.least("label", F.coalesce("nlabel", "label")).alias("label"))
            .localCheckpoint(eager=False)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components: labels still changing after {_CC_MAX_ITER} rounds"
        )
    return labels.select("id", F.col("label").alias("cluster_id"))


def _simhash_band_pairs(sig: DataFrame, bits: int, bands: int) -> DataFrame:
    """Candidate pairs from a (id, simhash) frame via band buckets
    (bit-sampling LSH): agreement on ANY full band ⇒ candidate — guaranteed
    to include every pair with hamming distance < ``bands``. The self-join
    shuffles on (band, key) only, linear-ish at 10^12 docs."""
    per = bits // bands
    mask = (1 << per) - 1
    keys = sig.select(
        "id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftright("simhash", b * per).bitwiseAND(F.lit(mask)).alias("key"),
                )
                for b in range(bands)
            ])
        ).alias("bk"),
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    keys = keys.localCheckpoint(eager=False)  # referenced twice by the self-join
    a = keys.alias("a")
    b = keys.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.key") == F.col("b.key"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def simhash_neardup_pairs(
    df: DataFrame, id_col: str, text_col: str,
    bits: int = 16, bands: int = 2, hamming_max: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs: band-bucket candidates confirmed by exact
    hamming distance ≤ ``hamming_max`` (bit_count of XOR). The signature
    subtree is computed once (checkpointed) and reused for banding and for
    the confirm join. Returns (id_a, id_b, hamming)."""
    sig = simhash(df, id_col, text_col, bits).localCheckpoint(eager=False)
    cands = _simhash_band_pairs(sig, bits, bands)
    sa = sig.select(F.col("id").alias("id_a"), F.col("simhash").alias("sh_a"))
    sb = sig.select(F.col("id").alias("id_b"), F.col("simhash").alias("sh_b"))
    return (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a", "id_b",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= hamming_max)
    )


def incremental_dedup(
    base: DataFrame, incoming: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Ingest-time dedup: of an incoming batch, keep one representative
    (min id) per content hash that does NOT already exist in the base
    corpus. This is the shape every rolling crawl ingest needs — the new
    snapshot is deduped against itself AND against everything already
    stored, without ever recomputing the base corpus's groups.

    Scale: the base side reduces to a distinct 16-byte-hash set (its
    cheapest possible representation; at 10^12 docs this is the hash
    manifest a lakehouse would maintain incrementally), the incoming side
    is one groupBy on the same key, and the anti-join shuffles both on the
    uniformly-distributed hash — no skew, no quadratic term.
    """
    seen = base.select(F.md5(F.col(text_col)).alias("content_hash")).distinct()
    reps = (
        incoming.select(
            F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("content_hash")
        )
        .groupBy("content_hash")
        .agg(F.min("id").alias("keep_id"))
    )
    return reps.join(seen, "content_hash", "left_anti").select("keep_id", "content_hash")


def winnow_fingerprints(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, w: int = 4
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD 2003): hash
    every positional word n-gram, slide a window of ``w`` consecutive grams,
    keep the minimum hash of each full window, dedupe per document. Output
    (id, fp) — the fingerprint set is position-robust: local edits perturb
    only nearby windows, so shared content still collides.

    Round-7: the whole selection is per-document, so it runs inside the
    Arrow batch kernel — md5 in C, the rolling minima as one in-doc loop —
    with ZERO Exchanges (the old plan paid a per-id window shuffle plus a
    global distinct). Values identical: same gram strings, same
    md5[:16] hashes, min over a window of ASCII hex strings is the same
    lexicographic min, full windows only, per-doc distinct."""
    src = spread(df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text")))
    id_ddl = src.schema.fields[0].dataType.simpleString()

    def run(batches):
        import hashlib

        md5 = hashlib.md5
        for b in batches:
            ids, fps = [], []
            for i, s in zip(b["id"].tolist(), b["text"].tolist()):
                if s is None:
                    continue
                hs = [
                    md5(g.encode()).hexdigest()[:16] for g in _py_grams(s, n)
                ]
                if len(hs) < w:
                    continue
                seen = set()
                for p in range(len(hs) - w + 1):
                    m = min(hs[p:p + w])
                    if m not in seen:
                        seen.add(m)
                        ids.append(i)
                        fps.append(m)
            yield {"id": ids, "fp": fps}

    return arrow_kernel(src, run, f"id {id_ddl}, fp string")


def duplicate_spans(
    df: DataFrame, id_col: str, text_col: str, w: int = 8
) -> DataFrame:
    """Substring-level (span) duplication — the scalable approximation of
    Lee et al. 2021's suffix-array ExactSubstr dedup ("Deduplicating
    Training Data Makes Language Models Better"): hash every rolling
    ``w``-token window; a window whose hash occurs in ≥ 2 *distinct*
    documents is duplicated text. Per document returns

    ``(doc_id, n_windows, dup_windows, dup_frac)``

    where ``dup_frac`` is the fraction of the document's windows that are
    duplicated somewhere else in the corpus (the per-doc signal a training
    pipeline thresholds to trim boilerplate spans). Documents shorter than
    ``w`` tokens have no windows and are dropped.

    Scale shape (the reason this replaces a suffix array at 10^12 docs):
    map-only window hashing (array expression, no per-gram window
    function), then one groupBy on the 16-byte hash and one hash-keyed
    join back — both linear, map-side combined, skew-benign (a window
    shared by millions of docs is one hot *build* key, which AQE splits).
    No driver state, no all-pairs. ``dup_frac`` is an unrounded int/int
    IEEE double, so the DuckDB oracle is bit-identical.
    """
    # Round-7: window hashes come from the Arrow batch kernel (md5 in C —
    # the old ``transform`` lambda was interpreted per element), PRE-REDUCED
    # to one (doc_id, h, cnt) row per distinct hash per doc, which both
    # shrinks the build shuffle and turns the old count_distinct into a
    # plain count. Totals are identical: Σcnt = window count, dup windows =
    # Σcnt over hashes seen in ≥ 2 docs.
    src = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    id_ddl = src.schema.fields[0].dataType.simpleString()

    def run(batches):
        import hashlib
        from collections import Counter

        md5 = hashlib.md5
        for b in batches:
            ids, hs, cs = [], [], []
            for i, s in zip(b["doc_id"].tolist(), b["text"].tolist()):
                if s is None:
                    continue
                ws_ = s.strip(" ").lower().split(" ")
                if len(ws_) < w:
                    continue
                counts = Counter(
                    md5(" ".join(ws_[p:p + w]).encode()).hexdigest()
                    for p in range(len(ws_) - w + 1)
                )
                for h, c in counts.items():
                    ids.append(i)
                    hs.append(h)
                    cs.append(c)
            yield {"doc_id": ids, "h": hs, "cnt": cs}

    wins = arrow_kernel(src, run, f"doc_id {id_ddl}, h string, cnt long")
    # referenced twice (dup-set build + probe); checkpoint so the kernel
    # pass runs once
    wins = wins.localCheckpoint(eager=False)
    dup = (
        wins.groupBy("h")
        .agg(F.count(F.lit(1)).alias("nd"))  # rows are per-doc distinct
        .filter(F.col("nd") >= 2)
        .select("h", F.lit(True).alias("dup"))
    )
    return (
        wins.join(dup, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_windows"),
            F.sum(F.when(F.col("dup"), F.col("cnt")).otherwise(F.lit(0))).alias("dup_windows"),
        )
        .select(
            "doc_id",
            "n_windows",
            "dup_windows",
            (F.col("dup_windows") / F.col("n_windows")).alias("dup_frac"),
        )
    )


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 16) -> DataFrame:
    """16-bit SimHash by bit voting over token md5s (portable hex-digit bits).

    Bit j of token t = parity of hex digit j of md5(t); the doc bit is the
    sign of the vote sum; value = Σ bit_j · 2^j. Round-7: the vote is
    per-document, so it runs inside the Arrow batch kernel (md5 in C,
    integer votes) with zero Exchanges — the old plan exploded every token
    and paid an id-keyed 16-aggregate shuffle. Values identical: same
    tokens (empty ones dropped), same hex-digit parity votes, same sign
    rule; docs with no non-empty token emit nothing (the old groupBy had
    no rows for them)."""
    src = spread(df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text")))
    id_ddl = src.schema.fields[0].dataType.simpleString()
    odd = set("13579bdf")

    def run(batches):
        import hashlib

        md5 = hashlib.md5
        for b in batches:
            ids, vals = [], []
            for i, s in zip(b["id"].tolist(), b["text"].tolist()):
                if s is None:
                    continue
                ws_ = [w for w in s.strip(" ").lower().split(" ") if w != ""]
                if not ws_:
                    continue
                votes = [0] * bits
                for w in ws_:
                    h = md5(w.encode()).hexdigest()
                    for j in range(bits):
                        votes[j] += 1 if h[j] in odd else -1
                ids.append(i)
                vals.append(
                    sum((1 << j) for j in range(bits) if votes[j] > 0)
                )
            yield {"id": ids, "simhash": vals}

    return arrow_kernel(src, run, f"id {id_ddl}, simhash long")
