"""Dedup-operator unit tests: connected components on synthetic graphs,
ngram-Jaccard confirmation of LSH candidates."""

import pytest

from b_pdf_parser_spark.operators.dedup import (
    connected_components,
    ngram_jaccard_pairs,
    simhash_neardup_pairs,
    winnow_fingerprints,
)


def test_connected_components_shapes(spark):
    # two components {1,2,3,4} (chain) and {10,11}, plus isolated pair {20,21}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21)], "id_a long, id_b long"
    )
    got = {r["id"]: r["cluster_id"] for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_connected_components_cycle_and_bridge(spark):
    pairs = spark.createDataFrame(
        [(5, 6), (6, 7), (7, 5), (7, 8), (8, 9)], "id_a long, id_b long"
    )
    got = {r["id"]: r["cluster_id"] for r in connected_components(pairs).collect()}
    assert set(got.values()) == {5} and len(got) == 5


def test_ngram_jaccard_confirms_lsh_candidates(spark):
    # 1/2 identical, 3 a one-word edit of them, 4 unrelated: the identical
    # pair must confirm at jaccard 1.0; the edited doc scores < 1; unrelated
    # docs never survive a 0.9 threshold
    base = "the quick brown fox jumps over the lazy dog near the old river bank"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base),
            (3, base.replace("lazy", "sleepy")),
            (4, "completely different text about spark query planning and shuffles"),
        ],
        "doc_id long, text string",
    )
    rows = {(r["id_a"], r["id_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(docs, "doc_id", "text").collect()}
    assert rows[(1, 2)] == 1.0
    assert all(j < 1.0 for (a, b), j in rows.items() if (a, b) != (1, 2))
    confirmed = ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.9).collect()
    assert {(r["id_a"], r["id_b"]) for r in confirmed} == {(1, 2)}


def test_simhash_neardup_identical_docs_at_hamming_zero(spark):
    base = "the quick brown fox jumps over the lazy dog near the old river bank"
    docs = spark.createDataFrame(
        [(1, base), (2, base), (3, base.replace("lazy", "sleepy")),
         (4, "unrelated corpus about catalyst optimizer rules and shuffle exchange plans")],
        "doc_id long, text string",
    )
    rows = {(r["id_a"], r["id_b"]): r["hamming"]
            for r in simhash_neardup_pairs(docs, "doc_id", "text").collect()}
    assert rows[(1, 2)] == 0                       # identical → distance 0
    assert all(h <= 3 for h in rows.values())      # confirm threshold honored


def test_winnowing_local_edit_preserves_most_fingerprints(spark):
    base = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet "
            "kilo lima mike november oscar papa quebec romeo sierra tango")
    edited = base.replace("india", "INDIA_EDIT")
    docs = spark.createDataFrame([(1, base), (2, edited)], "doc_id long, text string")
    fps = winnow_fingerprints(docs, "doc_id", "text").collect()
    a = {r["fp"] for r in fps if r["id"] == 1}
    b = {r["fp"] for r in fps if r["id"] == 2}
    assert len(a) > 3
    # a one-token edit perturbs only the windows covering it: the fingerprint
    # sets still overlap heavily (the property winnowing exists for)
    overlap = len(a & b) / len(a | b)
    assert overlap > 0.4, (a, b)
    # deterministic: recomputation yields the identical set
    again = {r["fp"] for r in winnow_fingerprints(docs, "doc_id", "text").collect()
             if r["id"] == 1}
    assert again == a


def test_duplicate_spans_flags_shared_window_and_drops_short_docs(spark):
    shared = "one two three four five six seven eight"  # exactly 8 tokens
    docs = spark.createDataFrame(
        [
            (1, shared + " tail alpha beta"),
            (2, "head " + shared),
            (3, "totally unrelated words nine ten eleven twelve thirteen fourteen"),
            (4, "short doc"),  # < 8 tokens → no windows → dropped
        ],
        "doc_id long, text string",
    )
    from b_pdf_parser_spark.operators.dedup import duplicate_spans

    rows = {r["doc_id"]: r for r in duplicate_spans(docs, "doc_id", "text").collect()}
    assert set(rows) == {1, 2, 3}
    # doc1: 11 tokens → 4 windows, exactly one (the leading 8) shared with doc2
    assert rows[1]["n_windows"] == 4 and rows[1]["dup_windows"] == 1
    assert rows[1]["dup_frac"] == 0.25
    # doc2: 9 tokens → 2 windows, the trailing one shared
    assert rows[2]["n_windows"] == 2 and rows[2]["dup_windows"] == 1
    assert rows[3]["dup_windows"] == 0 and rows[3]["dup_frac"] == 0.0


def test_intra_doc_repetition_hand_counts(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b a b a"),       # 2-grams: ab ba ab ba → top 2/4; 3-grams: aba bab aba → dup 2/3
            (2, "x y z w"),         # all grams unique
            (3, "t u"),             # 2 tokens → no 3-grams → dropped
        ],
        "doc_id long, text string",
    )
    from b_pdf_parser_spark.operators.textstats import intra_doc_repetition

    rows = {r["doc_id"]: r for r in intra_doc_repetition(docs).collect()}
    assert set(rows) == {1, 2}
    assert rows[1]["top_2gram_frac"] == 0.5
    assert rows[1]["dup_3gram_frac"] == 2 / 3
    assert rows[2]["top_2gram_frac"] == 1 / 3
    assert rows[2]["dup_3gram_frac"] == 0.0


def test_connected_components_raises_at_round_cap(spark, monkeypatch):
    # a 10-node path needs 9 label rounds; a cap of 3 must fail loudly
    # instead of returning the path split into several clusters
    from b_pdf_parser_spark.operators import dedup

    monkeypatch.setattr(dedup, "_CC_MAX_ITER", 3)
    pairs = spark.createDataFrame([(i, i + 1) for i in range(9)], "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="still changing"):
        connected_components(pairs)
