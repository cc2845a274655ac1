"""From-scratch byte-pair-encoding tokenizer (Sennrich, Haddow & Birch
2016, "Neural Machine Translation of Rare Words with Subword Units" —
public algorithm). Pure-Python core shared by the Spark operator
(``operators/bpe.py``) and the DuckDB oracle constructor
(``__spark_entry__``), so both sides price tokens in the SAME units.

Round-5 verdict #2: ``textstats.token_count`` (whitespace split) and
``bpe_ish_count`` (character-class heuristic) denominate token budgets in
heuristic units; this module makes them real. The reference repo has no
tokenizer at all (its unit is regex-extracted transaction rows) — this is
an LLM-data-pipeline addition, not a parity surface.

Design choices, pinned for oracle restatability:

* **Pre-tokenization**: words are ``[A-Za-z]+|[0-9]+`` matches, in order
  (``WORD_PATTERN``) — identical regex on the Spark and DuckDB sides.
* **No end-of-word marker**: merges never cross word boundaries, and a
  word's encoding is independent of its neighbors (what lets the oracle
  encode each DISTINCT word once).
* **Deterministic training**: highest pair count wins, ties broken by
  lexicographically smallest ``(a, b)``; training stops early when no
  adjacent pair occurs at least twice (merging singletons is noise and
  makes tie-break storms).
* **Leftmost-best encoding**: at each step, merge the LEFTMOST occurrence
  of the lowest-ranked mergeable pair. This is step-for-step what the
  DuckDB recursive-CTE oracle does, and it is EQUIVALENT to the textbook
  "merge all occurrences of the best pair at once" encode: a merge of
  rank r can only create pairs involving its output symbol, and any
  learned pair containing that symbol was necessarily learned LATER
  (rank > r), so while any occurrence of the current best pair remains,
  no newly created pair can outrank it — the per-occurrence and
  all-at-once orders perform the same multiset of merges.
  ``tests/test_bpe.py`` asserts the equivalence against an independent
  merge-all implementation on randomized words.
"""

from __future__ import annotations

from typing import Dict, List, Sequence, Tuple

__all__ = ["WORD_PATTERN", "train_bpe", "encode_word", "encode_text", "merge_ranks"]

WORD_PATTERN = "[A-Za-z]+|[0-9]+"


def train_bpe(
    word_counts: Dict[str, int], n_merges: int
) -> List[Tuple[str, str]]:
    """Learn up to ``n_merges`` merges from a word→count table.

    The classic algorithm: every word starts as a character sequence;
    each step merges the adjacent symbol pair with the highest total
    count (weighted by word counts), ties to the lexicographically
    smallest pair; stops early when the best pair occurs fewer than
    twice. Returns merges in learn order (rank = list index)."""
    words: List[Tuple[List[str], int]] = [
        (list(w), c) for w, c in sorted(word_counts.items()) if w
    ]
    merges: List[Tuple[str, str]] = []
    for _ in range(n_merges):
        counts: Dict[Tuple[str, str], int] = {}
        for syms, c in words:
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + c
        if not counts:
            break
        # max count, then smallest pair — ONE deterministic winner
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if counts[best] < 2:
            break
        merges.append(best)
        a, b = best
        ab = a + b
        for syms, _ in words:
            i = 0
            while i < len(syms) - 1:
                if syms[i] == a and syms[i + 1] == b:
                    syms[i : i + 2] = [ab]
                else:
                    i += 1
    return merges


def merge_ranks(merges: Sequence[Tuple[str, str]]) -> Dict[Tuple[str, str], int]:
    """Pair → rank lookup (lower rank = earlier merge = higher priority)."""
    return {pair: i for i, pair in enumerate(merges)}


def encode_word(word: str, ranks: Dict[Tuple[str, str], int]) -> List[str]:
    """Greedy BPE encode of one word: repeatedly merge the LEFTMOST
    occurrence of the lowest-ranked present pair (see module docstring
    for the equivalence argument)."""
    syms = list(word)
    while len(syms) > 1:
        best_rank = None
        best_i = -1
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank = r
                best_i = i
        if best_rank is None:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def encode_text(
    text: str,
    ranks: Dict[Tuple[str, str], int],
    pattern=None,
    cache: Dict[str, List[str]] | None = None,
) -> List[str]:
    """Tokenize a document: pre-tokenize with ``WORD_PATTERN``, encode
    each word, concatenate in order. ``cache`` (word → tokens) amortizes
    the per-distinct-word cost across a batch/partition."""
    import re

    pat = pattern or re.compile(WORD_PATTERN)
    out: List[str] = []
    for w in pat.findall(text or ""):
        if cache is not None:
            toks = cache.get(w)
            if toks is None:
                toks = encode_word(w, ranks)
                cache[w] = toks
        else:
            toks = encode_word(w, ranks)
        out.extend(toks)
    return out
