"""BPE tokenization as Spark operators: distributed word counting feeds
the driver-side trainer (``functions/bpe.py``), the learned merge table
broadcasts into an Arrow-batched encode.

100-TB shape:

* **training** — ``regexp_extract_all → explode → groupBy(word).count()``
  is a map-side-combined shuffle whose output is the corpus VOCABULARY,
  not the corpus; ``orderBy(count desc, word).limit(top_words)`` lowers
  to TakeOrderedAndProject, so the driver holds at most ``top_words``
  rows (a few MB) no matter the input size. At real web scale you would
  additionally pre-filter ``count >= min_count`` (parameter provided) —
  the shape is unchanged.
* **encoding** — map-only: the merge table (``n_merges`` string pairs,
  a few KB) ships in the UDF closure; each Arrow batch encodes each
  DISTINCT word once via a per-worker cache that is bounded by the
  corpus vocabulary. Zero joins, zero shuffles, no per-row Python
  dispatch (one ``arrow_udf`` call per batch).

The reference repo has no tokenizer (SURVEY §2.11 addition, not a parity
surface); the algorithm is Sennrich et al. 2016.
"""

from __future__ import annotations

from typing import List, Tuple

import pyarrow as pa  # module scope: arrow_udf resolves stringized hints here
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from .. import ship_package
from ..functions.bpe import WORD_PATTERN, encode_text, merge_ranks, train_bpe

__all__ = ["train_bpe_on", "bpe_tokenize"]


def train_bpe_on(
    df: DataFrame,
    text_col: str,
    *,
    n_merges: int = 50,
    top_words: int = 5000,
    min_count: int = 1,
) -> List[Tuple[str, str]]:
    """Learn a merge table from a text column. Deterministic: the
    word-count table is truncated to the ``top_words`` most frequent
    words (ties broken by word ASC) before training, so the result is a
    pure function of the column's content — which is what lets the
    DuckDB oracle recompute the counts independently and reach the
    identical merge table (``tests/test_bpe.py``)."""
    wc = (
        df.select(
            F.explode(
                F.regexp_extract_all(F.col(text_col), F.lit(WORD_PATTERN), F.lit(0))
            ).alias("word")
        )
        .groupBy("word")
        .count()
        .filter(F.col("count") >= min_count)
        .orderBy(F.desc("count"), F.asc("word"))
        .limit(top_words)
        .collect()
    )
    return train_bpe({r["word"]: r["count"] for r in wc}, n_merges)


def bpe_tokenize(
    df: DataFrame,
    text_col: str,
    merges: List[Tuple[str, str]],
    *,
    out_col: str = "tokens",
) -> DataFrame:
    """Append ``out_col`` (array<string> of BPE tokens, document order)
    and ``n_tokens`` (int). Arrow-batched scalar UDF; see module
    docstring for the scale shape."""
    import re

    ship_package(df.sparkSession)  # the arrow_udf runs package code
    ranks = merge_ranks(merges)  # small dict, ships in the closure
    # cache + pattern live OUTSIDE the UDF body: the closure is
    # deserialized once per python worker and reused across Arrow
    # batches, so the per-distinct-word encode cost is paid once per
    # worker, not once per 4096-row batch
    pat = re.compile(WORD_PATTERN)
    cache: dict = {}

    @F.arrow_udf("array<string>")
    def _encode(texts: pa.Array) -> pa.Array:
        return pa.array(
            [encode_text(t, ranks, pattern=pat, cache=cache) for t in texts.tolist()],
            pa.list_(pa.string()),
        )

    return df.withColumn(out_col, _encode(text_col)).withColumn(
        "n_tokens", F.size(out_col)
    )
