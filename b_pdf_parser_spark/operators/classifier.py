"""Distributed logistic-regression quality classifier (from scratch).

The quality-filter stage real LLM data pipelines run (LLaMA's
"Wikipedia-likeness" classifier, GPT-3's WebText discriminator — public
method: a linear classifier over cheap text features, trained to tell
target-domain documents from the raw crawl, scoring every document).
This operator trains it: deterministic full-batch gradient descent on a
small feature vector, entirely as Spark aggregation jobs.

Training structure (the canonical distributed shape, same as the k-means in
``similarity.ivf_ann_topk``): each GD iteration is ONE map-side-combined
aggregation producing the 5-number gradient; only that gradient ever
reaches the driver (a documented driver-sized collect, like the k·dim
centroid table). The per-row gradient contributions are rounded to 9
decimals and summed as DECIMAL(28,9), so the
gradient, and therefore every subsequent weight, is bit-identical under any
partitioning, and a DuckDB oracle can replay the whole optimization as
unrolled CTEs: feature expressions, sigmoid, decimal-summed gradient and
the weight update are all fixed-shape IEEE arithmetic on identical doubles
in both engines.

Scale shape: T iterations = T linear passes over the corpus (map-side
combine, no shuffle wider than the 1-row gradient); scoring is map-only.
At 10^12 docs you'd mini-batch by hash-sampling each pass — same plan
shape, sampled scan.
"""

from __future__ import annotations

from typing import List, Tuple

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

__all__ = ["quality_features", "standardize", "train_logreg", "logreg_report"]


def quality_features(text: Column, toks: Column) -> List[Column]:
    """The four bounded feature columns (each rounded to 4 decimals, so the
    oracle's restatement starts from identical doubles). x1 and x3 ARE the
    shared textstats helpers (one formula source — a stopword-list or
    punct-class change flows to the classifier and the quality/Gopher
    oracles together); x2/x4 stay inline because their shapes differ from
    the helpers (x2 normalizes the UNROUNDED mean word length, x4 is the
    log-length scale only this model uses)."""
    from .textstats import punct_ratio, stopword_ratio

    nt = F.size(toks)
    x1 = stopword_ratio(text)
    mwl = F.when(nt == 0, F.lit(0.0)).otherwise(
        F.length(F.replace(F.trim(text), F.lit(" "), F.lit(""))) / nt
    )
    x2 = F.round(F.least(mwl / F.lit(8.0), F.lit(1.0)), 4)
    x3 = punct_ratio(text)
    x4 = F.round(F.log2(F.lit(1.0) + nt) / F.lit(16.0), 4)
    return [x1, x2, x3, x4]


def _sigmoid(z: Column) -> Column:
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


def standardize(feats: DataFrame) -> Tuple[DataFrame, List[float], List[float]]:
    """Corpus z-scoring of x1..x4 (GD on raw bounded features is
    ill-conditioned: the bias and a narrow-range feature span nearly the
    same direction, so the optimizer zigzags; centering separates them).
    Two decimal-exact aggregation passes; only the 4 means + 4 stds reach
    the driver. The raw features are already rounded to 4 decimals, so the
    DECIMAL(18,4) cast in the mean pass is EXACT (no round needed); the
    squared deviations round to 9 decimals before their sum, which also
    collapses constant-feature float dust to a clean zero std (mapped to a
    zero feature, not a division)."""
    import math

    xs = ["x1", "x2", "x3", "x4"]
    mrow = feats.agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(F.col(c).cast("decimal(18,4)")).cast("double").alias(f"s{c}")
            for c in xs
        ],
    ).collect()[0]
    n = mrow["n"]
    means = [mrow[f"s{c}"] / n for c in xs]
    vrow = feats.agg(
        *[
            F.sum(
                F.round(
                    (F.col(c) - F.lit(means[k])) * (F.col(c) - F.lit(means[k])),
                    9,
                ).cast("decimal(28,9)")
            )
            .cast("double")
            .alias(f"v{c}")
            for k, c in enumerate(xs)
        ]
    ).collect()[0]
    stds = [math.sqrt(vrow[f"v{c}"] / n) for c in xs]
    cols = [
        (F.lit(0.0) if stds[k] == 0.0
         else (F.col(c) - F.lit(means[k])) / F.lit(stds[k])).alias(c)
        for k, c in enumerate(xs)
    ]
    return feats.select("y", *cols), means, stds


def train_logreg(
    feats: DataFrame, n_iter: int = 3, lr: float = 1.0
) -> List[float]:
    """Full-batch GD on ``feats(y, x1..x4)`` → weights ``[w0..w4]`` (w0 is
    the bias). Each iteration collects exactly the 5 decimal-exact gradient
    sums + the row count; the weight update ``w - lr*g`` runs in Python
    doubles — the same single IEEE op the oracle's SQL performs, so the
    trajectories are bit-identical."""
    w = [0.0, 0.0, 0.0, 0.0, 0.0]
    xs = [F.lit(1.0), F.col("x1"), F.col("x2"), F.col("x3"), F.col("x4")]
    for _ in range(n_iter):
        z = F.lit(w[0])
        for k in range(1, 5):
            z = z + F.lit(w[k]) * xs[k]
        err = _sigmoid(z) - F.col("y")
        row = feats.agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.sum(F.round(err * xs[k], 9).cast("decimal(28,9)"))
                .cast("double")
                .alias(f"g{k}")
                for k in range(5)
            ],
        ).collect()[0]  # 6 numbers — the gradient, never the data
        n = row["n"]
        w = [w[k] - lr * (row[f"g{k}"] / n) for k in range(5)]
    return w


def logreg_report(
    docs: DataFrame,
    *,
    label: Column,
    text_col: str = "text",
    n_iter: int = 3,
    lr: float = 1.0,
) -> Tuple[List[float], DataFrame]:
    """Train on ``docs`` with ``label`` as the target predicate and return
    ``(weights, report)`` where ``report`` is one row per metric:
    ``w0..w4`` (rounded to 6) plus the trained classifier's in-corpus
    ``accuracy`` (prediction = decision-boundary sign ``z >= 0``, which
    equals ``sigmoid(z) >= 0.5`` without evaluating the sigmoid at the
    threshold) and ``n_docs``."""
    text = F.col(text_col)
    toks = F.split(F.lower(F.trim(text)), " ")
    x1, x2, x3, x4 = quality_features(text, toks)
    # checkpoint the 5-double feature rows: standardize + every GD
    # iteration + the accuracy pass re-scan this frame (11 sequential
    # aggregation jobs), and without the checkpoint each pass re-runs the
    # full text-feature extraction (regex scans over every document).
    # Values are unchanged — only the recomputation is cut; at scale this
    # turns T passes over the corpus text into ONE text pass plus T
    # passes over n·5 doubles.
    raw = docs.select(
        label.cast("double").alias("y"),
        x1.alias("x1"), x2.alias("x2"), x3.alias("x3"), x4.alias("x4"),
    ).localCheckpoint(eager=False)
    feats, _, _ = standardize(raw)
    w = train_logreg(feats, n_iter=n_iter, lr=lr)

    z = F.lit(w[0])
    for k, xc in enumerate(["x1", "x2", "x3", "x4"], start=1):
        z = z + F.lit(w[k]) * F.col(xc)
    correct = (z >= 0) == (F.col("y") == 1.0)
    acc = feats.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(correct.cast("long")).alias("n_correct"),
    )
    spark = docs.sparkSession
    # rounding happens IN Spark (HALF_UP, same as SQL round) — Python's
    # round() is banker's and could diverge on an exact half-ulp
    wrows = spark.createDataFrame(
        [(f"w{k}", float(w[k])) for k in range(5)],
        "metric STRING, value DOUBLE",
    ).select("metric", F.round("value", 6).alias("value"))
    report = wrows.unionByName(
        acc.select(
            F.lit("accuracy").alias("metric"),
            F.round(F.col("n_correct") / F.col("n"), 6).alias("value"),
        )
    ).unionByName(
        acc.select(
            F.lit("n_docs").alias("metric"),
            F.col("n").cast("double").alias("value"),
        )
    )
    return w, report
