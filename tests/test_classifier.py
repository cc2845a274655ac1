"""Unit tests for the distributed logistic-regression quality classifier
(semantics beyond the unrolled-CTE oracle parity in test_entry_oracle)."""

import pyspark.sql.functions as F

from b_pdf_parser_spark.operators.classifier import (
    logreg_report,
    standardize,
    train_logreg,
)


def _toy(spark):
    # y follows x1 perfectly; x2 is noise, x3 constant (zero-std path)
    rows = [(float(i % 2), float(i % 2), float((i * 7) % 5) / 5, 0.3)
            for i in range(40)]
    return spark.createDataFrame(rows, "y double, x1 double, x2 double, x3 double") \
        .withColumn("x4", F.lit(0.5) - F.col("x1"))


def test_logreg_learns_separable_data(spark):
    feats, means, stds = standardize(_toy(spark))
    w = train_logreg(feats, n_iter=10, lr=1.0)
    # x1 is the positive signal, x4 = 0.5 - x1 the mirrored negative one
    assert w[1] > 0.5 and w[4] < -0.5
    z = (F.lit(w[0]) + F.lit(w[1]) * F.col("x1") + F.lit(w[2]) * F.col("x2")
         + F.lit(w[3]) * F.col("x3") + F.lit(w[4]) * F.col("x4"))
    acc = feats.select(((z >= 0) == (F.col("y") == 1.0)).cast("int").alias("c")) \
        .agg(F.avg("c")).first()[0]
    assert acc == 1.0


def test_standardize_constant_feature_maps_to_zero(spark):
    feats, means, stds = standardize(_toy(spark))
    assert stds[2] == 0.0  # x3 constant
    assert feats.agg(F.max(F.abs("x3"))).first()[0] == 0.0


def test_training_is_partitioning_independent(spark):
    base = _toy(spark)
    w1 = train_logreg(standardize(base.repartition(1))[0], n_iter=5)
    w2 = train_logreg(standardize(base.repartition(13))[0], n_iter=5)
    assert w1 == w2  # decimal-exact sums: bit-identical trajectories
