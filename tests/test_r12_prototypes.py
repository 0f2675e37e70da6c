"""Rank-primitive pins for operators/ranking.py.

The two offset rank operators (two_phase_row_number, discrete_key_rank)
must reproduce the single-window row_number exactly, on a skewed frame
with duplicate order keys, and handle empty and NULL-keyed input.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window, functions as F

def _rows(df):
    return [tuple(r) for r in df.collect()]


def test_two_phase_row_number_matches_window(spark):
    from predictor_spark.operators.ranking import two_phase_row_number

    # skewed: one key holds ~90% of rows; duplicate ts values force
    # cross-bucket tie handling through the bucket-is-a-pure-function
    # guarantee
    base = (spark.range(3000)
            .select((F.when(F.col("id") % 10 < 9, "hot")
                     .otherwise("cold")).alias("k"),
                    (F.col("id") % 97).alias("t"),
                    F.col("id").alias("uid")))
    got = two_phase_row_number(base, ["k"], "t", ["t", "uid"],
                               rank_name="i", n_buckets=16)
    w = Window.partitionBy("k").orderBy("t", "uid")
    want = sorted(_rows(
        base.withColumn("i", F.row_number().over(w))
            .select("k", "uid", "i")))
    assert sorted(_rows(got.select("k", "uid", "i"))) == want
    # explicit-bounds path (skips the quantile pass); ANY boundary set
    # must give identical ranks — here a deliberately lopsided one
    got2 = two_phase_row_number(base, ["k"], "t", ["t", "uid"],
                                rank_name="i", bounds=[5.0, 50.0, 90.0])
    assert sorted(_rows(got2.select("k", "uid", "i"))) == want


def test_discrete_key_rank_matches_window(spark):
    from predictor_spark.operators.ranking import discrete_key_rank

    base = (spark.range(3000)
            .select((F.when(F.col("id") % 10 < 9, "hot")
                     .otherwise("cold")).alias("k"),
                    (F.col("id") % 97).alias("t"),
                    F.col("id").alias("uid")))
    got = discrete_key_rank(base, ["k"], "t", ["uid"],
                            rank_name="i", total_name="n")
    w = Window.partitionBy("k").orderBy("t", "uid")
    want = (base.withColumn("i", F.row_number().over(w))
            .withColumn("n", F.count(F.lit(1)).over(
                Window.partitionBy("k"))))
    assert sorted(_rows(got.select("k", "uid", "i", "n"))) == \
        sorted(_rows(want.select("k", "uid", "i", "n")))


def test_rank_operators_empty_input(spark):
    """Empty-input short-circuit (ADVICE r11): both offset operators
    must return an empty frame with the rank column attached — the
    window form's behavior — instead of crashing in createDataFrame
    schema inference."""
    from predictor_spark.operators.ranking import (discrete_key_rank,
                                                   two_phase_row_number)

    base = (spark.range(10)
            .select(F.lit("k").alias("k"), F.col("id").alias("t"),
                    F.col("id").alias("uid"))
            .filter(F.col("t") < 0))
    got = discrete_key_rank(base, ["k"], "t", ["uid"],
                            rank_name="i", total_name="n")
    assert got.count() == 0
    assert set(got.columns) == {"k", "t", "uid", "i", "n"}
    got2 = two_phase_row_number(base, ["k"], "t", ["t", "uid"],
                                rank_name="i", n_buckets=4)
    assert got2.count() == 0
    assert "i" in got2.columns


def test_rank_operators_null_keys_raise(spark):
    """NULL group keys fail EARLY with a clear error (ADVICE r11)
    instead of a driver-side sorted() TypeError or silent row loss in
    the offset equi-join."""
    from predictor_spark.operators.ranking import (discrete_key_rank,
                                                   two_phase_row_number)

    base = (spark.range(20)
            .select(F.lit("k").alias("k"),
                    F.when(F.col("id") % 7 == 0, None)
                    .otherwise(F.col("id") % 5).alias("t"),
                    F.col("id").alias("uid")))
    with pytest.raises(ValueError, match="NULL in 't'"):
        discrete_key_rank(base, ["k"], "t", ["uid"], rank_name="i")
    null_part = base.withColumn(
        "k", F.when(F.col("uid") % 3 == 0, None).otherwise(F.col("k")))
    with pytest.raises(ValueError, match="NULL in 'k'"):
        two_phase_row_number(null_part, ["k"], "uid", ["uid", "t"],
                             rank_name="i", n_buckets=4)

