"""salted_join: result-identical to the plain join on a skewed key
distribution; the hot key's rows spread across all salt values."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.joins import SALT_COL, salted_join


def _skewed(spark):
    # 90% of fact rows hit one key
    big = spark.range(20000).select(
        F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id") % 100)
        .alias("k"),
        F.col("id").alias("v"))
    small = spark.range(100).select(
        F.col("id").alias("k"),
        F.concat(F.lit("dim-"), F.col("id")).alias("label"))
    return big, small


def test_salted_join_matches_plain(spark):
    big, small = _skewed(spark)
    plain = big.join(small, "k").select("k", "v", "label")
    salted = salted_join(big, small, "k", salt=8).select("k", "v", "label")
    assert salted.count() == plain.count()
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0


def test_salt_spreads_hot_key(spark):
    big, _ = _skewed(spark)
    salted = big.withColumn(
        SALT_COL, (F.rand(42) * 8).cast("int"))
    n_salts = (salted.filter(F.col("k") == 7)
               .select(SALT_COL).distinct().count())
    assert n_salts == 8  # the hot key now occupies 8 shuffle keys


def test_left_join_preserved(spark):
    big, small = _skewed(spark)
    small_half = small.filter(F.col("k") < 50)
    plain = big.join(small_half, "k", "left").select("k", "v", "label")
    salted = salted_join(big, small_half, "k", salt=4, how="left") \
        .select("k", "v", "label")
    assert salted.count() == plain.count()
    assert salted.exceptAll(plain).count() == 0
