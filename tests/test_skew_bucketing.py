"""Skew-salting correctness."""

from __future__ import annotations

from pyspark.sql import functions as F

from xml_to_sqlite3_spark.operators.skew import salted_join


def test_salted_join_matches_plain_join(spark):
    # heavily skewed left: one key holds 10k of 10.2k rows
    left = spark.range(10000).select(
        F.lit("hot").alias("k"), F.col("id").alias("v")
    ).unionByName(
        spark.range(200).select(
            F.concat(F.lit("cold"), F.col("id") % 20).alias("k"),
            F.col("id").alias("v"),
        )
    )
    right = spark.createDataFrame(
        [("hot", 1.5)] + [(f"cold{i}", float(i)) for i in range(20)] + [("orphan", 9.9)],
        "k string, w double",
    )

    plain = left.join(right, "k").select("k", "v", "w")
    salted = salted_join(left, right, "k", salt=8).select("k", "v", "w")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))

    # left join keeps unmatched left rows exactly once
    lp = left.join(right, "k", "left").count()
    ls = salted_join(left, right, "k", salt=8, how="left").count()
    assert lp == ls == left.count()
