"""Skew-salting correctness and bucketed-join shuffle elimination."""

from __future__ import annotations

from pyspark.sql import functions as F

from xml_to_sqlite3_spark.operators.skew import salted_join, write_bucketed
from xml_to_sqlite3_spark.session import scoped_conf


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


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    spark.sql("DROP TABLE IF EXISTS b_nodes")
    spark.sql("DROP TABLE IF EXISTS b_props")

    nodes = spark.range(5000).select(
        F.concat(F.lit("n"), "id").alias("node_id"), (F.col("id") % 7).alias("t")
    )
    props = spark.range(5000).select(
        F.concat(F.lit("n"), "id").alias("node_id"), (F.col("id") * 2).alias("val")
    )
    write_bucketed(nodes, "b_nodes", "node_id", buckets=8, path=str(tmp_path / "bn"))
    write_bucketed(props, "b_props", "node_id", buckets=8, path=str(tmp_path / "bp"))

    with scoped_conf(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        joined = spark.table("b_nodes").join(spark.table("b_props"), "node_id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan, "bucketed join must not shuffle"
        assert joined.count() == 5000

        # contrast: the same join on unbucketed data shuffles both sides
        plain = nodes.join(props, "node_id")
        plain_plan = plain._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" in plain_plan
