"""Skew-management utilities.

``salted_join``: a hot key (one customer with 100M rows) turns a
hash join into a single straggler task. Salting splits each left
key into S sub-keys and replicates the matching right rows S ways —
the hot partition becomes S even ones. AQE's skew-join handles
moderate skew automatically; explicit salting is for the extreme
tail where even a split partition exceeds memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join on ``key`` with the left side's keys salted S ways
    and the right side replicated to match. For the supported join
    types the result is identical to ``left.join(right, key, how)``;
    the shuffle distributes each key across ``salt`` partitions
    instead of one.

    Only left-preserving joins are supported: because the right side
    is replicated ``salt`` times, a right- or full-outer join would
    emit each unmatched right row once per salt value.

    Use when the LEFT side is skewed (many rows per hot key) and the
    RIGHT side is small enough to replicate ``salt`` times.
    """
    supported = {"inner", "left", "left_outer", "leftouter", "left_semi",
                 "leftsemi", "left_anti", "leftanti"}
    if how not in supported:
        raise ValueError(
            f"salted_join supports left-preserving joins only {sorted(supported)}, "
            f"got {how!r}: the replicated right side would duplicate unmatched "
            "right rows in right/full outer joins"
        )
    salted_left = left.withColumn(
        "__salt", (F.abs(F.hash(F.monotonically_increasing_id())) % salt).cast("int")
    )
    salted_right = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(s) for s in range(salt)]))
    )
    return salted_left.join(salted_right, [key, "__salt"], how).drop("__salt")


def skew_report(df: DataFrame, key_col: str, top: int = 10) -> DataFrame:
    """Key-distribution diagnostics for a prospective join/agg key:
    the ``top`` hottest keys with their row count, share of all rows,
    skew ratio vs the mean key load, and the salt factor that would
    level that key (the ``salt`` argument salted_join needs).

    This is the measurement half of the skew toolkit: run it on the
    join key BEFORE a 100 TB join; a skew_ratio near 1 means hash
    partitioning is already balanced, a 1000x key either gets salted
    (salted_join) or AQE skew-join handles it. Shape: one hash agg to
    key counts (map-side partial), a 1-row stats broadcast, top-k.
    """
    counts = df.groupBy(F.col(key_col).cast("string").alias("key")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    stats = counts.agg(
        F.sum("cnt").alias("__total"), F.count(F.lit(1)).alias("__n_keys")
    )
    mean_load = F.col("__total") / F.col("__n_keys")
    return (
        counts.crossJoin(F.broadcast(stats))
        .select(
            "key",
            "cnt",
            F.round(F.col("cnt") / F.col("__total"), 6).alias("share"),
            F.round(F.col("cnt") / mean_load, 4).alias("skew_ratio"),
            F.ceil(F.col("cnt") / mean_load).cast("int").alias("suggested_salt"),
        )
        .orderBy(F.desc("cnt"), "key")
        .limit(top)
    )
