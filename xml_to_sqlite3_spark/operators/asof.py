"""Generic as-of join — align each left row with the latest right
row at-or-before it per key (or earliest-at-or-after / nearest).

Spark has no native ASOF JOIN; the scalable formulation is the
union-window trick: tag both sides, union, sort each key's timeline
once, carry the last/first right value, keep left rows. One shuffle
on the key, no range cross-product, no per-key Python — survives
arbitrarily many rows per key (vs. merge_asof-per-group, which
needs the whole key group in one pandas frame).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: str,
    value_cols: list[str],
    suffix: str = "_asof",
    direction: str = "backward",
    tolerance: float | None = None,
) -> DataFrame:
    """For every left row, attach the matching right row per
    pd.merge_asof semantics: ``direction='backward'`` takes the most
    recent right row with right.on <= left.on, ``'forward'`` the
    earliest with right.on >= left.on, ``'nearest'`` whichever is
    closer (ties break backward, like pandas). ``tolerance`` (in the
    ``on`` column's native units; seconds for timestamps) discards
    matches farther than that distance.

    ``value_cols``: right columns to carry, each returned as
    ``<col><suffix>``. Matches are inclusive at equal timestamps.

    The right side is carried as ONE struct of all value columns (plus
    its own ``on``), so the entire matched right row wins atomically —
    a NULL in one of its columns stays NULL rather than letting an
    older row's value bleed through for just that column (which a
    per-column ``last(ignorenulls)`` would do).
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"direction must be backward/forward/nearest, got {direction!r}")

    rights = right.select(
        by,
        on,
        F.lit(0).alias("__side"),
        F.struct(
            F.col(on).alias("__on"), *[F.col(c) for c in value_cols]
        ).alias("__r"),
    )
    for c in left.columns:
        if c not in (on, by):
            rights = rights.withColumn(c, F.lit(None).cast(dict(left.dtypes)[c]))
    lefts = left.withColumn("__side", F.lit(1)).withColumn(
        "__r", F.lit(None).cast(rights.schema["__r"].dataType)
    )

    unioned = lefts.unionByName(rights)
    # backward: right rows sort BEFORE left at equal on -> inclusive
    w_back = (
        W.partitionBy(by)
        .orderBy(F.col(on).asc(), F.col("__side").asc())
        .rowsBetween(W.unboundedPreceding, 0)
    )
    # forward: right rows sort AFTER left at equal on -> inclusive
    w_fwd = (
        W.partitionBy(by)
        .orderBy(F.col(on).asc(), F.col("__side").desc())
        .rowsBetween(0, W.unboundedFollowing)
    )

    cols = [*left.columns, "__side"]
    if direction in ("backward", "nearest"):
        cols.append(F.last("__r", ignorenulls=True).over(w_back).alias("__b"))
    if direction in ("forward", "nearest"):
        cols.append(F.first("__r", ignorenulls=True).over(w_fwd).alias("__f"))
    carried = unioned.select(*cols).filter(F.col("__side") == 1)

    on_type = dict(left.dtypes)[on]

    def _num(col: F.Column) -> F.Column:
        # TIMESTAMP_NTZ (what tz-naive parquet reads as in Spark 4)
        # cannot cast straight to DOUBLE; hop via TIMESTAMP, which
        # yields epoch seconds for both timestamp flavors. The NTZ->TZ
        # hop converts via spark.sql.session.timeZone — exact because
        # session.py pins UTC; in a DST timezone, nearest/tolerance
        # distances spanning a transition would shift by the offset.
        if on_type.startswith("timestamp"):
            return col.cast("timestamp").cast("double")
        return col.cast("double")

    def _dist(match):
        return F.abs(_num(F.col(on)) - _num(match["__on"]))

    if direction == "backward":
        match = F.col("__b")
    elif direction == "forward":
        match = F.col("__f")
    else:
        b, f = F.col("__b"), F.col("__f")
        match = (
            F.when(b.isNull(), f)
            .when(f.isNull(), b)
            .when(_dist(f) < _dist(b), f)  # ties -> backward, like pandas
            .otherwise(b)
        )
    if tolerance is not None:
        match = F.when(_dist(match) <= F.lit(float(tolerance)), match)

    return carried.withColumn("__m", match).select(
        *[c for c in left.columns],
        *[F.col(f"__m.{c}").alias(f"{c}{suffix}") for c in value_cols],
    )
