"""Range (interval containment) join — the scale-path formulation.

Spark has no native range-join optimization (a plain
`points JOIN intervals ON ts BETWEEN start AND end` compiles to
BroadcastNestedLoopJoin or a cross product): the standard distributed
strategy is BUCKETED pre-partitioning — quantize time into
fixed-width buckets, explode each interval into the buckets it
covers, equi-join points to interval-buckets on (key..., bucket),
then apply the exact containment predicate. The O(P x I) cross
product becomes O(P + I x buckets_per_interval) shuffle rows, and
Catalyst executes the bucket match as an ordinary hash join with all
its machinery (AQE, skew splitting, broadcast for small sides).

A point lives in exactly one bucket, and an interval covers each of
its buckets exactly once, so the bucket join produces each true
(point, interval) match exactly once — no post-dedup needed.

Pick `bucket_seconds` near the typical interval length: shorter
buckets multiply the interval-side explode, longer buckets multiply
false candidates filtered by the exact predicate. A pathologically
long interval (>> bucket_seconds) fans out proportionally — cap it
upstream or raise the bucket width; both sides stay linear in true
coverage either way.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..io_util import ts_seconds


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    ts_col: str,
    start_col: str,
    end_col: str,
    by: Sequence[str] = (),
    bucket_seconds: int = 3600,
) -> DataFrame:
    """Join each point row to every interval row containing it:
    ``start <= ts <= end`` (inclusive both ends, merge_asof-style),
    optionally also matching on equality keys ``by``. Returns the
    point columns plus the interval's columns (minus any duplicated
    ``by`` names).

    Timestamp and TIMESTAMP_NTZ columns are handled via the shared
    NTZ-safe epoch conversion; plain numeric columns work unchanged.
    """
    by = list(by)

    def _secs(df: DataFrame, c: str) -> F.Column:
        if dict(df.dtypes)[c].startswith("timestamp"):
            return ts_seconds(F.col(c))
        return F.col(c).cast("long")

    p = points.withColumn(
        "__b", F.floor(_secs(points, ts_col) / F.lit(bucket_seconds)).cast("long")
    )
    i = intervals.withColumn(
        "__b",
        F.explode(
            F.sequence(
                F.floor(_secs(intervals, start_col) / F.lit(bucket_seconds)).cast(
                    "long"
                ),
                F.floor(_secs(intervals, end_col) / F.lit(bucket_seconds)).cast(
                    "long"
                ),
            )
        ),
    )
    # avoid duplicated non-key columns on the interval side
    dup = set(points.columns) - set(by)
    i = i.select(
        *by,
        "__b",
        *[F.col(c) for c in intervals.columns if c not in by and c not in ("__b",)],
    )
    for c in dup & set(i.columns) - {"__b", *by}:
        i = i.withColumnRenamed(c, f"{c}_interval")

    start_ref = start_col if start_col in i.columns else f"{start_col}_interval"
    end_ref = end_col if end_col in i.columns else f"{end_col}_interval"
    contained = (F.col(ts_col) >= F.col(start_ref)) & (
        F.col(ts_col) <= F.col(end_ref)
    )
    return p.join(i, [*by, "__b"]).filter(contained).drop("__b")
