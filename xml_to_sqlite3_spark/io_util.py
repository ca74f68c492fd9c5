"""Table loading helpers for the driver's parquet layout.

Every parquet read here infers its schema at most once per file
version: the inferred ``StructType`` is memoized on the path plus its
stat fingerprint (``cache_util.stat_fingerprint``: name, size and
mtime_ns of each directory entry, or size and mtime_ns of a file),
and later reads pass it to ``spark.read.schema(...)``, which runs no
footer job. A file rewritten in place gets a new mtime or size and so
a new inference; a path that cannot be stat'ed (a glob, a remote URI)
is inferred on every read.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .cache_util import stat_fingerprint
from .session import scoped_conf


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one of the driver's parquet tables.

    The testdata's ``events.ts`` encoding has changed across driver
    rounds — int64 TIMESTAMP(NANOS) (rejected by the vectorized
    reader, hence the nanosAsLong-safe read) and plain parquet
    TIMESTAMP micros (which Spark 4 reads as TIMESTAMP_NTZ). Both
    land here; ``normalize_event_ts`` converts conditionally so every
    consumer sees a real timestamp column either way.
    """
    df = _read_parquet_nanos_safe(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = normalize_event_ts(df)
    return df


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Shared batch/stream normalization for ``events.ts``.

    Converts ONLY when the column actually arrives as bigint (the
    legacy int64-nanos encoding; integer division — nanosecond
    magnitudes overflow double precision, matching DuckDB's ns->us
    cast). A native TIMESTAMP/TIMESTAMP_NTZ column passes through
    untouched. Batch (`load`) and stream (`streaming.ingest`) both go
    through this one helper so they cannot diverge.
    """
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def ts_seconds(col: F.Column) -> F.Column:
    """Epoch seconds from either TIMESTAMP or TIMESTAMP_NTZ.

    TIMESTAMP_NTZ (what tz-naive parquet reads as in Spark 4) cannot
    cast straight to BIGINT; hop via TIMESTAMP first, which yields
    epoch seconds for both flavors. Exact because session.py pins
    spark.sql.session.timeZone=UTC — in a DST timezone the NTZ->TZ
    hop would shift across transitions.
    """
    return col.cast("timestamp").cast("long")


def events_ts_is_nanos(spark: SparkSession, path: str) -> bool:
    """Whether the events parquet at ``path`` stores ts as int64 nanos
    (legacy encoding) vs a real parquet TIMESTAMP. Footer-only batch
    peek; used by the streaming reader to pick its explicit schema."""
    return dict(_read_parquet_nanos_safe(spark, path).dtypes).get("ts") == "bigint"


_NANOS_CONF_LOCK = threading.Lock()
_SCHEMAS: dict[tuple[str, str], StructType] = {}


def _read_parquet_nanos_safe(spark: SparkSession, path: str) -> DataFrame:
    # the set/capture/restore of a SESSION-GLOBAL conf is not thread
    # safe: two concurrent loads (the graph build overlaps its nodes
    # and properties writes from two threads) can interleave so one
    # thread's restore lands between another's set and its read —
    # the module-level lock serializes the critical section (and the
    # schema memo with it).
    real = os.path.realpath(path)
    key = (real, stat_fingerprint(real))
    with _NANOS_CONF_LOCK, scoped_conf(
        spark, {"spark.sql.legacy.parquet.nanosAsLong": "true"}
    ):
        if key in _SCHEMAS:
            return spark.read.schema(_SCHEMAS[key]).parquet(path)
        df = spark.read.parquet(path)
        if key[1]:  # a path with no stat has no version to key on
            _SCHEMAS[key] = df.schema
        return df
