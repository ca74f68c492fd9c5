"""SparkSession builder.

Local-mode defaults are sized for the test harness (local[32],
128 GiB single JVM); on a real cluster the same settings are safe —
AQE re-plans shuffle partition counts at runtime, so the static
``spark.sql.shuffle.partitions`` value is only an upper bound for the
small scale factors used in tests.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "xml_to_sqlite3_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Tuning rationale (100 TB posture):
      - AQE on: runtime shuffle-partition coalescing + skew-join
        splitting replaces hand-tuned partition counts at scale.
      - Arrow on: every pandas-UDF operator (XML parse, multimodal)
        moves batches, not rows.
      - UTC session timezone: parity with the DuckDB oracle and with
        any downstream engine reading our parquet.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus) if cpus.isdigit() else 32, 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        # Long single-JVM sessions (the driver runs ~70 gate queries
        # back to back) accumulate weakly-referenced state — per-level
        # localCheckpoint blocks from the iterative operators, AQE
        # plan garbage, shuffle files. The cleaner only reclaims these
        # after a JVM GC, and with a 48g heap the default 30min
        # periodic GC never fires inside a bench run — the heap fills
        # until ONE random query pays a ~60-70s full-GC stall
        # (observed: hierarchy_levels 70.8s, descendants 71.5s in
        # otherwise-identical runs). A 2min periodic GC amortizes that
        # cost into sub-second increments.
        .config("spark.cleaner.periodicGC.interval", "2min")
        .config("spark.ui.enabled", "false")
        # keep stdout parseable: bench.py's contract is ONE JSON line,
        # and the console progress bar interleaves with it
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Split sizing stays at Spark's 128 MB default. At test scale
        # factors every table is far below maxPartitionBytes anyway, so
        # the effective split is max(openCostInBytes, bytes/parallelism)
        # — lowering the cap buys nothing (measured: a 16 MB session
        # cap left warm query times unchanged but tripled the graph
        # cache build). The env var stays as an explicit override for
        # experiments only.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", str(128 * 1024 * 1024)),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def scoped_conf(spark: SparkSession, overrides: dict[str, str]) -> Iterator[None]:
    """Set ``overrides`` on the session's runtime conf for the body,
    then put every key back exactly as it was: a key that had an
    explicit value gets that value again, a key that had none is
    unset (so it falls back to Spark's default, not a frozen copy of
    it). Restoring also happens when the body raises.

    These confs are SESSION-GLOBAL and this helper takes no lock: a
    query planned concurrently in the same session (another thread)
    compiles under the overrides, and two overlapping scopes can
    restore in the wrong order. Callers that run concurrently must
    serialize around the scope themselves or use ``spark.newSession()``.
    """
    conf = spark.conf
    explicit = conf.getAll
    saved = {k: explicit.get(k) for k in overrides}
    try:
        for k, v in overrides.items():
            conf.set(k, v)
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def release_query_state(spark: SparkSession) -> None:
    """Drop cached/checkpointed blocks and nudge the JVM's
    ContextCleaner between timed queries. Operators persist or
    checkpoint intermediates (minhash tokens, signatures, edge
    blocks) that stay referenced until GC — measured at sf0.1, the
    blocks the dedup family left behind slowed a later
    graph_distances 2.5x (11.5s -> 29.6s) through storage-memory
    eviction thrash. Never raises: hygiene must not fail a
    measurement."""
    try:
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
    except Exception:  # noqa: BLE001
        pass
