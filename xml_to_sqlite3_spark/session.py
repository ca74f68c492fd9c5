"""SparkSession builder.

Local-mode defaults follow the machine: one local thread per CPU
(``SPARK_GRAFT_CPUS`` overrides) and a single driver JVM of half the
physical memory, capped at 48g (``SPARK_GRAFT_DRIVER_MEM``
overrides). On a real cluster the same settings are safe — AQE
re-plans shuffle partition counts at runtime, so the static
``spark.sql.shuffle.partitions`` value is only an upper bound for the
small scale factors used in tests.

Python workers fork from ``worker_daemon``, a daemon that has already
imported pandas, pyarrow and ``pyspark.sql``, so the workers share one
copy of them instead of each importing its own. The daemon is started
as ``python -m xml_to_sqlite3_spark.worker_daemon``, so the package's
parent directory goes to the workers' ``PYTHONPATH``: a driver that
reaches the package through ``sys.path`` (the scripts, the examples,
the tests) and runs from another directory would otherwise start
workers that cannot import it.
"""

from __future__ import annotations

import gc
import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Half of physical memory, capped at 48g: the driver JVM is the
    whole local-mode cluster, and a heap sized past the machine lets
    a store build grow until the kernel kills the JVM (a cold sf0.1
    graph build under a fixed 48g on a 15 GB machine)."""
    try:
        phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    except (ValueError, OSError, AttributeError):
        return "48g"
    return f"{min(48 << 10, phys // 2 >> 20)}m"


def get_spark(
    app_name: str = "xml_to_sqlite3_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Tuning rationale (100 TB posture):
      - AQE, its partition coalescing and skew-join splitting, parquet
        filter pushdown and 128 MB file splits are Spark's defaults and
        are left to them (tests/test_session.py pins the effective
        values).
      - Arrow on: every pandas-UDF operator (XML parse, multimodal)
        moves batches, not rows.
      - UTC session timezone: parity with the DuckDB oracle and with
        any downstream engine reading our parquet.

    Fixed per-query driver cost (query-many sessions; the comment at
    each conf has the measurements):
      - codegen cache of 4000 entries, above the 2,574 distinct classes
        one full ``bench.py`` pass compiles (Spark's default is 100);
      - no per-call origin capture: error messages lose only the Python
        call-site line of their DataFrame query context.

    Python workers:
      - forked from ``worker_daemon``, which imports the Arrow UDF stack
        once and freezes it; at its first task one worker holds ~21 MB
        private dirty memory, not ~62 MB (4-vCPU machine);
      - the package's parent directory is prepended to
        ``spark.executorEnv.PYTHONPATH`` (merged with any value in
        ``extra_conf``; Spark appends the JVM's own ``PYTHONPATH``), so
        the daemon and every UDF import the package whatever the
        driver's working directory.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    master = master or f"local[{cpus}]"
    shuffle_partitions = max(int(cpus) if cpus.isdigit() else 32, 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
        # Long single-JVM sessions (the driver runs ~70 gate queries
        # back to back) accumulate weakly-referenced state — per-level
        # localCheckpoint blocks from the iterative operators, AQE
        # plan garbage, shuffle files. The cleaner only reclaims these
        # after a JVM GC, and with a large heap the default 30min
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
        # A static conf, so it is set here or not at all. One full
        # bench.py pass at sf0.1 compiles 2,574 distinct classes (counted with
        # CodegenMetrics under an unbounded cache); the default 100
        # entries evicted them between queries and each warm query paid
        # Janino again (a traced perfbench curation round on 4 vCPUs:
        # 26 classes, 384 ms).
        .config("spark.sql.codegen.cache.maxEntries", "4000")
        # PySpark's _with_origin wrapper records the Python call site of
        # every pyspark.sql.functions call with about five Py4J round
        # trips (281 of the ~4,700 calls that build curate_corpus).
        # Trade-off: error messages lose only the Python call-site line
        # of the DataFrame query context; the error itself and its
        # error class do not change.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # static: the daemon every Python worker forks from
        .config("spark.python.daemon.module", "xml_to_sqlite3_spark.worker_daemon")
    )
    conf = dict(extra_conf or {})
    worker_path = "spark.executorEnv.PYTHONPATH"
    package_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    conf[worker_path] = os.pathsep.join(filter(None, [package_parent, conf.get(worker_path)]))
    for k, v in conf.items():
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
    measurement.

    Python's cyclic collector runs first: each py4j ``JavaObject``
    caches the ``JavaMember``s it hands out, and each member points
    back at it, so a dead DataFrame's JVM side stays pinned until a
    gen-2 collection. A JVM GC alone freed none of a dropped eager
    ``localCheckpoint``'s blocks in 8 s; after ``gc.collect()`` they
    were gone within 2 s."""
    try:
        spark.catalog.clearCache()
        gc.collect()
        spark.sparkContext._jvm.System.gc()
    except Exception:  # noqa: BLE001
        pass
