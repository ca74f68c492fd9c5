"""session.scoped_conf — the one implementation of session-conf
overrides — and the guard that keeps it the only one."""

from __future__ import annotations

import pathlib
import re

import pytest

from xml_to_sqlite3_spark.session import scoped_conf

_UNSET_KEY = "spark.sql.limit.initialNumPartitions"
_SET_KEY = "spark.sql.shuffle.partitions"


def test_scoped_conf_restores_set_and_unset_keys(spark):
    assert _UNSET_KEY not in spark.conf.getAll
    prior = spark.conf.getAll[_SET_KEY]
    overrides = {_UNSET_KEY: "7", _SET_KEY: "3"}

    with scoped_conf(spark, overrides):
        assert spark.conf.get(_UNSET_KEY) == "7"
        assert spark.conf.get(_SET_KEY) == "3"
    assert _UNSET_KEY not in spark.conf.getAll
    assert spark.conf.getAll[_SET_KEY] == prior

    with pytest.raises(RuntimeError, match="boom"):
        with scoped_conf(spark, overrides):
            raise RuntimeError("boom")
    assert _UNSET_KEY not in spark.conf.getAll
    assert spark.conf.getAll[_SET_KEY] == prior

    # an override Spark rejects part-way still restores the ones before it
    with pytest.raises(Exception):
        with scoped_conf(spark, {**overrides, "spark.sql.adaptive.enabled": "maybe"}):
            pass
    assert _UNSET_KEY not in spark.conf.getAll
    assert spark.conf.getAll[_SET_KEY] == prior


def test_conf_mutation_only_in_session_module():
    """Every session-conf override goes through scoped_conf: a
    hand-rolled set/restore block elsewhere in the package can leak
    its conf into every later query of the shared session."""
    pkg = pathlib.Path(__file__).resolve().parents[1] / "xml_to_sqlite3_spark"
    pattern = re.compile(r"conf\.(set|unset)\(")
    offenders = [
        f"{path.relative_to(pkg)}:{n}"
        for path in sorted(pkg.rglob("*.py"))
        if path.name != "session.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if pattern.search(line)
    ]
    assert offenders == []


def test_warm_projections_compile_nothing(spark):
    """The codegen cache holds more classes than a 120-query pass
    generates, so the second pass compiles none (at Spark's default of
    100 entries every one of them is evicted and recompiled)."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def one_pass():
        for i in range(120):
            # the literal is inlined into each projection's generated code
            spark.range(8).selectExpr(f"id * {i} AS x").collect()

    one_pass()
    before = metrics.METRIC_COMPILATION_TIME().getCount()
    one_pass()
    assert metrics.METRIC_COMPILATION_TIME().getCount() - before == 0


def test_origin_capture_off():
    """Column calls make no per-call origin RPCs in get_spark sessions."""
    from pyspark.errors.utils import is_debugging_enabled

    assert is_debugging_enabled() is False


def test_driver_memory_fits_the_machine(spark):
    """Without ``SPARK_GRAFT_DRIVER_MEM`` the driver heap follows the
    machine: a local-mode JVM allowed to grow past physical memory is
    killed by the kernel mid-build instead of failing with an error."""
    import os

    mem = spark.sparkContext.getConf().get("spark.driver.memory")
    override = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if override:
        assert mem == override
        return
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    heap = int(mem[:-1]) * units[mem[-1].lower()]
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    assert heap <= phys, (mem, phys)


def test_spark_defaults_hold_in_get_spark_sessions(spark):
    """get_spark leaves these to Spark's defaults; the engine relies on
    each value (AQE coalescing and skew splitting in place of
    hand-sized partition counts, parquet predicate pushdown into the
    store reads, 128 MB file splits)."""
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    assert spark.conf.get("spark.sql.parquet.filterPushdown") == "true"
    sql_conf = spark._jsparkSession.sessionState().conf()
    assert sql_conf.filesMaxPartitionBytes() == 128 * 1024 * 1024
