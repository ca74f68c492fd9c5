"""session.scoped_conf — the one implementation of session-conf
overrides — and the guard that keeps it the only one; the Python
worker daemon and worker import path get_spark sets; and
release_query_state."""

from __future__ import annotations

import json
import os
import pathlib
import re
import subprocess
import sys
import time

import pytest

from xml_to_sqlite3_spark.session import release_query_state, scoped_conf

REPO = pathlib.Path(__file__).resolve().parents[1]

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


# Runs in a fresh get_spark session: the shared test session's workers
# are reused across hundreds of UDF tests, so their memory says nothing
# about what a fork from the daemon starts with.
_FRESH_WORKERS_SCRIPT = """
import json, sys
sys.path.insert(0, sys.argv[1])
from xml_to_sqlite3_spark.session import get_spark
from xml_to_sqlite3_spark.sources.xml_source import read_xml_corpus

def probe(batches):
    import gc
    import pandas as pd
    kb = {}
    with open("/proc/self/smaps_rollup") as f:
        for line in f:
            key, _, rest = line.partition(":")
            if key in ("Shared_Dirty", "Private_Dirty"):
                kb[key] = int(rest.split()[0])
    for _ in batches:
        pass
    yield pd.DataFrame({"frozen": [gc.get_freeze_count()],
                        "shared_dirty_kb": [kb["Shared_Dirty"]],
                        "private_dirty_kb": [kb["Private_Dirty"]]})

spark = get_spark(app_name="fresh_workers")
schema = "frozen long, shared_dirty_kb long, private_dirty_kb long"
workers = [r.asDict() for r in spark.range(0, 4, 1, 4).mapInPandas(probe, schema).collect()]
try:
    nodes = read_xml_corpus(spark, sys.argv[2]).nodes.count()
except Exception as exc:
    nodes = f"{type(exc).__name__}: {exc}"[:2000]
print(json.dumps({"workers": workers, "nodes": nodes}))
spark.stop()
"""


@pytest.fixture(scope="module")
def fresh_workers(tmp_path_factory):
    """What a fresh get_spark session's Python workers report, from a
    driver that reaches the package only through ``sys.path`` and runs
    outside the checkout with ``PYTHONPATH`` unset."""
    tmp_path = tmp_path_factory.mktemp("fresh_workers")
    xml_dir = tmp_path / "xml"
    xml_dir.mkdir()
    (xml_dir / "one.xml").write_text('<root id="r"><item id="a">x</item><item id="b"/></root>')
    script = tmp_path / "job.py"
    script.write_text(_FRESH_WORKERS_SCRIPT)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="4", SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, str(script), str(REPO), str(xml_dir)],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=tmp_path,
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_workers_import_the_package_from_any_directory(fresh_workers):
    """The daemon and the XML parse UDF import the package although
    the driver put it on ``sys.path`` itself and runs elsewhere."""
    assert isinstance(fresh_workers["nodes"], int), fresh_workers["nodes"]
    assert fresh_workers["nodes"] > 0


def test_workers_fork_from_a_preloaded_frozen_daemon(fresh_workers):
    """Each worker starts with the daemon's imports frozen out of the
    collector and shares more dirty memory with the daemon than it
    holds privately (Spark's own daemon: ~10 MB shared, ~63 MB private)."""
    workers = fresh_workers["workers"]
    assert len(workers) == 4
    for w in workers:
        assert w["frozen"] > 0, w
        assert w["shared_dirty_kb"] > w["private_dirty_kb"], w


def test_release_query_state_frees_dropped_checkpoints(spark):
    """A dropped DataFrame's JVM side is pinned by py4j reference cycles
    until Python's cyclic collector runs; release_query_state runs it,
    so the ContextCleaner can drop the checkpoint's blocks."""
    sc = spark.sparkContext

    def stored_rdds():
        return {info.id() for info in sc._jsc.sc().getRDDStorageInfo()}

    before = stored_rdds()
    frame = spark.range(20_000).localCheckpoint(eager=True)
    ours = stored_rdds() - before
    assert ours
    # calling a method caches its JavaMember on the frame's JavaObject,
    # and the member points back at it: the cycle
    assert frame.count() == 20_000
    del frame
    release_query_state(spark)
    deadline = time.monotonic() + 10
    while ours & stored_rdds() and time.monotonic() < deadline:
        sc._jvm.System.gc()
        time.sleep(0.5)
    assert not ours & stored_rdds()
