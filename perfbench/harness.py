"""One benchmark run: an isolated directory inside the checkout, Spark
sessions started and stopped with their JVMs, operation accounting,
and the traced-operation bookkeeping the per-layer metrics come from."""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time
import traceback
from contextlib import contextmanager

from .trace import SparkCounters, Spans

LOG4J = """\
rootLogger.level = info
rootLogger.appenderRef.file.ref = file
appender.file.type = File
appender.file.name = file
appender.file.fileName = {path}
appender.file.layout.type = PatternLayout
appender.file.layout.pattern = %d{{HH:mm:ss.SSS}} %p %c{{1}}: %m%n%ex
"""


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 4


class Run:
    def __init__(self, root: str, workload: str, seed: int, seconds: int, trace: bool):
        self.root, self.workload, self.seed = root, workload, seed
        self.seconds, self.trace = seconds, trace
        self.run_id = f"{workload}-s{seed}-t{int(trace)}-p{os.getpid()}"
        self.dir = os.path.join(root, ".perfbench_runs", self.run_id)
        shutil.rmtree(self.dir, ignore_errors=True)
        for sub in ("tmp", "spark-local", "input", "out", "trace/eventlog", "warehouse"):
            os.makedirs(os.path.join(self.dir, sub), exist_ok=True)
        self.spans = Spans(self.run_id)
        self.setup_samples: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.traced_ops: list[dict] = []
        self._sessions = 0

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def isolate(self) -> None:
        """Per-run TMPDIR (every store cache root derives from it),
        local dirs and sizing, set before any JVM or worker starts."""
        # store cache roots a caller may have pointed elsewhere
        for var in ("SPARK_GRAFT_MINHASH_CACHE", "SPARK_GRAFT_GRAPH_CACHE",
                    "SPARK_GRAFT_INDEX_CACHE", "SPARK_GRAFT_CODEBOOK_CACHE"):
            os.environ.pop(var, None)
        os.environ.update({
            "TMPDIR": self.path("tmp"),
            "SPARK_LOCAL_DIRS": self.path("spark-local"),
            "PYTHONPATH": os.pathsep.join(
                [self.root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
            "PYSPARK_PYTHON": sys.executable,
            "SPARK_GRAFT_CPUS": str(cpu_count()),
            "SPARK_GRAFT_DRIVER_MEM": "3g",
            # every JVM would otherwise keep its counters under /tmp
            "JAVA_TOOL_OPTIONS": " ".join(
                filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData"])),
        })
        tempfile.tempdir = None
        with open(self.path("trace", "log4j2.properties"), "w") as f:
            f.write(LOG4J.format(path=self.path("trace", "spark.log")))

    # -- sessions -----------------------------------------------------
    def launch(self):
        """A Spark session in a fresh JVM; its start time is one set-up
        sample."""
        from xml_to_sqlite3_spark.session import get_spark

        self._sessions += 1
        conf = {
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.path('tmp')} "
                f"-Dlog4j2.configurationFile=file:{self.path('trace', 'log4j2.properties')}"),
        }
        if self.trace:
            log_dir = self.path("trace", "eventlog", str(self._sessions))
            os.makedirs(log_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        with self.spans.span("get_spark"):
            t0 = time.perf_counter()
            spark = get_spark(app_name="perfbench", extra_conf=conf)
            self.setup_samples.append(time.perf_counter() - t0)
        self.counters = SparkCounters(spark)
        return spark

    @staticmethod
    def shutdown(spark) -> None:
        """Stop the session and wait for its JVM (and with it the
        Python workers) to exit."""
        from pyspark import SparkContext

        spark.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            proc.wait(timeout=120)
        SparkContext._gateway = None
        SparkContext._jvm = None

    # -- operations ---------------------------------------------------
    def record(self, name: str, problems: list[str]) -> bool:
        self.attempted += 1
        if problems:
            self.failed += 1
            print(f"[perfbench] FAILED {name}: {'; '.join(problems)[:500]}", file=sys.stderr)
        return not problems

    def attempt(self, name: str, fn):
        """Run one operation; an exception counts it as failed."""
        try:
            return True, fn()
        except Exception as exc:  # noqa: BLE001 - a failed op is a result, not a crash
            traceback.print_exc(file=sys.stderr)
            self.record(name, [f"{type(exc).__name__}: {exc}"])
            return False, None

    @contextmanager
    def traced(self, spark, group: str, rnd: int, enabled: bool, rec: dict | None = None):
        """Tag the operation's jobs with a job group and record its
        codegen counters and epoch interval (traced runs only)."""
        if not enabled:
            yield
            return
        sc = spark.sparkContext
        sc.setJobGroup(group, group)
        c0, e0 = self.counters.snapshot(), time.time() * 1000
        try:
            yield
        finally:
            c1, e1 = self.counters.snapshot(), time.time() * 1000
            sc.setLocalProperty("spark.jobGroup.id", None)
            # ``rec`` stays live: the caller adds plan statistics after
            # the operation has run
            op = rec if rec is not None else {}
            op.update({"group": group, "round": rnd, "start_ms": e0, "end_ms": e1,
                       "classes": c1[0] - c0[0], "compile_ms": (c1[1] - c0[1]) / 1e6})
            self.traced_ops.append(op)

    def finish(self, ok: bool) -> None:
        """Keep the spans and the Spark log; drop inputs and outputs."""
        self.spans.dump(self.path("trace", "spans.jsonl"))
        if ok:
            for sub in ("tmp", "spark-local", "input", "out", "warehouse", "trace/eventlog"):
                shutil.rmtree(self.path(sub), ignore_errors=True)
