"""Measurement from outside the program: spans around the benchmark's
calls into each layer, Spark's own counters (plan phases, codegen,
the event log) and the memory (PSS) of the process tree."""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time
from contextlib import contextmanager


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


class Spans:
    """In-memory spans (name, start, end, parent, run id), written out
    when the run ends."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.items: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.items), "name": name, "parent": self._stack[-1] if self._stack else None,
               "run": self.run_id, "start": time.perf_counter(), "end": None, **attrs}
        self.items.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self, name: str) -> list[tuple[float, dict]]:
        """(self time, span) of each ``name`` span: its duration minus
        what its children cover."""
        out = []
        for s in self.items:
            if s["name"] != name or s["end"] is None:
                continue
            kids = sum(c["end"] - c["start"] for c in self.items
                       if c["parent"] == s["id"] and c["end"] is not None)
            out.append((s["end"] - s["start"] - kids, s))
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.items:
                f.write(json.dumps(s) + "\n")


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except (OSError, ValueError):
        pass
    return 0


def _tree(root_pid: int) -> list[tuple[int, str]]:
    """(pid, command name) of the process and its descendants."""
    children: dict[int, list[tuple[int, str]]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            comm, rest = stat[stat.index("(") + 1:].rsplit(")", 1)
            ppid = int(rest.split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append((int(name), comm))
    out, todo = [], [(root_pid, "")]
    while todo:
        pid, comm = todo.pop()
        out.append((pid, comm))
        todo.extend(children.get(pid, ()))
    return out


def tree_pss_kb(root_pid: int, exclude: tuple[str, ...] = ()) -> int:
    """Proportional set size of the process and its descendants, leaving
    out those whose command name is in ``exclude``: a page shared by
    several of them (the Python workers are forked from one daemon)
    counts once in the sum, however many workers are alive."""
    return sum(_pss_kb(pid) for pid, comm in _tree(root_pid) if comm not in exclude)


def live_mem_mb(spark) -> tuple[float, float]:
    """Memory the run holds once its garbage is collected, in MB: the
    JVM's heap in use after a full collection plus its non-heap in use
    (metaspace, code cache), and the PSS of the tree's other processes
    (this driver and the Python workers). The peak also counts garbage
    the collector has not reclaimed yet, and how far it lets the heap
    grow follows the CPU time the host grants, not the program."""
    jvm = spark.sparkContext._jvm
    # the first collection lets Spark's cleaner drop the shuffles,
    # broadcasts and cached blocks whose handles were garbage; the
    # second collects what that freed
    jvm.java.lang.System.gc()
    time.sleep(1.0)
    jvm.java.lang.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    jvm_bytes = mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()
    return jvm_bytes / 2**20, tree_pss_kb(os.getpid(), exclude=("java",)) / 1024


class MemSampler:
    """Peak PSS of this process and all its descendants (the JVM and
    its Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, tree_pss_kb(pid))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


class SparkCounters:
    """Process-wide JVM counters read before and after an operation."""

    def __init__(self, spark):
        jvm = spark.sparkContext._jvm
        self._cg = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._cm = jvm.org.apache.spark.metrics.source.CodegenMetrics

    def snapshot(self) -> tuple[int, int]:
        """(classes compiled, compile nanoseconds) so far."""
        return self._cm.METRIC_COMPILATION_TIME().getCount(), self._cg.compileTime()


_EXCHANGE = re.compile(r"\b(?:Exchange|BroadcastExchange)\b")
_PYTHON = re.compile(r"\b(?:ArrowEvalPython|MapInPandas|MapInArrow|BatchEvalPython|"
                     r"FlatMapGroupsInPandas|AggregateInPandas)\b")


def plan_stats(jdf) -> dict[str, float]:
    """Phases of the executed QueryExecution and Exchange / Python node
    counts of its final physical plan (AQE's final plan when adaptive)."""
    qe = jdf.queryExecution()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[f"{phase}_ms"] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    plan = qe.executedPlan().toString()
    final = plan.split("== Final Plan ==", 1)[-1].split("== Initial Plan ==", 1)[0]
    out["exchanges"] = float(len(_EXCHANGE.findall(final)))
    out["python_nodes"] = float(len(_PYTHON.findall(final)))
    return out


def hash_eval(df):
    """Evaluate every value of ``df`` without moving rows to the
    driver: xxhash64 over all columns folded by bit_xor (the program's
    bench.py timing discipline). Returns (digest, evaluated Dataset)."""
    from pyspark.sql import functions as F

    h = df.select(F.xxhash64(F.struct(*[F.col(c) for c in df.columns])).alias("__h")).agg(
        F.expr("bit_xor(__h)").alias("d"), F.count(F.lit(1)).alias("n"))
    row = h.collect()[0]
    return (row["d"], row["n"]), h


def parse_event_log(log_dir: str) -> dict:
    """Per job group: jobs, tasks, executor run/CPU/GC time, shuffle and
    spill bytes, failed tasks, retried stages, and the job intervals
    (epoch ms) for the driver-gap computation."""
    groups: dict[str, dict] = {}
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}

    def g(name: str) -> dict:
        return groups.setdefault(name, {
            "jobs": 0, "tasks": 0, "executor_run_ms": 0, "executor_cpu_ms": 0.0, "gc_ms": 0,
            "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
            "failed_tasks": 0, "retried_stages": 0, "intervals": []})

    for fname in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, fname)) as f:
            for line in f:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    grp = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    job_group[e["Job ID"]] = grp
                    for sid in e.get("Stage IDs", ()):
                        stage_group[sid] = grp
                    rec = g(grp)
                    rec["jobs"] += 1
                    rec["intervals"].append([e["Submission Time"], None])
                    rec.setdefault("_open", {})[e["Job ID"]] = len(rec["intervals"]) - 1
                elif kind == "SparkListenerJobEnd":
                    rec = g(job_group.get(e["Job ID"], ""))
                    idx = rec.get("_open", {}).pop(e["Job ID"], None)
                    if idx is not None:
                        rec["intervals"][idx][1] = e["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    rec = g(stage_group.get(e["Stage ID"], ""))
                    rec["tasks"] += 1
                    if e["Task Info"].get("Failed"):
                        rec["failed_tasks"] += 1
                    m = e.get("Task Metrics") or {}
                    rec["executor_run_ms"] += m.get("Executor Run Time", 0)
                    rec["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    rec["gc_ms"] += m.get("JVM GC Time", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    rec["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    rec["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    rec["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    if info.get("Stage Attempt ID", 0) > 0:
                        g(stage_group.get(info["Stage ID"], ""))["retried_stages"] += 1
    for rec in groups.values():
        rec.pop("_open", None)
    return groups


def uncovered_ms(start_ms: float, end_ms: float, intervals) -> float:
    """Part of [start, end] that no job interval covers."""
    spans = sorted((max(a, start_ms), min(b, end_ms)) for a, b in intervals
                   if b is not None and b > start_ms and a < end_ms)
    covered, cur_a, cur_b = 0.0, None, None
    for a, b in spans:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                covered += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        covered += cur_b - cur_a
    return max(0.0, (end_ms - start_ms) - covered)


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, ignoring markers and CRCs."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith(("_", ".")):
                continue
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files
