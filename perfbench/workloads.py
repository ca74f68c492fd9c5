"""The benchmark's workloads. Each is a closed loop with one client in
one driver process on local[N], N = the usable cores.

A run starts one session in a fresh JVM and warms it up: the
workload's cold build there (which also pays for the Python workers,
class loading and JIT). That is the run's set-up, ``setup_s``. Rounds
of the workload's operations follow in the same session until
``--seconds`` have passed, at least ``MIN_ROUNDS``; ``round_s`` is the
fastest of them (see ``_best``) and ``live_mem_mb`` the memory the run
holds after them. In a traced run every second round from the third on
is traced; the layer probes follow the rounds.
"""

from __future__ import annotations

import os
import shutil
import time

from . import checks, gen
from .trace import (dir_stats, hash_eval, live_mem_mb, median, parse_event_log, plan_stats,
                    uncovered_ms)

# xml_etl corpus size: big enough that parse, detection and both sinks
# do real work, small enough that a warm conversion stays near 5 s
XML_FILES = 16
XML_NODES_PER_FILE = 120
XML_MALFORMED = 3

# curation: rows of the documents table
CURATION_DOCS = 200

# The curation queries, one per store-reading path: the curation funnel
# (exact dedup, quality, language, MinHash LSH over the MinHash store),
# the components store, decontamination over the window postings, and
# the PII audit, which reads no store.
CURATION_QUERIES = ("curate_corpus", "dedup_components", "decontaminate", "pii_report")

# At least four rounds, however short ``--seconds``: the first after
# the cold build is still markedly slower (JIT, first use of each
# query's code), which the fastest of the other three leaves out; in a
# traced run the third is traced, between two untraced ones.
MIN_ROUNDS = 4

# Per-layer metrics of layers a workload does not use, by prefix: they
# read an explicit 0 there. Any other metric a run does not produce
# makes the run incorrect.
UNUSED_LAYERS = {
    "xml_etl": ("store.", "curation."),
    "curation": ("sources.", "relationships.", "parquet_sink.", "sqlite_sink."),
}

XREF_TYPES = ("parent_child", "child_parent", "sibling", "next_sibling", "previous_sibling",
              "attribute_reference")
DROP_REASONS = ("exact_dup", "low_quality", "wrong_lang", "near_dup")


def _rounds(run):
    """Round indices until ``--seconds`` have passed since the first
    began, at least ``MIN_ROUNDS``."""
    t_end = time.perf_counter() + run.seconds
    i = 0
    while i < MIN_ROUNDS or time.perf_counter() < t_end:
        yield i
        i += 1


def _traced_round(run, i: int) -> bool:
    # every second round from the third on, each between two untraced
    # ones: comparing it with their mean cancels the rounds' warm-up trend
    return run.trace and i > 0 and i % 2 == 0


def _span_s(sp: dict) -> float:
    return sp["end"] - sp["start"]


def _untraced(rounds: list[dict]) -> list[dict]:
    return [r for r in rounds if not r["traced"]]


def _best(rounds: list[dict]) -> float:
    """The fastest round's wall seconds. The host takes CPU time from
    the benchmark's virtual CPUs (steal), which only ever adds to a
    round; the fastest round leaves out most of it, and the slow first
    round after the cold build. The median round prints beside it."""
    return min((r["wall"] for r in rounds), default=float("nan"))


# -- xml_etl ---------------------------------------------------------------


def cli_convert(xml_dir: str, sink: str, out: str) -> str:
    """Convert ``xml_dir`` with the CLI's own entry point, as
    ``python -m xml_to_sqlite3_spark -i <xml_dir> --parquet-out <out>``
    or ``-o <out>/db.sqlite3`` would. Its ``get_spark`` returns the
    running session. Returns the output to check: the parquet directory
    or the SQLite file."""
    from xml_to_sqlite3_spark.__main__ import main

    target = out if sink == "parquet" else os.path.join(out, "db.sqlite3")
    code = main(["-i", xml_dir, "--parquet-out" if sink == "parquet" else "-o", target])
    if code != 0:
        raise RuntimeError(f"the CLI exited with {code}")
    return target


def _etl_pass(run, spark, xml_dir: str, sink: str, oracle, rnd, traced: bool) -> float:
    """One CLI conversion, checked against the oracle; returns its wall
    seconds."""
    out = run.path("out", f"{sink}-{rnd}")
    state = {}

    def convert():
        with run.traced(spark, f"r{rnd}/{sink}", rnd, traced):
            with run.spans.span(f"{sink}_pass", round=rnd) as sp:
                target = cli_convert(xml_dir, sink, out)
        state["s"] = _span_s(sp)
        return target

    ok, target = run.attempt(f"{sink} pass {rnd}", convert)
    if ok:
        run.record(f"{sink} pass {rnd}", checks.check_conversion(sink, target, oracle))
    shutil.rmtree(out, ignore_errors=True)
    return state.get("s", float("nan"))


def xml_etl(run) -> dict:
    xml_dir = run.path("input", "xml")
    with run.spans.span("generate"):
        oracle = gen.make_xml_corpus(run.seed, xml_dir, XML_FILES, XML_NODES_PER_FILE, XML_MALFORMED)

    with run.spans.span("setup") as setup:
        spark = run.launch()
        # the cold build: what a one-shot `--parquet-out` run pays
        cold_s = _etl_pass(run, spark, xml_dir, "parquet", oracle, "cold", False)
    rounds = []
    for i in _rounds(run):
        traced = _traced_round(run, i)
        with run.spans.span("round", round=i, traced=traced) as rs:
            _etl_pass(run, spark, xml_dir, "sqlite", oracle, i, traced)
        rounds.append({"i": i, "traced": traced, "wall": _span_s(rs)})
    live_mb = live_mem_mb(spark)
    layers: dict[str, float] = {}
    if run.trace:
        layers.update(_xml_layer_probes(run, spark, xml_dir, oracle))
    run.shutdown(spark)

    plain = _untraced(rounds)
    e2e = {"setup_s": _span_s(setup), "round_s": _best(plain), "live_mem_mb": sum(live_mb)}
    extra = {
        "parquet_etl_cold_s": (cold_s, "s"),
        "live_jvm_mb": (live_mb[0], "MB"),
        "live_python_mb": (live_mb[1], "MB"),
        "sqlite_etl_s": (e2e["round_s"], "s"),
        "round_median_s": (median(r["wall"] for r in plain), "s"),
        "samples": (len(plain), "count"),
    }
    if run.trace:
        # the passes' writes expose no QueryExecution to the client, so
        # plan statistics come from the detection probe instead
        layers.update({k: v for k, v in _traced_round_metrics(run, rounds).items()
                       if not k.startswith("plans.")})
    return {"e2e": e2e, "extra": extra, "layers": layers}


def _xml_layer_probes(run, spark, xml_dir: str, oracle) -> dict:
    """Layer timings no conversion isolates, from one parse: the parse
    on its own with exact counts, relationship detection hash-evaluated
    before any write, the SQLite sink's driver drain without SQLite,
    and each sink's write. Both writes are checked against the
    oracle."""
    from pyspark.sql import functions as F

    from xml_to_sqlite3_spark.operators.relationships import detect_all_relationships
    from xml_to_sqlite3_spark.sinks import write_corpus_parquet, write_corpus_sqlite
    from xml_to_sqlite3_spark.sources import read_xml_corpus
    from xml_to_sqlite3_spark.sources.xml_source import dedupe_last_writer

    out: dict[str, float] = {}
    with run.spans.span("probe_read") as sp:
        corpus = read_xml_corpus(spark, xml_dir)
    out["sources.read_xml_corpus_s"] = _span_s(sp)
    out["sources.input_mb_per_s"] = dir_stats(xml_dir)[0] / 1e6 / out["sources.read_xml_corpus_s"]
    out["sources.files"] = corpus.documents.count()
    out["sources.nodes"] = corpus.nodes.count()
    out["sources.properties"] = corpus.properties.count()
    out["sources.parse_errors"] = corpus.errors.count()

    t0 = time.perf_counter()
    xrefs = detect_all_relationships(corpus.nodes, corpus.properties)
    out["plans.construct_s"] = time.perf_counter() - t0
    with run.spans.span("probe_detect") as sp:
        _, h = hash_eval(xrefs)
    out["relationships.detect_s"] = _span_s(sp)
    out.update({f"plans.{k}": v for k, v in plan_stats(h._jdf).items()})
    counts = dict(xrefs.groupBy("reference_type").count().collect())
    for t in XREF_TYPES:
        out[f"relationships.xref_rows.{t}"] = counts.get(t, 0)

    # the four frames write_corpus_sqlite drains, without SQLite
    frames = [
        corpus.documents.select("id", "filename", "file_size", "file_hash"),
        dedupe_last_writer(corpus.nodes, ["id"], "ordinal").select(
            "id", "node_type", "document_id", "parent_id", "position", "content", "xpath"),
        dedupe_last_writer(corpus.properties, ["node_id", "property_name"], "ordinal").select(
            "node_id", "property_name", "property_value", "data_type"),
        xrefs,
    ]
    with run.spans.span("probe_drain") as sp:
        for df in frames:
            for _ in df.toLocalIterator():
                pass
    out["sqlite_sink.driver_drain_s"] = _span_s(sp)

    # each sink on its own, fed the cross references as the CLI feeds them
    xrefs = xrefs.withColumn("source_file", F.col("document_id"))
    pq_dir, db = run.path("out", "probe-parquet"), run.path("out", "probe.sqlite3")

    def parquet():
        write_corpus_parquet(corpus, pq_dir)
        xrefs.write.mode("overwrite").parquet(os.path.join(pq_dir, "cross_references"))

    def sqlite():
        write_corpus_sqlite(corpus, db, cross_references=xrefs, batch_size=1000)

    for sink, target, write in (("parquet", pq_dir, parquet), ("sqlite", db, sqlite)):
        with run.spans.span(f"probe_{sink}_write") as sp:
            ok, _ = run.attempt(f"{sink} sink probe", write)
        if ok:
            run.record(f"{sink} sink probe", checks.check_conversion(sink, target, oracle))
            out[f"{sink}_sink.write_s"] = _span_s(sp)
            nbytes = dir_stats(target)[0] if sink == "parquet" else os.path.getsize(target)
            out[f"{sink}_sink.bytes_per_input_byte"] = nbytes / oracle.input_bytes
    rows = sum(oracle.tables[t] for t in ("documents", "nodes", "node_properties",
                                          "cross_references"))
    if "sqlite_sink.write_s" in out:
        out["sqlite_sink.rows_per_s"] = rows / out["sqlite_sink.write_s"]
    return out


# -- curation --------------------------------------------------------------


def _curation_surface() -> tuple[dict, dict]:
    """(query, oracle SQL) of each curation query, as the program
    registers them (plans/llm_pipeline.py, plans/curation_q.py)."""
    from xml_to_sqlite3_spark.plans import curation_q as CQ
    from xml_to_sqlite3_spark.plans import llm_pipeline as LP

    queries, oracles = {**CQ.QUERIES, **LP.QUERIES}, {**CQ.ORACLES, **LP.ORACLES}
    return ({q: queries[q] for q in CURATION_QUERIES},
            {q: oracles[q] for q in CURATION_QUERIES})


def curation(run) -> dict:
    sf_dir = run.path("input", "tables")
    with run.spans.span("generate"):
        gen.make_documents(run.seed, sf_dir, CURATION_DOCS)
    queries, oracles = _curation_surface()
    with run.spans.span("oracle"):
        expected = checks.duckdb_digests(sf_dir, oracles)

    layers: dict[str, float] = {}
    with run.spans.span("setup") as setup:
        spark = run.launch()  # cold JVM and an empty cache root: the store builds
        stores = _stores(spark, sf_dir)
        cold_s = sum(_store_build(run, name, fn, layers) for name, fn in stores.items())

    times: dict[int, dict[str, float]] = {}
    rounds = []
    for i in _rounds(run):
        traced = _traced_round(run, i)
        times[i] = {}
        with run.spans.span("round", round=i, traced=traced) as rs:
            for q, query in queries.items():
                rec: dict = {}
                with run.traced(spark, f"r{i}/{q}", i, traced, rec):
                    with run.spans.span("query", query=q) as qs:
                        ok, res = run.attempt(f"{q} round {i}",
                                              lambda: _run_query(query, spark, sf_dir))
                if not ok:
                    continue
                df, rows, rec["construct_s"] = res
                times[i][q] = _span_s(qs)
                if traced:
                    rec.update(plan_stats(df._jdf))
                same = checks.result_digest(df.columns, rows) == expected[q]
                run.record(f"{q} round {i}", [] if same else ["differs from the DuckDB oracle"])
                if q == "curate_corpus" and i == 0:
                    layers["curation.kept_frac"] = sum(r["keep"] for r in rows) / max(len(rows), 1)
                    for reason in DROP_REASONS:
                        layers[f"curation.drop.{reason}"] = sum(r["reason"] == reason for r in rows)
        rounds.append({"i": i, "traced": traced, "wall": _span_s(rs)})
    live_mb = live_mem_mb(spark)
    run.shutdown(spark)

    if run.trace:
        # a second session attaches the published stores
        spark = run.launch()
        for name, fn in _stores(spark, sf_dir).items():
            with run.spans.span("store_attach", store=name) as sp:
                _count_store(run, f"{name} store attach", fn)
            layers[f"store.{name}.attach_s"] = _span_s(sp)
        run.shutdown(spark)
        layers.update(_traced_round_metrics(run, rounds))

    plain = _untraced(rounds)
    query_s = [t for r in plain for t in times[r["i"]].values()]
    e2e = {"setup_s": _span_s(setup), "round_s": _best(plain), "live_mem_mb": sum(live_mb)}
    extra = {
        "store_build_s": (cold_s, "s"),
        "live_jvm_mb": (live_mb[0], "MB"),
        "live_python_mb": (live_mb[1], "MB"),
        "warm_round_s": (e2e["round_s"], "s"),
        "round_median_s": (median(r["wall"] for r in plain), "s"),
        "samples": (len(plain), "count"),
        "query_p50_s": (median(query_s), "s"),
        "query_max_s": (max(query_s, default=0.0), "s"),
        "query_samples": (len(query_s), "count"),
    }
    return {"e2e": e2e, "extra": extra, "layers": layers}


def _stores(spark, sf_dir: str) -> dict:
    """The dedup stores the curation queries read, with their
    parameters, as calls that build one into an empty cache root or
    attach the published one."""
    from xml_to_sqlite3_spark.operators import dedup as D

    doc_path = os.path.join(sf_dir, "documents.parquet")
    return {
        "minhash": lambda: D.get_minhash_store(spark, doc_path, n=3, k=64),
        "components": lambda: (D.get_components_store(spark, doc_path, threshold=0.3, n=3),),
    }


def _count_store(run, name: str, fn) -> None:
    """Build or attach one store and count its tables' rows."""
    ok, _ = run.attempt(name, lambda: [df.count() for df in fn()])
    if ok:
        run.record(name, [])


def _store_build(run, name: str, fn, layers: dict) -> float:
    """Build one store cold; records its seconds, bytes and files in
    ``layers`` and returns the seconds."""
    from xml_to_sqlite3_spark.operators.dedup import _minhash_cache_root

    root = _minhash_cache_root()

    def entries() -> set[str]:
        return set(os.listdir(root)) if os.path.isdir(root) else set()

    before = entries()
    with run.spans.span("store_build", store=name) as sp:
        _count_store(run, f"{name} store build", fn)
    stats = [dir_stats(os.path.join(root, d)) for d in entries() - before]
    layers[f"store.{name}.build_s"] = _span_s(sp)
    layers[f"store.{name}.bytes"] = sum(s[0] for s in stats)
    layers[f"store.{name}.files"] = sum(s[1] for s in stats)
    return _span_s(sp)


def _run_query(query, spark, sf_dir: str):
    """Build the query's DataFrame and collect its result, as a client
    of the query surface would."""
    t0 = time.perf_counter()
    df = query(spark, sf_dir)
    construct_s = time.perf_counter() - t0
    return df, df.collect(), construct_s


# -- per-layer aggregation -------------------------------------------------


def _traced_round_metrics(run, rounds: list[dict]) -> dict:
    """Per traced round (median over them): plan, codegen and execution
    counters of the round's operations, the round's self time, and
    each traced round minus the mean of the untraced rounds around it."""
    events = {}
    log_root = run.path("trace", "eventlog")
    for sub in sorted(os.listdir(log_root)):
        events.update(parse_event_log(os.path.join(log_root, sub)))
    traced = [r for r in rounds if r["traced"]]
    plan_keys = ("construct_s", "analysis_ms", "optimization_ms", "planning_ms",
                 "exchanges", "python_nodes")
    exec_keys = ("jobs", "tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms",
                 "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                 "failed_tasks", "retried_stages")
    per_round = []
    for r in traced:
        agg = dict.fromkeys([f"plans.{k}" for k in plan_keys] + [f"exec.{k}" for k in exec_keys]
                            + ["codegen.classes", "codegen.compile_ms", "exec.driver_gap_ms"], 0.0)
        for o in (o for o in run.traced_ops if o["round"] == r["i"]):
            agg["codegen.classes"] += o["classes"]
            agg["codegen.compile_ms"] += o["compile_ms"]
            for k in plan_keys:
                agg[f"plans.{k}"] += o.get(k, 0.0)
            ev = events.get(o["group"])
            if ev is None:  # no job ran: all of it is driver time
                agg["exec.driver_gap_ms"] += o["end_ms"] - o["start_ms"]
                continue
            for k in exec_keys:
                agg[f"exec.{k}"] += ev[k]
            agg["exec.driver_gap_ms"] += uncovered_ms(o["start_ms"], o["end_ms"], ev["intervals"])
        per_round.append(agg)
    out = {k: median(a[k] for a in per_round) for k in (per_round[0] if per_round else {})}
    traced_ids = {r["i"] for r in traced}
    out["trace.round_self_s"] = median(
        t for t, s in run.spans.self_times("round") if s["round"] in traced_ids)
    wall = {r["i"]: r["wall"] for r in rounds}
    out["trace.overhead_s"] = median(wall[i] - (wall[i - 1] + wall[i + 1]) / 2
                                     for i in traced_ids if i + 1 in wall)
    return out
