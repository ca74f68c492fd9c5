#!/usr/bin/env python3
"""Benchmark the headline queries.

Runs each headline query at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod  # noqa: E402
from xml_to_sqlite3_spark.operators.dedup import (  # noqa: E402
    get_components_store,
    get_minhash_store,
)
from xml_to_sqlite3_spark.plans.node_graph import get_graph  # noqa: E402
from xml_to_sqlite3_spark.session import get_spark, release_query_state  # noqa: E402

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q6_revenue",
    "topk_per_group",
    "events_windowed",
    "sessionization",
    "asof_join",
]


# The persistent stores, each built or attached as its own timed bench
# entry (counted in the total) — the reference's model is
# build-the-database-once, query-many-times, and without these the
# one-time builds (the ~18M-row xref materialization, the MinHash
# postings + signatures, the Jaccard components closure) would be
# silently attributed to whichever query touches the store first.
# Each warm-up returns the frames to count.
STORE_WARMUPS = {
    "graph_build": lambda spark, sf_dir: get_graph(spark, sf_dir),
    "minhash_store": lambda spark, sf_dir: get_minhash_store(
        spark, os.path.join(sf_dir, "documents.parquet"), n=3, k=64
    ),
    "components_store": lambda spark, sf_dir: (
        get_components_store(
            spark, os.path.join(sf_dir, "documents.parquet"), threshold=0.3, n=3
        ),
    ),
}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="bench")

    qs = entrymod.queries()
    names = [n for n in HEADLINE if n in qs] + sorted(set(qs) - set(HEADLINE))
    # scaling experiments: SPARK_GRAFT_BENCH_ONLY=a,b,c restricts the
    # run to the named queries (the store-build entries below still
    # run — their one-time cost is part of any scaling measurement)
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    if only:
        wanted = {w.strip() for w in only.split(",") if w.strip()}
        names = [n for n in names if n in wanted]

    # warm the JVM + parquet footers once with the flagship query
    try:
        qs["q1_pricing_summary"](spark, sf_dir).collect()
    except Exception:  # noqa: BLE001 — warm-up failure must not kill the run
        pass

    timings: dict[str, float] = {}
    errors: dict[str, str] = {}

    for name, warm in STORE_WARMUPS.items():
        t0 = time.perf_counter()
        try:
            for df in warm(spark, sf_dir):
                df.count()
            timings[name] = round(time.perf_counter() - t0, 4)
        except Exception as e:  # noqa: BLE001 — one failure must not kill the run
            errors[name] = (str(e) or repr(e)).splitlines()[0][:300]

    # drop the warm-up's and store builds' leftover blocks so the
    # FIRST timed query doesn't absorb their eviction pressure (the
    # same distortion release_query_state documents mid-loop)
    release_query_state(spark)

    from pyspark.errors import AnalysisException
    from pyspark.sql import functions as F

    def _eval_all_columns(df) -> None:
        """Collect-equivalent evaluation without the driver transfer:
        xxhash64 over a struct of EVERY column, folded into one
        bit_xor aggregate (overflow-free under ANSI). count() lets
        Catalyst prune value expressions — the r13 lesson:
        embedding_covariance benched 1.2s under count() vs its 6-7s
        true evaluated cost at sf1 — while hashing forces every value
        to be computed, which is what the driver's DuckDB comparison
        actually pays. Frames with hash-unsupported column types fall
        back to a real collect (analysis raises BEFORE any job, so
        the fallback never re-runs work)."""
        try:
            plan = df.select(
                F.xxhash64(F.struct(*[F.col(c) for c in df.columns])).alias(
                    "__h"
                )
            ).agg(F.expr("bit_xor(__h)"))
        except Exception:  # noqa: BLE001 — unhashable schema: pay the collect
            plan = None
        if plan is not None:
            try:
                plan.collect()
            except AnalysisException:
                # lazy-analysis backends (Spark Connect) surface the
                # unhashable-schema AnalysisException at collect, not
                # at df.select — fall back to a real collect (r14
                # ADVICE). ONLY analysis errors fall back: a RUNTIME
                # failure mid-hash would otherwise re-run the whole
                # query inside the same timing window (double-counted
                # time, masked error) — those propagate to the
                # per-query error handler.
                df.collect()
        else:
            df.collect()

    for name in names:
        # per-query isolation: a single broken query costs its own
        # timing, never the whole bench (round-3 lesson: one
        # AnalysisException zeroed the entire perf signal)
        t0 = time.perf_counter()
        df = None
        try:
            df = qs[name](spark, sf_dir)
            if name in HEADLINE:
                _ = len(df.collect())
            else:
                _eval_all_columns(df)
            timings[name] = round(time.perf_counter() - t0, 4)
        except Exception as e:  # noqa: BLE001
            errors[name] = (str(e) or repr(e)).splitlines()[0][:300]
        df = None  # drop the plan's persisted/checkpointed block refs
        release_query_state(spark)

    total = round(sum(timings.values()), 2)
    # ASCENDING by time, with the total/metric fields AFTER the
    # queries dict: the driver captures the LAST 2000 chars of the
    # line, so ascending order keeps the heaviest entries (and the
    # total) inside the retained tail. (Round 6 sorted descending on
    # the opposite assumption and lost the total plus the 19 heaviest
    # entries — BENCH_r06 "parsed": null.)
    ordered = dict(
        sorted(
            ((k, round(v, 2)) for k, v in timings.items()),
            key=lambda kv: kv[1],
        )
    )
    # timing-semantics version stamp: "hash_eval_v2" = non-headline
    # gates pay a full xxhash64-over-all-columns evaluation (r14+);
    # r13-and-earlier totals used count() timing, which Catalyst
    # value-prunes — raw totals across that boundary are NOT
    # comparable (r14 VERDICT task 7).
    timing_semantics = "hash_eval_v2"
    out = {
        "queries": ordered,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "unit": "sec",
        "value": total,
        "timing": timing_semantics,
        "metric": "headline_queries_total",
    }
    if errors:
        # still exit 0: the printed JSON (with "errors") IS the
        # signal; a nonzero rc would discard every good timing the
        # way round 3's un-isolated crash did
        out["errors"] = errors
    print(json.dumps(out))
    # The driver keeps only the LAST 2000 chars of stdout; the full
    # line above is ~4KB so it can never parse from the tail (rounds
    # 5-7 all recorded "parsed": null). Emit a FINAL compact summary
    # line — total + the 25 heaviest entries — sized well under the
    # capture window so the tail always ends with one complete JSON
    # document.
    heaviest = dict(
        sorted(ordered.items(), key=lambda kv: kv[1], reverse=True)[:25]
    )
    compact = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "sf": out["sf"],
        "timing": timing_semantics,
        "n": len(ordered),
        "n_errors": len(errors),
        "queries": heaviest,
    }
    line = json.dumps(compact)
    while len(line) > 1800 and compact["queries"]:
        compact["queries"].popitem()
        line = json.dumps(compact)
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
