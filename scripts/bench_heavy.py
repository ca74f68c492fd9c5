#!/usr/bin/env python3
"""Multi-run heavy-query bench — the r11 evidence harness for SURVEY
§6.3 (r10 VERDICT task 1: the scaling table's cells must be derivable
from COMMITTED per-run artifacts, not from unrecorded best-of-N runs).

One session per invocation: warms the JVM, builds-or-attaches the
node-graph store (timed, reported as graph_build with its mode), then
runs every heavy query N times back to back and prints ONE JSON line
whose ``queries`` map holds the FULL per-run arrays — median/min are
derived by the reader, every raw number is in the artifact.

Usage:
  SPARK_GRAFT_SF_DIR=/tmp/spark_graft_sf1 python scripts/bench_heavy.py --n 3
  python scripts/bench_heavy.py --n 3 --queries graph_distances,graph_triangles
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HEAVY = [
    "graph_distances",
    "graph_triangles",
    "sessionization",
    "link_prediction",
    "broken_references",
    "graph_pagerank",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=3)
    ap.add_argument("--queries", default=",".join(HEAVY))
    args = ap.parse_args()
    names = [q.strip() for q in args.queries.split(",") if q.strip()]

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    import __spark_entry__ as entrymod
    from xml_to_sqlite3_spark.cache_util import GRAPH
    from xml_to_sqlite3_spark.plans import node_graph as ng
    from xml_to_sqlite3_spark.session import get_spark, release_query_state

    spark = get_spark(app_name="bench_heavy")
    qs = entrymod.queries()

    # JVM/footer warm-up outside every timed region
    try:
        qs["q6_revenue"](spark, sf_dir).collect()
    except Exception:  # noqa: BLE001
        pass

    base_dir = GRAPH.path(ng._graph_cache_key(sf_dir))
    build_mode = (
        "attach" if os.path.exists(os.path.join(base_dir, "_COMPLETE")) else "build"
    )
    t0 = time.perf_counter()
    for df in ng.get_graph(spark, sf_dir):
        df.count()
    build_s = round(time.perf_counter() - t0, 2)

    release_query_state(spark)
    runs: dict[str, list[float]] = {}
    errors: dict[str, str] = {}
    for name in names:
        arr: list[float] = []
        for _ in range(args.n):
            t0 = time.perf_counter()
            try:
                # count(), not collect(): bench.py's semantics for
                # non-headline queries. r11's heavy list only had
                # bounded outputs so collect() was harmless; r12
                # added node-level frames (graph_clustering is ~6.4M
                # rows at sf1) where collect() times driver-side py4j
                # serialization instead of the distributed compute —
                # measured 30-50s collected vs 2.1-2.5s counted, same
                # plan.
                qs[name](spark, sf_dir).count()
            except Exception as e:  # noqa: BLE001
                errors[name] = (str(e) or repr(e)).splitlines()[0][:300]
                break
            arr.append(round(time.perf_counter() - t0, 2))
            release_query_state(spark)
        if arr:
            runs[name] = arr

    out = {
        "metric": "bench_heavy",
        "sf": sf,
        "sf_dir": sf_dir,
        "n": args.n,
        "graph_build": {"mode": build_mode, "sec": build_s},
        "queries": runs,
        "errors": errors,
        "unit": "sec",
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
