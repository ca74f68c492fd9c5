#!/usr/bin/env python3
"""Measure the incremental store-append path against the full build —
the r11 evidence artifact for SURVEY §6.4.

Builds (or attaches) the node-graph store for --base, synthesizes a
delta document from --delta-src (plans/node_graph.
synthesize_delta_document — id-prefixed, self-contained, exactly the
delta the multiset-identity test pins), times append_documents, and
prints ONE JSON line with both costs plus the row counts that define
the delta fraction. Run with a COLD cache (clear
$SPARK_GRAFT_GRAPH_CACHE) to time the base build in the same session;
a warm run reports base_mode="attach" so the artifact is honest about
what was measured.

Usage:
  python scripts/measure_append.py --base /tmp/spark_graft_sf1 \
      --delta-src /root/testdata/sf0.1 --tag dx
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", default="/tmp/spark_graft_sf1")
    ap.add_argument("--delta-src", default="/root/testdata/sf0.1")
    ap.add_argument("--tag", default="dx")
    args = ap.parse_args()

    # the tuned engine session (AQE, Arrow, periodic GC, pushdown
    # posture) — the SAME builder bench.py/bench_heavy.py measure
    # under, so append timings stay apples-to-apples with theirs.
    # (The r11-committed BENCH_append_r11.json numbers predate this
    # and were taken under a hand-rolled session without AQE/Arrow —
    # method disclosed there; the build-vs-append RATIO they support
    # is insensitive to those confs, but absolute numbers from this
    # script are only comparable to bench numbers from here on.)
    from xml_to_sqlite3_spark.session import get_spark

    spark = get_spark(app_name="measure_append")
    spark.sparkContext.setLogLevel("ERROR")

    from xml_to_sqlite3_spark.cache_util import GRAPH, content_key
    from xml_to_sqlite3_spark.plans import node_graph as ng

    base_ck = ng._graph_cache_key(args.base)
    base_dir = GRAPH.path(base_ck)
    base_mode = (
        "attach" if os.path.exists(os.path.join(base_dir, "_COMPLETE")) else "build"
    )
    t0 = time.perf_counter()
    nodes, _props, _x = ng.get_graph(spark, args.base)
    base_s = time.perf_counter() - t0
    base_rows = nodes.count()

    dn, dp = ng.synthesize_delta_document(spark, args.delta_src, tag=args.tag)
    delta_rows = dn.count()
    # the delta identity: source files + synthesizer tag + THIS
    # harness file (its code shapes the delta frames)
    delta_key = content_key(
        "dd",
        args.delta_src,
        extra=f"synth|{args.tag}",
        code_files=(os.path.abspath(__file__),),
        suffixes=(".parquet",),
    )
    t0 = time.perf_counter()
    store = ng.append_documents(spark, args.base, dn, dp, delta_key=delta_key)
    append_s = time.perf_counter() - t0
    appended_rows = store["nodes"].count()

    print(
        json.dumps(
            {
                "metric": "store_append",
                "base": args.base,
                "base_mode": base_mode,
                "base_s": round(base_s, 2),
                "append_s": round(append_s, 2),
                "base_nodes": base_rows,
                "delta_nodes": delta_rows,
                "appended_nodes": appended_rows,
                "delta_fraction": round(delta_rows / max(base_rows, 1), 4),
                "unit": "sec",
            }
        )
    )


if __name__ == "__main__":
    main()
