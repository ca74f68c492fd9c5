#!/usr/bin/env python3
"""Isolate and time named queries() entries with the noop sink.

Usage:
    python scripts/time_query.py <query> [<query> ...] [--reps N]

Times each query with df.write.format("noop") (guide §1.4) after the
same store warm-up + cache hygiene bench.py applies, so numbers are
comparable across invocations.  Prints one line per (query, rep).
"""

from __future__ import annotations

import os
import sys
import time

_HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _HERE)

import __spark_entry__ as entrymod  # noqa: E402
from bench import STORE_WARMUPS  # noqa: E402
from xml_to_sqlite3_spark.session import get_spark, release_query_state  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    reps = 3
    if "--reps" in args:
        i = args.index("--reps")
        reps = int(args[i + 1])
        del args[i : i + 2]
    names = args
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="time_query")
    qs = entrymod.queries()

    # warm stores the same way bench.py does (not timed here)
    for warm in STORE_WARMUPS.values():
        for df in warm(spark, sf_dir):
            df.count()
    release_query_state(spark)

    for name in names:
        for rep in range(reps):
            spark.sparkContext.setJobDescription(f"{name}#{rep}")
            t0 = time.perf_counter()
            try:
                df = qs[name](spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                dt = time.perf_counter() - t0
                print(f"{name} rep{rep}: {dt:.3f}s", flush=True)
            except Exception as e:  # noqa: BLE001
                print(f"{name} rep{rep}: ERROR {e}", flush=True)
            spark.sparkContext.setJobDescription(None)
            df = None
            release_query_state(spark)
    spark.stop()


if __name__ == "__main__":
    main()
