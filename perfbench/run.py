#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload xml_etl --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The inputs are generated from the
seed inside ``.perfbench_runs/<run>/``; every output is checked. The
last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics of
BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``). Lines before it name further metrics of the workload,
one ``name value unit`` each. Spark's logs go to the run's
``trace/spark.log``, never to standard output.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        ap.error(f"unknown workload {args.workload!r}")

    # stdout carries metrics only: the JVM and Python workers inherit
    # file descriptor 1, so point it at stderr and keep a private copy
    out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)

    sys.path.insert(0, ROOT)
    import xml_to_sqlite3_spark  # noqa: F401 - fail fast without the program

    from perfbench import workloads
    from perfbench.harness import Run
    from perfbench.trace import MemSampler, median

    run = Run(ROOT, args.workload, args.seed, args.seconds, bool(args.trace))
    run.isolate()
    with MemSampler() as mem:
        result = getattr(workloads, args.workload)(run)
    run.finish(run.failed == 0)

    e2e = result["e2e"]
    layers = dict(result["layers"], **{"session.get_spark_s": median(run.setup_samples)})
    extra = dict(result["extra"], get_spark_s=(median(run.setup_samples), "s"),
                 peak_pss_mb=(mem.peak_kb / 1024, "MB"))
    extra["failed_ops_frac"] = (run.failed / max(run.attempted, 1), "frac")
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    for name, (value, unit) in extra.items():
        print(f"{args.workload} {name} {value:.6g} {unit}", file=out)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = layers if args.trace else e2e
    # a layer the workload does not use reads 0; any other metric the
    # run did not produce is an error, never a silent 0
    unused = workloads.UNUSED_LAYERS[args.workload] if args.trace else ()
    metrics, missing = {}, []
    for m in wanted:
        name = m["name"]
        value = float(values.get(name, math.nan))
        if not math.isfinite(value):
            if not name.startswith(unused):
                missing.append(name)
            value = 0.0
        metrics[name] = {"value": value, "unit": units[name]}
    if missing:
        print(f"[perfbench] not measured: {', '.join(missing)}", file=sys.stderr)
    print(json.dumps({"correct": run.failed == 0 and run.attempted > 0 and not missing,
                      "attempted": run.attempted, "failed": run.failed,
                      "metrics": metrics}), file=out)
    out.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
