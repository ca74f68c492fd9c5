#!/usr/bin/env python3
"""Self-test of the benchmark's checks on a tiny corpus.

    python3 perfbench/selftest.py

Converts a five-file corpus with the program's CLI entry point (the
helper the xml_etl workload times), requires both sinks' outputs to
equal the generator's oracle, then corrupts each output and requires
the check to report it, so a wrong result raises the failed
count (and with it ``failed_ops_frac``). Also checks that the query
result digest notices a changed or missing row. Exits 0 when all hold.
"""

from __future__ import annotations

import os
import sqlite3
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    sys.path.insert(0, ROOT)
    import pyarrow.parquet as pq

    from perfbench import checks, gen
    from perfbench.harness import Run
    from perfbench.workloads import cli_convert

    run = Run(ROOT, "selftest", 7, 1, False)
    run.isolate()
    xml_dir = run.path("input", "xml")
    oracle = gen.make_xml_corpus(7, xml_dir, n_files=5, nodes_per_file=30, n_malformed=1)
    spark = run.launch()
    try:
        pq_dir = cli_convert(xml_dir, "parquet", run.path("out", "parquet"))
        db = cli_convert(xml_dir, "sqlite", run.path("out", "sqlite"))
    finally:
        run.shutdown(spark)

    results = {}
    results["parquet matches oracle"] = not checks.check_conversion("parquet", pq_dir, oracle)
    results["sqlite matches oracle"] = not checks.check_conversion("sqlite", db, oracle)

    nodes_dir = os.path.join(pq_dir, "nodes")
    table = pq.read_table(nodes_dir)
    for name in os.listdir(nodes_dir):
        os.remove(os.path.join(nodes_dir, name))
    content = table.column("content").to_pylist()
    content[0] = (content[0] or "") + " corrupted"
    pq.write_table(table.set_column(table.schema.get_field_index("content"), "content",
                                    [content]), os.path.join(nodes_dir, "part-0.parquet"))
    run.record("corrupted parquet", checks.check_conversion("parquet", pq_dir, oracle))
    results["corrupted parquet is a failure"] = run.failed == 1

    con = sqlite3.connect(db)
    con.execute("DELETE FROM cross_references WHERE id = (SELECT min(id) FROM cross_references)")
    con.commit()
    con.close()
    run.record("corrupted sqlite", checks.check_conversion("sqlite", db, oracle))
    results["corrupted sqlite is a failure"] = run.failed == 2
    results["failed_ops_frac rises"] = run.failed / run.attempted == 1.0

    cols, rows = ["a", "b"], [(1, "x"), (2, "y")]
    d = checks.result_digest(cols, rows)
    results["result digest ignores row and column order"] = d == checks.result_digest(
        ["b", "a"], [("y", 2), ("x", 1)])
    results["result digest sees a changed row"] = d != checks.result_digest(cols, [(1, "x"), (2, "z")])
    results["result digest sees a missing row"] = d != checks.result_digest(cols, rows[:1])

    run.finish(True)
    for name, ok in results.items():
        print(f"{'ok  ' if ok else 'FAIL'} {name}")
    return 0 if all(results.values()) else 1


if __name__ == "__main__":
    sys.exit(main())
