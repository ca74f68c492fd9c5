"""End-to-end CLI tests: ``python -m xml_to_sqlite3_spark`` on the
fixtures, through ``__main__.main``, to SQLite and to parquet. The
printed statistics must agree with the written output."""

from __future__ import annotations

import os
import re
import sqlite3

from xml_to_sqlite3_spark.__main__ import main

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")


def _run(capsys, *args) -> dict[str, int]:
    """Exit code 0 and the printed ``Name: N`` statistics."""
    assert main(["-i", FIXTURES, *args]) == 0
    out = capsys.readouterr().out
    return {k: int(v) for k, v in re.findall(r"^([A-Za-z -]+): (\d+)$", out, re.M)}


def _sqlite_counts(db: str) -> dict[str, int]:
    con = sqlite3.connect(db)
    try:
        return {
            # print_stats (main.rb) counts documents that have nodes
            "Total nodes": con.execute("SELECT count(*) FROM nodes").fetchone()[0],
            "Documents": con.execute(
                "SELECT count(DISTINCT document_id) FROM nodes"
            ).fetchone()[0],
            "Cross-references": con.execute(
                "SELECT count(*) FROM cross_references"
            ).fetchone()[0],
        }
    finally:
        con.close()


def test_cli_sqlite(spark, tmp_path, capsys):
    db = str(tmp_path / "db.sqlite3")
    stats = _run(capsys, "-o", db)
    written = _sqlite_counts(db)
    assert written["Cross-references"] > 0
    assert {k: stats[k] for k in written} == written

    # --force rewrites the file: the cross references do not double
    again = _run(capsys, "-o", db, "--force")
    assert _sqlite_counts(db) == written
    assert again["Cross-references"] == written["Cross-references"]


def test_cli_parquet(spark, tmp_path, capsys):
    out = str(tmp_path / "pq")
    stats = _run(capsys, "--parquet-out", out)
    nodes = spark.read.parquet(os.path.join(out, "nodes"))
    written = {
        "Total nodes": nodes.count(),
        "Documents": nodes.select("document_id").distinct().count(),
        "Cross-references": spark.read.parquet(os.path.join(out, "cross_references")).count(),
    }
    assert written["Cross-references"] > 0
    assert {k: stats[k] for k in written} == written
