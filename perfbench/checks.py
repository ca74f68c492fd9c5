"""Output checks: the ETL outputs against the generator's oracle, and
query results against DuckDB running the program's own oracle SQL."""

from __future__ import annotations

import datetime
import math
import os
import sqlite3
from collections import Counter

from .gen import CorpusOracle, digest


def _xref_row(src, tgt, rtype, attr, conf):
    return (src, tgt, rtype, attr, round(conf, 6))


def _compare(oracle: CorpusOracle, tables: dict[str, int], xref_types, data_types,
             node_digest: str, xref_digest: str) -> list[str]:
    problems = []
    for name, want in oracle.tables.items():
        if tables.get(name) != want:
            problems.append(f"{name}: {tables.get(name)} rows, expected {want}")
    if dict(xref_types) != oracle.xref_types:
        problems.append(f"xref types {dict(xref_types)} != {oracle.xref_types}")
    if dict(data_types) != oracle.data_types:
        problems.append(f"data types {dict(data_types)} != {oracle.data_types}")
    if node_digest != oracle.node_digest:
        problems.append("node digest differs")
    if xref_digest != oracle.xref_digest:
        problems.append("cross_references digest differs")
    return problems


def check_parquet(out_dir: str, oracle: CorpusOracle) -> list[str]:
    """Mismatches between a ``--parquet-out`` directory and the oracle."""
    import pyarrow.parquet as pq

    def read(name, cols=None):
        return pq.read_table(os.path.join(out_dir, name), columns=cols).to_pydict()

    nodes = read("nodes", ["id", "parent_id", "position", "xpath", "content"])
    props = read("node_properties", ["data_type"])
    xr = read("cross_references", ["source_node_id", "target_node_id", "reference_type",
                                   "attribute_name", "confidence"])
    xrows = [_xref_row(*r) for r in zip(*xr.values())]
    tables = {
        "documents": len(read("documents", ["id"])["id"]),
        "nodes": len(nodes["id"]),
        "node_properties": len(props["data_type"]),
        "cross_references": len(xrows),
        "errors": len(read("errors", ["document_id"])["document_id"]),
    }
    return _compare(oracle, tables, Counter(r[2] for r in xrows), Counter(props["data_type"]),
                    digest(zip(*nodes.values())), digest(xrows))


def check_sqlite(db_path: str, oracle: CorpusOracle, errors: int) -> list[str]:
    """Mismatches between a reference-schema SQLite file and the oracle.
    The SQLite schema has no errors table; the CLI reports parse errors
    separately, so their count is passed in."""
    con = sqlite3.connect(db_path)
    try:
        nodes = con.execute("SELECT id, parent_id, position, xpath, content FROM nodes").fetchall()
        dtypes = Counter(dict(con.execute(
            "SELECT data_type, count(*) FROM node_properties GROUP BY 1").fetchall()))
        xrows = [_xref_row(*r) for r in con.execute(
            "SELECT source_node_id, target_node_id, reference_type, attribute_name, confidence "
            "FROM cross_references")]
        tables = {
            "documents": con.execute("SELECT count(*) FROM documents").fetchone()[0],
            "nodes": len(nodes),
            "node_properties": sum(dtypes.values()),
            "cross_references": len(xrows),
            "errors": errors,
        }
    finally:
        con.close()
    return _compare(oracle, tables, Counter(r[2] for r in xrows), dtypes,
                    digest(nodes), digest(xrows))


def check_conversion(sink: str, target: str, oracle: CorpusOracle) -> list[str]:
    """Mismatches between one conversion's output (a parquet directory
    or a SQLite file, by ``sink``) and the oracle."""
    if sink == "parquet":
        return check_parquet(target, oracle)
    return check_sqlite(target, oracle, oracle.tables["errors"])


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def result_digest(columns, rows) -> str:
    """Digest of a result independent of row and column order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    header = ("__columns__",) + tuple(columns[i] for i in order)
    return digest([header] + [tuple(_norm(r[i]) for i in order) for r in rows])


def duckdb_digests(sf_dir: str, oracles: dict[str, str]) -> dict[str, str]:
    """Digest of each oracle query run by DuckDB over the input tables."""
    import duckdb

    con = duckdb.connect()
    try:
        for name in os.listdir(sf_dir):
            if name.endswith(".parquet"):
                path = os.path.join(sf_dir, name)
                con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for q, sql in oracles.items():
            res = con.execute(sql)
            out[q] = result_digest([d[0] for d in res.description], res.fetchall())
        return out
    finally:
        con.close()
