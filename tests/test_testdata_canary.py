"""Testdata-encoding canary.

The driver regenerates /root/testdata between rounds, and its
physical encodings have drifted before (events.ts was int64
TIMESTAMP(NANOS) through round 2, plain parquet TIMESTAMP micros
from round 3) — a drift the oracle gates only caught AFTER burning a
round. This canary asserts the dtype of every load()-ed column the
operators depend on, so a failing test NAMES the drifted column
before any oracle mismatches on it.

If this test fails: the environment changed, not the code. Update
io_util.load / normalize_event_ts to handle the new encoding, then
update the expectation here.
"""

from __future__ import annotations

import os

import pytest

from tests.oracle_harness import TABLES
from xml_to_sqlite3_spark.io_util import load

SF_DIR = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="driver testdata not present"
)

# exact post-load() schema contract every operator codes against
EXPECTED = {
    "region": [("r_regionkey", "int"), ("r_name", "string")],
    "nation": [("n_nationkey", "int"), ("n_name", "string"), ("n_regionkey", "int")],
    "customer": [
        ("c_custkey", "bigint"),
        ("c_name", "string"),
        ("c_nationkey", "int"),
        ("c_acctbal", "double"),
        ("c_mktsegment", "string"),
    ],
    "supplier": [
        ("s_suppkey", "bigint"),
        ("s_name", "string"),
        ("s_nationkey", "int"),
        ("s_acctbal", "double"),
    ],
    "part": [
        ("p_partkey", "bigint"),
        ("p_name", "string"),
        ("p_brand", "string"),
        ("p_type", "string"),
        ("p_size", "int"),
        ("p_retailprice", "double"),
    ],
    "orders": [
        ("o_orderkey", "bigint"),
        ("o_custkey", "bigint"),
        ("o_orderstatus", "string"),
        ("o_totalprice", "double"),
        ("o_orderdate", ("timestamp_ntz", "timestamp")),
        ("o_orderpriority", "string"),
    ],
    "lineitem": [
        ("l_orderkey", "bigint"),
        ("l_partkey", "bigint"),
        ("l_suppkey", "bigint"),
        ("l_linenumber", "int"),
        ("l_quantity", "double"),
        ("l_extendedprice", "double"),
        ("l_discount", "double"),
        ("l_tax", "double"),
        ("l_returnflag", "string"),
        ("l_linestatus", "string"),
        ("l_shipdate", ("timestamp_ntz", "timestamp")),
    ],
    # ts must come out of load() as a TIMESTAMP flavor whatever the
    # file encodes (normalize_event_ts's whole job)
    "events": [
        ("event_id", "bigint"),
        ("ts", ("timestamp_ntz", "timestamp")),
        ("user_id", "bigint"),
        ("event_type", "string"),
        ("value", "double"),
        ("props", "string"),
    ],
    "documents": [
        ("doc_id", "bigint"),
        ("text", "string"),
        ("lang", "string"),
        ("source", "string"),
        ("n_chars", "bigint"),
    ],
    "embeddings": [
        ("vec_id", "bigint"),
        ("embedding", "array<float>"),
        ("label", "int"),
    ],
}

EMBEDDING_DIM = 64  # similarity.py operators assume this width


@pytest.mark.parametrize("table", TABLES)
def test_table_schema_matches_contract(spark, table):
    got = load(spark, SF_DIR, table).dtypes
    want = EXPECTED[table]
    assert len(got) == len(want), f"{table}: columns changed: {got}"
    for (gname, gtype), (wname, wtype) in zip(got, want):
        assert gname == wname, f"{table}: column {wname!r} is now {gname!r}"
        allowed = wtype if isinstance(wtype, tuple) else (wtype,)
        assert gtype in allowed, (
            f"TESTDATA DRIFT: {table}.{gname} is {gtype}, expected one of "
            f"{allowed} — update io_util normalization first"
        )


def test_embedding_width_and_events_epoch(spark):
    emb = load(spark, SF_DIR, "embeddings")
    from pyspark.sql import functions as F

    widths = emb.select(F.size("embedding").alias("w")).distinct().collect()
    assert [r.w for r in widths] == [EMBEDDING_DIM], widths

    # sanity-pin the epoch magnitude: a silent unit regression (the
    # round-3 1000x compression) lands decades away from the data's
    # actual 2020s range
    ev = load(spark, SF_DIR, "events")
    from xml_to_sqlite3_spark.io_util import ts_seconds

    lo, hi = ev.select(
        F.min(ts_seconds(F.col("ts"))), F.max(ts_seconds(F.col("ts")))
    ).first()
    assert 1_000_000_000 < lo <= hi < 4_000_000_000, (lo, hi)
