"""Generic as-of join operator tests (hand-computed expectations)."""

from __future__ import annotations

import datetime as dt

from xml_to_sqlite3_spark.operators.asof import asof_join


def _t(m):
    return dt.datetime(2024, 1, 1, 0, m)


def test_asof_basic(spark):
    left = spark.createDataFrame(
        [(1, "u1", _t(5)), (2, "u1", _t(10)), (3, "u2", _t(7)), (4, "u3", _t(1))],
        "event_id long, user_id string, ts timestamp",
    )
    right = spark.createDataFrame(
        [("u1", _t(4), 100.0), ("u1", _t(9), 200.0), ("u2", _t(8), 300.0)],
        "user_id string, ts timestamp, price double",
    )
    out = {
        r["event_id"]: r["price_asof"]
        for r in asof_join(
            left, right, on="ts", by="user_id", value_cols=["price"]
        ).collect()
    }
    assert out == {1: 100.0, 2: 200.0, 3: None, 4: None}
    # 3: u2's only right row is LATER (8 > 7) -> no match
    # 4: u3 has no right rows at all


def test_asof_inclusive_at_equal_ts(spark):
    left = spark.createDataFrame(
        [(1, "u1", _t(5))], "event_id long, user_id string, ts timestamp"
    )
    right = spark.createDataFrame(
        [("u1", _t(5), 42.0)], "user_id string, ts timestamp, price double"
    )
    out = asof_join(left, right, on="ts", by="user_id", value_cols=["price"]).collect()
    assert out[0]["price_asof"] == 42.0  # right sorts before left at equal ts


def test_asof_null_in_latest_right_row_wins_atomically(spark):
    """pd.merge_asof semantics: the whole most-recent right row is the
    match. A NULL column in that row must surface as NULL — an older
    row's value must not bleed through for just that column."""
    left = spark.createDataFrame(
        [(1, "u1", _t(10))], "event_id long, user_id string, ts timestamp"
    )
    right = spark.createDataFrame(
        [("u1", _t(2), 100.0, "old"), ("u1", _t(8), None, "new")],
        "user_id string, ts timestamp, price double, tag string",
    )
    out = asof_join(
        left, right, on="ts", by="user_id", value_cols=["price", "tag"]
    ).collect()[0]
    assert out["tag_asof"] == "new"
    assert out["price_asof"] is None  # NOT 100.0 from the older row


def test_asof_latest_wins(spark):
    left = spark.createDataFrame(
        [(1, "u1", _t(30))], "event_id long, user_id string, ts timestamp"
    )
    right = spark.createDataFrame(
        [("u1", _t(i), float(i)) for i in (1, 10, 20, 25)],
        "user_id string, ts timestamp, price double",
    )
    out = asof_join(left, right, on="ts", by="user_id", value_cols=["price"]).collect()
    assert out[0]["price_asof"] == 25.0


def test_asof_matches_pandas_merge_asof(spark):
    """Differential test: every direction and a tolerance, random
    numeric timelines, vs pd.merge_asof ground truth."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(42)
    left_pd = pd.DataFrame(
        {
            "event_id": range(60),
            "key": rng.choice(["a", "b", "c"], size=60),
            "t": rng.integers(0, 100, size=60).astype("int64"),
        }
    )
    right_pd = pd.DataFrame(
        {
            "key": rng.choice(["a", "b", "c"], size=40),
            "t": rng.integers(0, 100, size=40).astype("int64"),
            "val": rng.normal(size=40).round(6),
        }
    )
    # merge_asof needs unique (key, t) on the right for a deterministic
    # comparison; drop dup timestamps per key
    right_pd = right_pd.drop_duplicates(["key", "t"]).reset_index(drop=True)

    left = spark.createDataFrame(left_pd.rename(columns={"t": "t"}))
    right = spark.createDataFrame(right_pd)

    for direction, tol in [
        ("backward", None),
        ("forward", None),
        ("nearest", None),
        ("backward", 5.0),
        ("nearest", 3.0),
    ]:
        expected = pd.merge_asof(
            left_pd.sort_values("t", kind="stable"),
            right_pd.sort_values("t", kind="stable"),
            on="t",
            by="key",
            direction=direction,
            tolerance=None if tol is None else int(tol),
            suffixes=("", "_asof"),
        ).set_index("event_id")["val"]
        got = {
            r["event_id"]: r["val_asof"]
            for r in asof_join(
                left, right, on="t", by="key", value_cols=["val"],
                direction=direction, tolerance=tol,
            ).collect()
        }
        for eid in left_pd["event_id"]:
            e = expected.loc[eid]
            g = got[eid]
            if pd.isna(e):
                assert g is None, f"{direction}/{tol} event {eid}: {g} != NaN"
            else:
                assert g is not None and abs(g - e) < 1e-9, (
                    f"{direction}/{tol} event {eid}: {g} != {e}"
                )
