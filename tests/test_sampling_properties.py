"""Property-based tests for the r11 sampling/mixing operators: a
python replica recomputes the deterministic md5-Gumbel keys and the
temperature shares for arbitrary generated corpora, so the Spark
plans are pinned on inputs no hand fixture covers (ties, degenerate
groups, extreme weights). Example counts are small — each example
runs real Spark jobs."""

from __future__ import annotations

import hashlib
import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from xml_to_sqlite3_spark.operators import curation as C


def _key(doc_id, w):
    h = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16)
    u = (h + 0.5) / float(1 << 60)
    return round(math.log(w) - math.log(-math.log(u)), 6)


rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=10_000),   # doc_id (dups possible pre-dedup)
        st.integers(min_value=0, max_value=2),        # group index
        st.integers(min_value=-5, max_value=10_000),  # weight (incl. <= 0)
    ),
    min_size=1,
    max_size=40,
    unique_by=lambda t: t[0],
)


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(rows_strategy, st.integers(min_value=1, max_value=5))
def test_weighted_sample_matches_replica(spark, rows, k):
    data = [(i, f"g{g}", w) for i, g, w in rows]
    df = spark.createDataFrame(data, "doc_id long, source string, n_chars long")
    out = C.weighted_sample(
        df, weight_col="n_chars", k=k, key="doc_id", group_col="source"
    ).collect()
    # python replica: per-group top-k of ln(w)+Gumbel keys, rounded
    # like the operator, ties on doc_id ascending
    by_group: dict[str, list] = {}
    for i, g, w in rows:
        if w > 0:
            by_group.setdefault(f"g{g}", []).append((_key(i, w), -i))
    expect = set()
    for g, members in by_group.items():
        members.sort(reverse=True)
        expect |= {-neg for _, neg in members[:k]}
    for r in out:
        w = dict((i, w) for i, g, w in rows)[r["doc_id"]]
        if w <= 0:
            assert r["sample_key"] is None and r["selected"] is False
        else:
            assert abs(r["sample_key"] - _key(r["doc_id"], w)) < 2e-6
            assert r["selected"] is (r["doc_id"] in expect), r


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.integers(min_value=0, max_value=50_000),
        min_size=1,
        max_size=6,
    )
)
def test_temperature_mix_invariants(spark, sizes):
    data = [
        (100 * s_idx + j, f"s{s_idx}", 1)
        for s_idx, n in enumerate(sizes)
        for j in range(min(n % 7 + 1, 7))
    ]
    df = spark.createDataFrame(data, "doc_id long, source string, n_chars long")
    out = C.temperature_mix(df, "n_chars", alpha=0.7).collect()
    # shares are distributions
    assert abs(sum(r["raw_share"] for r in out) - 1.0) < 1e-4
    assert abs(sum(r["temp_share"] for r in out) - 1.0) < 1e-4
    # alpha < 1 flattens: smaller sources get the larger boost
    srt = sorted(out, key=lambda r: r["n"])
    boosts = [r["boost"] for r in srt if r["boost"] is not None]
    assert boosts == sorted(boosts, reverse=True)
