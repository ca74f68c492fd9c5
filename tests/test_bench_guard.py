"""Perf-regression guard: rounds 2 and 4 both shipped silent 5-30x
regressions (ngram_jaccard 45.8s, bidirectional_refs 22.8s) that a
cheap wall-time tripwire would have caught before the bench did.

Each guarded query runs once at sf0.001 and must finish within
RATIO_LIMIT x its recorded floor, where the floor is normalized by a
calibration query measured in the SAME session — so box-speed swings
(the 3-5x run-to-run variance this host shows) cancel out and only a
genuine plan regression trips the guard.
"""

from __future__ import annotations

import time

import pytest

SF_DIR = "/root/testdata/sf0.001"

# (query, floor_seconds) measured on the round-5 plans at sf0.001 on
# the dev box, rounded UP generously. A >RATIO_LIMIT breach after
# calibration means the plan regressed structurally (extra scan,
# lost pushdown, serialization through one task), not that the box
# is slow today.
#
# A LIST of pairs, not a dict literal: r10 shipped a duplicate
# "broken_references" key whose stale first entry Python silently
# shadowed — exactly the silent drift this guard exists to catch.
# The dict is built below behind a duplicate-key assert.
_FLOOR_ITEMS = [
    ("bidirectional_refs", 2.0),
    ("relationship_summary", 2.5),
    ("ancestors", 3.0),
    # tightened r6: persistent token-sorted index (measured 0.61s
    # best-of-2 at sf0.001 post-change; was 3.0)
    ("bm25_search", 1.5),
    # tightened r7: the persistent MinHash store feeds both (measured
    # 0.81 / 1.5s best-of-2 store-warm; the guard fixture warms the
    # store like it warms the graph)
    ("ngram_jaccard", 2.0),
    ("dedup_minhash", 3.0),
    # tightened r10: frontier-isin scan pushdown (measured 0.64s
    # box-normalized best-of-2; a regression to per-level full scans
    # is ~3x and must trip)
    ("graph_distances", 2.5),
    # tightened r10: store-materialized node_levels (measured 0.10s
    # normalized; a regression to the per-query 10-level walk is
    # ~5x and must trip)
    ("hierarchy_levels", 0.8),
    ("sibling_pairs", 2.0),
    # r10: store-materialized distinct-target set (measured 0.09s
    # normalized; a regression to the per-query multiset distinct
    # must trip — it was the k=30 sweep's heaviest query entry)
    ("broken_references", 1.0),
    # round-6 additions (floors measured best-of-2 on the dev box)
    ("node_references", 1.0),
    # tightened r7: store-fed funnel (measured 1.61s best-of-2)
    ("curate_corpus", 3.0),
    ("kmv_daily", 1.0),
    ("hll_distinct", 1.0),
    # round-5 additions (floors measured best-of-2 on the dev box)
    # tightened r7: store-fed (measured 1.85 / 1.97s best-of-2)
    ("dedup_recall_audit", 4.0),
    ("near_dedup_corpus", 3.5),
    # tightened r7: fused pending-merge UDF + vocab-scale shuffle
    # partitions (measured 3.91s best-of-2)
    ("bpe_merges", 5.0),
    # tightened r7: one-job-per-round iteration with exchange-free
    # co-partitioned joins (pagerank measured 2.27s best-of-2,
    # triangles 0.99s) + the new single-pass combination-expansion
    # link_prediction (0.80s)
    ("graph_triangles", 1.2),
    # tightened r7: state partitions scoped to 8 in _run_to_table
    # (measured 2.64s best-of-2)
    ("streaming_attribution", 3.5),
    # tightened r10: store-materialized pr_ranks (measured 0.04s
    # normalized; a regression to the live per-query iteration —
    # ~2.3s normalized — must trip)
    ("graph_pagerank", 0.5),
    ("link_prediction", 1.0),
    ("q7_volume_shipping", 1.5),
    # r7 additions: cached xrefs_multi read (0.15s best-of-2; a
    # regression back to per-query detection is ~10x) and the
    # Arrow-UDF shingle + checkpointed-intermediates Bloom gate
    # (1.66s best-of-2)
    ("multi_references", 0.5),
    ("bloom_prefilter", 2.5),
    # r11 additions (normalized best-of-2 on the dev box, floors
    # rounded up ~2x): canonical selection re-runs jaccard+components
    # per call (0.80s normalized); the graph metrics start at the
    # store's tri_oriented (0.27/0.26s — a regression to per-query
    # dedup+degree+orientation joins must trip); hybrid fuses two
    # index-fed retrievers (0.47s); NB trains+scores in one pass
    # (0.61s); hard negatives broadcast the query side (0.23s);
    # semdedup attaches the persistent codebook (0.36s)
    ("dedup_canonical", 1.6),
    ("graph_assortativity", 0.6),
    ("graph_clustering", 0.6),
    ("hybrid_search", 1.0),
    ("nb_classify", 1.2),
    ("hard_negatives", 0.5),
    ("semdedup", 0.8),
]
assert len({k for k, _ in _FLOOR_ITEMS}) == len(_FLOOR_ITEMS), (
    "duplicate query key in _FLOOR_ITEMS — the later floor would "
    "silently shadow the earlier one: "
    + str(sorted({k for k, _ in _FLOOR_ITEMS if [x for x, _ in _FLOOR_ITEMS].count(k) > 1}))
)
FLOORS = dict(_FLOOR_ITEMS)
CALIBRATION_FLOOR = 0.5  # q6_revenue at sf0.001 on the dev box
RATIO_LIMIT = 4.0


@pytest.fixture(scope="module")
def calibrated(spark):
    import __spark_entry__ as entry

    qs = entry.queries()
    # warm the JVM + the node-graph materialization outside any
    # timed region: the guard times QUERY plans, not the one-time
    # graph build
    from xml_to_sqlite3_spark.plans.node_graph import get_graph

    for df in get_graph(spark, SF_DIR):
        df.count()
    # same for the persistent MinHash store the dedup-family floors
    # assume (bench accounts its build as an explicit entry too)
    from xml_to_sqlite3_spark.operators.dedup import get_minhash_store

    for df in get_minhash_store(
        spark, f"{SF_DIR}/documents.parquet", n=3, k=64
    ):
        df.count()
    # and the IVF codebook semdedup attaches: otherwise its first call
    # trains it inside the timed region (3.9 s against a 1.6 s limit
    # on a 4-vCPU box)
    from xml_to_sqlite3_spark.operators.similarity import get_codebook

    get_codebook(spark, f"{SF_DIR}/embeddings.parquet", k=16, n_iter=5)
    t0 = time.perf_counter()
    qs["q6_revenue"](spark, SF_DIR).collect()
    calibration = max(time.perf_counter() - t0, 0.05)
    speed = max(calibration / CALIBRATION_FLOOR, 0.5)
    return qs, speed


@pytest.mark.parametrize("name", sorted(FLOORS))
def test_query_within_floor(name, calibrated, spark):
    qs, speed = calibrated
    limit = FLOORS[name] * RATIO_LIMIT * speed
    # best of two: a transient GC/contention spike mid-suite must not
    # red the guard — a real plan regression is slow BOTH times
    elapsed = None
    for _ in range(2):
        t0 = time.perf_counter()
        qs[name](spark, SF_DIR).collect()
        run = time.perf_counter() - t0
        elapsed = run if elapsed is None else min(elapsed, run)
        if elapsed <= limit:
            break
    assert elapsed <= limit, (
        f"{name} took {elapsed:.2f}s (best of 2) at sf0.001 — over "
        f"{limit:.2f}s (floor {FLOORS[name]}s x {RATIO_LIMIT} x "
        f"box-speed {speed:.2f}); the plan likely regressed (extra "
        "scan / lost pushdown / single-task serialization)"
    )
