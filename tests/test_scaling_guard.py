"""Scaling tripwire (r10 VERDICT task 7): the bench guard pins
ABSOLUTE floors at sf0.001, but nothing pinned SCALING — r10's k=30
sweep found a query (broken_references) that was fine at small sf and
O(full multiset) at scale, a class of regression absolute floors
cannot see. This guard runs the heavy queries at BOTH shipped
testdata scales (sf0.001 → sf0.01, 10x data) in one session and
bounds the wall-time RATIO: a plan that loses its pushdown / store
table / bucketing typically picks up an O(data) or worse term, which
moves the ratio far more than it moves a single small-sf time.

Noise handling mirrors test_bench_guard: best-of-2 per (query, sf),
measured back to back in one session so box-speed cancels out of the
ratio entirely; the denominator is floored (a 0.05s small-sf run must
not make a healthy 0.4s large-sf run look 8x); and the bounds carry
~3x headroom over ratios measured on the healthy r11 plans (dev box,
best-of-2 each side: graph_distances 0.92, graph_triangles 1.34,
sessionization 1.12, link_prediction 1.61, broken_references 0.91,
graph_pagerank 0.18, and for the r11 metrics graph_clustering 1.29,
graph_assortativity 1.57 — store-fed reads and one-shuffle windows are
overhead-dominated at these scales, so a healthy ratio sits near 1;
a lost store table or full-multiset rescan multiplies the sf0.01
side by the 10x data growth and trips the bound).

r16: each test additionally runs bench.py's release hygiene
(clearCache + a GC nudge) BEFORE its measurements. The r15 driver run
failed link_prediction at ratio 11.2 with sf0.01 taking 3.92s — more
than the same query's sf0.1 bench row (3.33s) in the same driver run,
which is not physically consistent with an O(data) term; the module
re-ran green solo (19s) and as a module (59s, all 17) on a quiet box.
Root cause: in the FULL suite this module's measurements inherit the
shared session's accumulated storage blocks/heap from hundreds of
prior tests (the exact degradation session.release_query_state
documents: dedup-family blocks slowed a later graph query 2.5x, and
r15 measured link_prediction 3s -> 23-59s after heavy gates in one
session). The hygiene restores each test to a clean-session baseline
without touching any query plan.
"""

from __future__ import annotations

import time

import pytest

from xml_to_sqlite3_spark.cache_util import GRAPH
from xml_to_sqlite3_spark.session import release_query_state

# scale-ratio sweeps run 8 heavy queries at two SFs — excluded from the inner loop (-m "not heavy")
pytestmark = pytest.mark.heavy

SF_SMALL = "/root/testdata/sf0.001"
SF_BIG = "/root/testdata/sf0.01"

# floor for the small-sf denominator: below this, the measurement is
# pure session overhead and the ratio is noise
_DENOM_FLOOR = 0.35

# (query, max allowed time(sf0.01)/time(sf0.001)) — see module doc
RATIO_BOUNDS = [
    ("graph_distances", 5.0),
    ("graph_triangles", 5.0),
    ("sessionization", 6.0),
    ("link_prediction", 6.0),
    ("broken_references", 5.0),
    ("graph_pagerank", 5.0),
    # r11 additions, calibrated the same way (healthy best-of-2
    # ratios 1.29 / 1.57 on the dev box)
    ("graph_clustering", 5.0),
    ("graph_assortativity", 5.0),
    # r12 additions. fuzzy_match guards the exact regression class
    # this round fixed: the distance work must stay bounded by the
    # NAME VOCABULARY (64 names at both SFs), so the healthy ratio is
    # ~1 and a record-level pair join (the 52.9s-at-sf0.1 first cut)
    # blows straight through the bound.
    ("fuzzy_match", 5.0),
    ("pq_search", 6.0),
    # r13: the composed IVF-ADC path — same 6.0 bound as its PQ half
    # (codebook/index builds are linear one-time costs; the probed
    # query itself is sublinear in corpus via partition pruning)
    ("ann_ivf_pq", 6.0),
    ("events_psi_drift", 6.0),
    ("zipf_slope", 5.0),
    # r14: the remaining window-head gates. ks_drift collapses to
    # distinct values before any window (healthy ratio ~1);
    # covariance/pca are LINEAR in sampled vectors by design (d² per
    # vector), but at these scales (200 vs 2k vectors) the cost is
    # overhead-dominated and the floored denominator keeps the bound
    # meaningful — a lost sample filter or a corpus-sized window
    # would multiply the big side well past it.
    ("events_ks_drift", 6.0),
    ("embedding_covariance", 6.0),
    ("pca_projection", 6.0),
]
assert len({k for k, _ in RATIO_BOUNDS}) == len(RATIO_BOUNDS)


@pytest.fixture(scope="module")
def warmed(spark):
    """Warm the JVM and BOTH scale points' graph stores outside any
    timed region — the tripwire times query plans, not builds."""
    import __spark_entry__ as entry

    from xml_to_sqlite3_spark.plans.node_graph import get_graph

    qs = entry.queries()
    for sf in (SF_SMALL, SF_BIG):
        for df in get_graph(spark, sf):
            df.count()
    return qs


def _best_of_2(fn) -> float:
    best = None
    for _ in range(2):
        t0 = time.perf_counter()
        fn()
        run = time.perf_counter() - t0
        best = run if best is None else min(best, run)
    return best


@pytest.mark.parametrize("name,bound", RATIO_BOUNDS)
def test_scaling_ratio(name, bound, warmed, spark):
    qs = warmed
    # bench-style hygiene before each ratio measurement: a full-suite
    # shared session must measure the same clean-session baseline the
    # bench (and a solo run) does — see the module docstring's r16 note
    release_query_state(spark)
    t_small = _best_of_2(lambda: qs[name](spark, SF_SMALL).collect())
    t_big = _best_of_2(lambda: qs[name](spark, SF_BIG).collect())
    ratio = t_big / max(t_small, _DENOM_FLOOR)
    assert ratio <= bound, (
        f"{name}: sf0.01 took {t_big:.2f}s vs sf0.001 {t_small:.2f}s — "
        f"ratio {ratio:.1f} over the {bound} bound for 10x data; the "
        "plan likely picked up an O(data) term (lost store table / "
        "pushdown / bucket join)"
    )


def test_kcore_rounds_tripwire(warmed, spark):
    """k-core convergence tripwire (r12 VERDICT task 7): the store
    build runs kcore_decomposition's H-index fixpoint, whose ROUND
    count is graph-dependent — it propagates one hop per round, so a
    corpus drifting toward long near-degenerate chains degrades
    toward the operator's hard 100-round budget (which raises mid-
    build). The build persists the round count in kcore_stats.json
    precisely so CI can watch it; this guard reads the sidecar at
    both shipped scales and bounds (a) the absolute count per scale
    and (b) the growth across the 10x decade.

    Calibration (healthy builds, this graph family): 11 rounds at
    sf0.001, 17 at sf0.01, 21 at sf0.1, sf1 AND sf3 (r13 measured the
    third decade: flat at 21) — growth per decade is shrinking, consistent with local stabilization (chain
    nodes also carry attribute-reference edges). Bounds carry ~2.5x
    headroom: absolute 30/45, decade ratio 3.0 (measured 1.55). A
    corpus whose convergence turns O(chain length) multiplies rounds
    with data and trips here, in a 22s sf0.01 build — not in a 100x
    production build."""
    import json
    import os

    from xml_to_sqlite3_spark.plans import node_graph as ng

    rounds = {}
    for sf, bound in ((SF_SMALL, 30), (SF_BIG, 45)):
        store = os.path.join(GRAPH.root(), ng._graph_cache_key(sf))
        sidecar = os.path.join(store, "kcore_stats.json")
        assert os.path.exists(sidecar), (
            f"{sf}: store published without kcore_stats.json — the build "
            "no longer persists the convergence sidecar this guard watches"
        )
        with open(sidecar) as f:
            rounds[sf] = json.load(f)["rounds"]
        assert rounds[sf] is not None and rounds[sf] <= bound, (
            f"{sf}: k-core fixpoint took {rounds[sf]} rounds (bound "
            f"{bound}, healthy ~{11 if sf == SF_SMALL else 17}); the graph "
            "family's convergence is degrading toward the 100-round hard "
            "budget — inspect chain structure before scaling the corpus"
        )
    ratio = rounds[SF_BIG] / max(rounds[SF_SMALL], 1)
    assert ratio <= 3.0, (
        f"k-core rounds grew {ratio:.2f}x across the 10x decade "
        f"({rounds[SF_SMALL]} -> {rounds[SF_BIG]}; healthy 1.55x) — "
        "convergence is scaling with data, which forecasts a blown "
        "round budget at production scale"
    )
