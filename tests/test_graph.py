"""BFS graph traversal tests (hand-computed expectations)."""

from __future__ import annotations

import pytest

from xml_to_sqlite3_spark.cache_util import GRAPH
from xml_to_sqlite3_spark.operators.graph import (
    bfs_distances,
    connected_components,
    duplicate_groups,
    orient_edges,
    out_degree_spine,
    pagerank,
)


def _edges(spark, pairs):
    return spark.createDataFrame(
        pairs, "source_node_id string, target_node_id string"
    )


def test_bfs_linear_chain(spark):
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")])
    out = {r["node"]: r["distance"] for r in bfs_distances(e, "a", max_depth=3).collect()}
    assert out == {"a": 0, "b": 1, "c": 2, "d": 3}  # e beyond depth


def test_bfs_min_distance_on_diamond(spark):
    # a->b->d and a->c->d plus a direct a->d shortcut: d must be 1
    e = _edges(spark, [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("a", "d")])
    out = {r["node"]: r["distance"] for r in bfs_distances(e, "a", max_depth=3).collect()}
    assert out == {"a": 0, "b": 1, "c": 1, "d": 1}


def test_bfs_cycle_terminates(spark):
    e = _edges(spark, [("a", "b"), ("b", "a"), ("b", "c")])
    out = {r["node"]: r["distance"] for r in bfs_distances(e, "a", max_depth=10).collect()}
    assert out == {"a": 0, "b": 1, "c": 2}


def test_bfs_unreachable_excluded(spark):
    e = _edges(spark, [("a", "b"), ("x", "y")])
    out = {r["node"] for r in bfs_distances(e, "a", max_depth=5).collect()}
    assert out == {"a", "b"}


def _pairs(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def test_components_two_islands(spark):
    e = _pairs(spark, [(1, 2), (2, 3), (7, 8)])
    out = {r["node"]: r["component"] for r in connected_components(e).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}


def test_components_long_chain_converges(spark):
    # a 12-node chain forces many propagation rounds (diameter 11)
    e = _pairs(spark, [(i, i + 1) for i in range(1, 12)])
    out = {r["node"]: r["component"] for r in connected_components(e).collect()}
    assert set(out.values()) == {1} and len(out) == 12


def test_components_cycle_and_cross_edges(spark):
    e = _pairs(spark, [(4, 5), (5, 6), (6, 4), (6, 2), (9, 2)])
    out = {r["node"]: r["component"] for r in connected_components(e).collect()}
    assert set(out.values()) == {2} and len(out) == 5


def test_duplicate_groups_transitive_keeper(spark):
    # A~B, B~C but no A~C pair: B and C must both lose to A
    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long")
    rows = {r["doc_id"]: r.asDict() for r in duplicate_groups(pairs).collect()}
    assert rows[1]["is_keeper"] and not rows[2]["is_keeper"] and not rows[3]["is_keeper"]
    assert rows[2]["component"] == 1 and rows[3]["component"] == 1
    assert rows[10]["is_keeper"] and rows[11]["component"] == 10


def test_graph_cache_content_key_and_pruning(spark, tmp_path, monkeypatch):
    """The persistent node-graph cache is keyed on (input files, build
    code): same inputs reuse the entry across fresh sessions; touched
    inputs produce a new key and the stale sibling is pruned after the
    rebuild."""
    import os
    import shutil

    from xml_to_sqlite3_spark.plans import node_graph as NG

    # private sf_dir copy (we must not write to /root/testdata) and
    # private cache root so this test cannot disturb the shared cache
    sf_dir = str(tmp_path / "sf")
    shutil.copytree("/root/testdata/sf0.001", sf_dir)
    monkeypatch.setenv("SPARK_GRAFT_GRAPH_CACHE", str(tmp_path / "cache"))

    key1 = NG._graph_cache_key(sf_dir)
    n1, p1, x1 = NG.get_graph(spark, sf_dir)
    count1 = x1.count()
    root = GRAPH.root()
    assert os.path.exists(os.path.join(root, key1, "_COMPLETE"))

    # fresh-session reuse: same key, no rebuild (dir untouched)
    GRAPH.memo.clear()
    mtime_before = os.path.getmtime(os.path.join(root, key1, "_COMPLETE"))
    _, _, x1b = NG.get_graph(spark, sf_dir)
    assert x1b.count() == count1
    assert os.path.getmtime(os.path.join(root, key1, "_COMPLETE")) == mtime_before

    # touching an input changes the key; rebuilding prunes a COLD
    # stale entry (an hour untouched) but spares a fresh one — a
    # concurrent session from moments ago may still be reading it
    victim = os.path.join(sf_dir, "region.parquet")
    os.utime(victim, (os.path.getatime(victim), os.path.getmtime(victim) + 10))
    key2 = NG._graph_cache_key(sf_dir)
    assert key2 != key1
    # age the key1 entry past the grace window
    old = os.path.getmtime(os.path.join(root, key1)) - 7200
    os.utime(os.path.join(root, key1), (old, old))
    GRAPH.memo.clear()
    _, _, x2 = NG.get_graph(spark, sf_dir)
    assert x2.count() == count1  # same data, same result
    assert os.path.exists(os.path.join(root, key2, "_COMPLETE"))
    assert not os.path.exists(os.path.join(root, key1))  # cold entry pruned

    # a WARM stale sibling survives the next rebuild (live-reader grace)
    victim2 = os.path.join(sf_dir, "nation.parquet")
    os.utime(victim2, (os.path.getatime(victim2), os.path.getmtime(victim2) + 10))
    key3 = NG._graph_cache_key(sf_dir)
    assert key3 not in (key1, key2)
    GRAPH.memo.clear()
    _, _, x3 = NG.get_graph(spark, sf_dir)
    assert x3.count() == count1
    assert os.path.exists(os.path.join(root, key2))  # fresh -> spared

    GRAPH.memo.clear()


def _naive_pagerank(edges, damping=0.85, n_iter=10):
    """Single-process power iteration, same dangling handling."""
    nodes = sorted({x for e in edges for x in e})
    n = len(nodes)
    out = {}
    for s, d in set(edges):
        out.setdefault(s, set()).add(d)
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(n_iter):
        dm = sum(rank[v] for v in nodes if v not in out)
        nxt = {v: (1 - damping) / n + damping * dm / n for v in nodes}
        for s, ds in out.items():
            for d in ds:
                nxt[d] += damping * rank[s] / len(ds)
        rank = nxt
    return rank


def _pagerank(spark, edges, **kw):
    """pagerank over a distinct edge list, fed like the node-graph
    store feeds it: (src, dst) edges plus their out-degree spine."""
    e = spark.createDataFrame(edges, "src string, dst string")
    return {r["node"]: r["rank"] for r in pagerank(e, out_degree_spine(e), **kw).collect()}


def test_pagerank_cycle_and_star(spark):
    # 2-cycle: symmetric -> equal ranks of 0.5
    got = _pagerank(spark, [("a", "b"), ("b", "a")])
    assert abs(got["a"] - 0.5) < 1e-8 and abs(got["b"] - 0.5) < 1e-8

    # star: leaves -> center; center is dangling (mass redistributes)
    got = _pagerank(spark, [(f"l{i}", "c") for i in range(4)])
    exp = _naive_pagerank([(f"l{i}", "c") for i in range(4)])
    for v, r in exp.items():
        assert abs(got[v] - r) < 1e-7, (v, got[v], r)
    assert got["c"] > got["l0"]
    assert abs(sum(got.values()) - 1.0) < 1e-6


def test_pagerank_matches_naive_on_random_graph(spark):
    import random

    rng = random.Random(11)
    nodes = [f"n{i}" for i in range(30)]
    edges = list({(rng.choice(nodes), rng.choice(nodes)) for _ in range(120)})
    edges = [(s, d) for s, d in edges if s != d]
    got = _pagerank(spark, edges, n_iter=12)
    exp = _naive_pagerank(edges, n_iter=12)
    assert set(got) == set(exp)
    for v in exp:
        assert abs(got[v] - exp[v]) < 1e-7, (v, got[v], exp[v])


def test_triangle_count_known_graphs(spark):
    from xml_to_sqlite3_spark.operators.graph import triangle_count

    def run(edges):
        df = spark.createDataFrame(edges, ["source_node_id", "target_node_id"])
        r = triangle_count(orient_edges(df)).collect()[0]
        return r["n_edges"], r["n_triangles"]

    # K4: 6 edges, 4 triangles
    k4 = [(a, b) for a in "1234" for b in "1234" if a < b]
    assert run(k4) == (6, 4)
    # 5-cycle: 5 edges, 0 triangles
    c5 = [("1", "2"), ("2", "3"), ("3", "4"), ("4", "5"), ("5", "1")]
    assert run(c5) == (5, 0)
    # duplicate + reversed + self-loop edges collapse to the simple graph
    messy = k4 + [(b, a) for a, b in k4] + [("1", "1"), ("2", "2")]
    assert run(messy) == (6, 4)


def test_triangle_count_matches_bruteforce_random(spark):
    import itertools
    import random

    from xml_to_sqlite3_spark.operators.graph import triangle_count

    rng = random.Random(11)
    nodes = [f"n{i}" for i in range(40)]
    edges = [(a, b) for a, b in itertools.combinations(nodes, 2) if rng.random() < 0.15]
    adj = {n: set() for n in nodes}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    want = sum(
        1
        for a, b, c in itertools.combinations(nodes, 3)
        if b in adj[a] and c in adj[a] and c in adj[b]
    )
    df = spark.createDataFrame(edges, ["source_node_id", "target_node_id"])
    r = triangle_count(orient_edges(df)).collect()[0]
    assert (r["n_edges"], r["n_triangles"]) == (len(edges), want)


def test_scoped_confs_restored(spark, tmp_path):
    """pagerank / triangle_count / the hierarchy walk / BPE training /
    the streaming runner and reader all scope session confs (shuffle
    partitions, AQE, broadcast threshold, limit scan width, no-data
    batches, parquet nanos) — a leak would silently re-plan every
    later query in the session."""
    keys = [
        "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.enabled",
        "spark.sql.join.preferSortMergeJoin",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.limit.initialNumPartitions",
        "spark.sql.streaming.noDataMicroBatches.enabled",
        "spark.sql.legacy.parquet.nanosAsLong",
    ]

    def snap():
        out = {}
        for k in keys:
            try:
                out[k] = spark.conf.get(k)
            except Exception:
                out[k] = None
        return out

    pairs = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")]
    edges = spark.createDataFrame(pairs, "source_node_id string, target_node_id string")
    before = snap()
    from xml_to_sqlite3_spark.operators.graph import triangle_count

    _pagerank(spark, pairs, n_iter=2)
    assert snap() == before
    triangle_count(orient_edges(edges)).count()
    assert snap() == before

    from xml_to_sqlite3_spark.operators import hierarchy, text

    xrefs = spark.createDataFrame(
        [(p, c, "parent_child") for p, c in (("r", "a"), ("a", "b"), ("b", "c"))],
        "source_node_id string, target_node_id string, reference_type string",
    )
    assert hierarchy.ancestors(spark, xrefs, "c").count() == 3
    assert snap() == before
    text.train_bpe(
        spark.createDataFrame([("low lower lowest",), ("low low",)], "text string"),
        n_merges=2,
    ).count()
    assert snap() == before

    # the streaming reader on the legacy int64-nanos events encoding
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from xml_to_sqlite3_spark.plans import streaming_q

    hours = [dt.datetime(2024, 1, 1, h, 5) for h in (0, 0, 1, 2)]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(4), pa.int64()),
                "ts": pa.array(hours, pa.timestamp("ns")),
                "user_id": pa.array([1, 2, 1, 2], pa.int64()),
                "event_type": ["click"] * 4,
                "value": [1.0, 2.0, 3.0, 4.0],
                "props": ["{}"] * 4,
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    win = streaming_q.streaming_windowed(spark, str(tmp_path)).collect()
    assert [r["n_events"] for r in win] == [2, 1, 1]
    assert snap() == before


class TestAssortativityAndClustering:
    @pytest.fixture(scope="class")
    def mixed(self, spark):
        # star (hub 0, leaves 1-3) + triangle (10,11,12) +
        # square-with-chord (20-21-22-23, diagonal 20-22)
        edges = [
            (0, 1), (0, 2), (0, 3),
            (10, 11), (10, 12), (11, 12),
            (20, 21), (21, 22), (22, 23), (23, 20), (20, 22),
        ]
        return spark.createDataFrame(
            edges, "source_node_id long, target_node_id long"
        )

    def test_assortativity_matches_numpy(self, mixed):
        import numpy as np
        from xml_to_sqlite3_spark.operators.graph import degree_assortativity

        row = degree_assortativity(orient_edges(mixed)).collect()[0]
        assert row["n_edges"] == 11
        assert row["n_endpoints"] == 22
        edges = [tuple(r) for r in mixed.collect()]
        deg = {}
        for a, b in edges:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        du = [deg[a] for a, b in edges] + [deg[b] for a, b in edges]
        dv = [deg[b] for a, b in edges] + [deg[a] for a, b in edges]
        expect = np.corrcoef(du, dv)[0, 1]
        assert row["assortativity"] == pytest.approx(round(expect, 6), abs=2e-6)

    def test_local_clustering_hand_values(self, mixed):
        from xml_to_sqlite3_spark.operators.graph import local_clustering

        out = {r["node_id"]: r for r in local_clustering(orient_edges(mixed)).collect()}
        # star: hub and leaves close no triangles
        assert out[0]["coeff"] == 0.0 and out[0]["triangles"] == 0
        assert out[1]["degree"] == 1 and out[1]["coeff"] == 0.0
        # triangle: every corner fully clustered
        for v in (10, 11, 12):
            assert out[v]["degree"] == 2
            assert out[v]["triangles"] == 1
            assert out[v]["coeff"] == 1.0
        # square with chord: diagonal endpoints sit in 2 of 3 possible
        # wedges, the others in their single possible one
        assert out[20]["degree"] == 3 and out[20]["triangles"] == 2
        assert out[20]["coeff"] == pytest.approx(round(2 / 3, 6))
        assert out[21]["triangles"] == 1 and out[21]["coeff"] == 1.0
        assert out[23]["triangles"] == 1 and out[23]["coeff"] == 1.0

    def test_duplicate_and_self_edges_ignored(self, spark):
        from xml_to_sqlite3_spark.operators.graph import (
            degree_assortativity,
            local_clustering,
        )

        df = spark.createDataFrame(
            [(1, 2), (2, 1), (1, 2), (1, 1), (2, 3), (3, 1)],
            "source_node_id long, target_node_id long",
        )
        row = degree_assortativity(orient_edges(df)).collect()[0]
        assert row["n_edges"] == 3  # the simple triangle 1-2-3
        # regular graph (all degrees 2): r undefined -> NULL, not error
        assert row["assortativity"] is None
        out = {r["node_id"]: r for r in local_clustering(orient_edges(df)).collect()}
        assert all(out[v]["coeff"] == 1.0 for v in (1, 2, 3))


class TestKCore:
    @staticmethod
    def _peel(edges):
        """Pure-python peeling reference: coreness via repeated
        min-degree removal."""
        from collections import defaultdict

        adj = defaultdict(set)
        for a, b in edges:
            if a != b:
                adj[a].add(b)
                adj[b].add(a)
        core = {}
        deg = {v: len(ns) for v, ns in adj.items()}
        k = 0
        while deg:
            v = min(deg, key=lambda x: (deg[x], x))
            k = max(k, deg[v])
            core[v] = k
            for u in adj[v]:
                if u in deg and u != v:
                    deg[u] -= 1
            del deg[v]
            for u in adj[v]:
                adj[u].discard(v)
        return core

    def _spark_core(self, spark, edges):
        from xml_to_sqlite3_spark.operators.graph import kcore_decomposition

        df = spark.createDataFrame(
            edges, "source_node_id long, target_node_id long"
        )
        return {
            r["node_id"]: r["coreness"]
            for r in kcore_decomposition(orient_edges(df)).collect()
        }

    def test_hand_graph(self, spark):
        # triangle (core 2) + tail path (core 1) + K4 clique (core 3)
        edges = [
            (1, 2), (2, 3), (3, 1),      # triangle
            (3, 4), (4, 5),              # tail
            (10, 11), (10, 12), (10, 13), (11, 12), (11, 13), (12, 13),
        ]
        got = self._spark_core(spark, edges)
        assert got[1] == got[2] == got[3] == 2
        assert got[4] == got[5] == 1
        assert all(got[v] == 3 for v in (10, 11, 12, 13))

    def test_matches_peeling_on_pseudorandom_graph(self, spark):
        import hashlib

        # deterministic pseudo-random graph: 60 nodes, ~150 edges
        edges = []
        for i in range(300):
            h = hashlib.md5(f"e{i}".encode()).hexdigest()
            a, b = int(h[:6], 16) % 60, int(h[6:12], 16) % 60
            if a != b:
                edges.append((a, b))
        edges = edges[:150]
        got = self._spark_core(spark, edges)
        want = self._peel(edges)
        assert got == want

    def test_duplicate_and_self_edges(self, spark):
        edges = [(1, 2), (2, 1), (1, 1), (2, 3), (3, 1), (1, 2)]
        got = self._spark_core(spark, edges)
        assert got == {1: 2, 2: 2, 3: 2}


def test_kcore_store_table_equals_live_fixpoint(spark):
    """The store's materialized coreness table == the live H-index
    fixpoint over the same tri_oriented edge set (and stats reports
    the round count) — the graph_kcore gate reads this table."""
    from tests.conftest import SF_SMOKE
    from xml_to_sqlite3_spark.operators.graph import kcore_decomposition
    from xml_to_sqlite3_spark.plans.node_graph import graph_table

    stored = {
        r["node_id"]: r["coreness"]
        for r in graph_table(spark, SF_SMOKE, "coreness").collect()
    }
    stats: dict = {}
    live = {
        r["node_id"]: r["coreness"]
        for r in kcore_decomposition(
            graph_table(spark, SF_SMOKE, "tri_oriented"), stats=stats
        ).collect()
    }
    assert stored == live and len(stored) > 0
    assert stats["rounds"] >= 1


def test_kcore_raises_on_nonconvergence(spark):
    from xml_to_sqlite3_spark.operators.graph import kcore_decomposition

    # a 41-node path needs ~20 rounds; max_iter=3 must fail LOUDLY
    # instead of returning interior coreness 2 (review finding: the
    # pre-fix loop exited silently with wrong intermediate labels)
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(40)],
        "source_node_id long, target_node_id long",
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        kcore_decomposition(orient_edges(path), max_iter=3)
    # and with budget it converges to all-1 (a path has no 2-core)
    got = {
        r["node_id"]: r["coreness"]
        for r in kcore_decomposition(orient_edges(path), max_iter=50).collect()
    }
    assert set(got.values()) == {1}
