"""Incremental store maintenance (plans/node_graph.append_documents).

The exactness claim — a delta-only detection + append equals a full
rebuild over the unioned input — is pinned here as MULTISET identity
per store table, and the guard set is exercised case by case. The
reference's model is build-once/query-many (main.rb drives one
database build); the append path is the 100 TB extension of that
model: a daily document batch must cost O(delta), not a full rebuild.
"""

from __future__ import annotations

import json
import os

import pytest

# builds two full stores plus the appended entry — excluded from the inner loop (-m "not heavy")
pytestmark = pytest.mark.heavy
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from xml_to_sqlite3_spark.cache_util import GRAPH
from xml_to_sqlite3_spark.plans import node_graph as ng


@pytest.fixture(scope="module")
def appended(spark, tmp_path_factory):
    """The appended store for (sf0.001 base + synthesized delta
    document), plus a full-rebuild reference over the unioned input
    built through the SAME table writer."""
    base = ng.get_graph(spark, SF_SMOKE)
    delta_nodes, delta_props = ng.synthesize_delta_document(spark, SF_SMOKE, tag="dx")
    store = ng.append_documents(
        spark,
        SF_SMOKE,
        delta_nodes,
        delta_props,
        delta_key="test-sf0.001-dx-v1",
    )
    # full-rebuild reference: the same derivation pipeline over the
    # unioned frames — what a from-scratch build of (base + delta)
    # input would publish
    ref_dir = str(tmp_path_factory.mktemp("full_union_store"))
    union_nodes = base[0].unionByName(delta_nodes)
    union_props = base[1].unionByName(delta_props)
    union_nodes.write.mode("overwrite").parquet(f"{ref_dir}/nodes")
    union_props.write.mode("overwrite").parquet(f"{ref_dir}/properties")
    ng._write_store_tables(
        spark,
        ref_dir,
        spark.read.parquet(f"{ref_dir}/nodes"),
        spark.read.parquet(f"{ref_dir}/properties"),
        mode="overwrite",
    )
    ng._write_rank_tables(spark, ref_dir)
    return store, ref_dir


_EXACT_TABLES = [s for s in ng._STORE_SUBDIRS if s != "pr_ranks"]


@pytest.mark.parametrize("table", _EXACT_TABLES)
def test_append_equals_full_rebuild_multiset(appended, spark, table):
    got = appended[0][table]
    want = spark.read.parquet(f"{appended[1]}/{table}")
    assert got.exceptAll(want).count() == 0, f"{table}: appended ⊃ full"
    assert want.exceptAll(got).count() == 0, f"{table}: full ⊃ appended"


def test_append_pr_ranks_match_full_rebuild(appended, spark):
    """pr_ranks re-derives over the merged sampled link graph — same
    edge set as the full rebuild, so ranks agree to float tolerance
    (aggregation order differs across file layouts)."""
    got = appended[0]["pr_ranks"].withColumnRenamed("rank", "got")
    want = (
        spark.read.parquet(f"{appended[1]}/pr_ranks")
        .withColumnRenamed("rank", "want")
    )
    joined = got.join(want, "node", "full")
    n_got, n_want = got.count(), want.count()
    assert joined.count() == n_got == n_want
    worst = joined.agg(
        F.max(F.abs(F.col("got") - F.col("want"))).alias("d")
    ).collect()[0]["d"]
    assert worst is not None and worst < 1e-9, f"max rank delta {worst}"


def test_append_pr_stats_sidecar(appended):
    with open(f"{appended[0]['path']}/pr_stats.json") as f:
        got = json.load(f)
    # the reference dir's sidecar was written by the same
    # _write_rank_tables over the union
    with open(f"{appended[1]}/pr_stats.json") as f:
        want = json.load(f)
    assert got == want


def test_append_cold_attaches(appended, spark):
    """The published appended entry attaches by key — a second call
    must not rebuild (the base store contract, preserved)."""
    marker = os.path.join(appended[0]["path"], "_COMPLETE")
    before = os.path.getmtime(marker)
    delta_nodes, delta_props = ng.synthesize_delta_document(spark, SF_SMOKE, tag="dx")
    again = ng.append_documents(
        spark, SF_SMOKE, delta_nodes, delta_props, delta_key="test-sf0.001-dx-v1"
    )
    assert again["path"] == appended[0]["path"]
    assert os.path.getmtime(marker) == before


def test_append_base_store_untouched(appended, spark):
    """Hard-link isolation: the base entry still matches a fresh read
    of its own tables after the append published."""
    base_dir = GRAPH.path(ng._graph_cache_key(SF_SMOKE))
    base_docs = [
        r["document_id"]
        for r in spark.read.parquet(f"{base_dir}/doc_ids").collect()
    ]
    assert base_docs == ["tpch"]
    appended_docs = {
        r["document_id"] for r in appended[0]["doc_ids"].collect()
    }
    assert appended_docs == {"tpch", "tpch_dx"}


def _mini_base(spark, tmp_path):
    """A fabricated 3-table base-store fragment for guard unit tests:
    doc_ids, nodes, dangling_parents."""
    d = str(tmp_path / "mini_base")
    spark.createDataFrame(
        [("docA",)], "document_id string"
    ).write.parquet(f"{d}/doc_ids")
    spark.createDataFrame(
        [("a1", "docA", None), ("a2", "docA", "a1"), ("a3", "docA", "ghost_parent")],
        "id string, document_id string, parent_id string",
    ).write.parquet(f"{d}/nodes")
    spark.createDataFrame(
        [("ghost_parent",)], "parent_id string"
    ).write.parquet(f"{d}/dangling_parents")
    return d


def _delta(spark, rows):
    return spark.createDataFrame(
        rows, "id string, document_id string, parent_id string"
    )


def test_guard_rejects_existing_document(spark, tmp_path):
    base = _mini_base(spark, tmp_path)
    with pytest.raises(ValueError, match="already exist"):
        ng._append_guards(spark, base, _delta(spark, [("b1", "docA", None)]))


def test_guard_rejects_id_collision(spark, tmp_path):
    base = _mini_base(spark, tmp_path)
    with pytest.raises(ValueError, match="collides"):
        ng._append_guards(spark, base, _delta(spark, [("a1", "docB", None)]))


def test_guard_rejects_parent_link_into_base(spark, tmp_path):
    base = _mini_base(spark, tmp_path)
    with pytest.raises(ValueError, match="not self-contained"):
        ng._append_guards(spark, base, _delta(spark, [("b1", "docB", "a1")]))


def test_guard_rejects_resolving_base_dangling_parent(spark, tmp_path):
    base = _mini_base(spark, tmp_path)
    with pytest.raises(ValueError, match="dangling parent"):
        ng._append_guards(
            spark, base, _delta(spark, [("ghost_parent", "docB", None)])
        )


def test_guard_accepts_self_contained_delta(spark, tmp_path):
    base = _mini_base(spark, tmp_path)
    ng._append_guards(
        spark,
        base,
        _delta(
            spark,
            [("b1", "docB", None), ("b2", "docB", "b1"), ("b3", "docB", "orphan_x")],
        ),
    )


def test_build_coreness_optout(spark):
    """VERDICT r13 task 6: build_coreness=False skips the k-core
    fixpoint (the dominant global build cost at scale) and its table;
    the flag separates BOTH the persistent content key (two live
    configurations, never stale siblings) and the session handle key,
    so the default store's coreness stays reachable in the same
    session."""
    ck_full = ng._graph_cache_key(SF_SMOKE)
    ck_nocore = ng._graph_cache_key(SF_SMOKE, build_coreness=False)
    assert ck_full != ck_nocore
    # extra participates in the key PREFIX (prune scoping): the two
    # entries must differ before the content hash too
    assert ck_full.rsplit("_", 1)[0] != ck_nocore.rsplit("_", 1)[0]

    nodes, props, xrefs = ng.get_graph(spark, SF_SMOKE, build_coreness=False)
    assert nodes.count() > 0 and xrefs.count() > 0
    final = GRAPH.path(ck_nocore)
    assert os.path.exists(os.path.join(final, "_COMPLETE"))
    assert not os.path.isdir(os.path.join(final, "coreness"))
    assert not os.path.exists(os.path.join(final, "kcore_stats.json"))
    # every other table is present and readable
    for sub in ng._STORE_SUBDIRS:
        if sub == "coreness":
            continue
        assert os.path.isdir(os.path.join(final, sub)), sub
    # the DEFAULT configuration still serves coreness in this session
    assert ng.graph_table(spark, SF_SMOKE, "coreness").count() > 0
    # appending onto the nocore base also skips the fixpoint and
    # publishes a coreness-less entry
    dn, dp = ng.synthesize_delta_document(spark, SF_SMOKE, tag="nc")
    store = ng.append_documents(
        spark, SF_SMOKE, dn, dp,
        delta_key="test-nocore-v1", build_coreness=False,
    )
    assert "coreness" not in store
    assert not os.path.isdir(os.path.join(store["path"], "coreness"))
    assert store["nodes"].count() == nodes.count() + dn.count()
