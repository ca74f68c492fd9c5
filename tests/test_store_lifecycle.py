"""cache_util.Store — the one implementation of the content-keyed
store lifecycle — and the guard that keeps it the only one."""

from __future__ import annotations

import os
import pathlib

import pytest

from tests.conftest import SF_SMOKE
from xml_to_sqlite3_spark.cache_util import CODEBOOK, DEDUP, GRAPH, INDEX
from xml_to_sqlite3_spark.operators import dedup, search, similarity
from xml_to_sqlite3_spark.plans import node_graph

_DOCS = f"{SF_SMOKE}/documents.parquet"

# every chained append entry point, called onto a chain that was never
# published; the guard fires before the delta (None here) is read
_APPENDS = {
    "graph": (
        GRAPH,
        lambda spark: node_graph.append_documents(
            spark, SF_SMOKE, None, None, delta_key="d", base_append="never"
        ),
    ),
    "dedup": (
        DEDUP,
        lambda spark: dedup.append_dedup_documents(
            spark, _DOCS, None, delta_key="d", base_append="never"
        ),
    ),
    "components": (
        DEDUP,
        lambda spark: dedup.append_components(
            spark, _DOCS, None, delta_key="d", base_append="never"
        ),
    ),
    "text_index": (
        INDEX,
        lambda spark: search.append_text_index(
            spark, _DOCS, None, delta_key="d", base_append="never"
        ),
    ),
    "ivf_pq": (
        CODEBOOK,
        lambda spark: similarity.append_ivf_pq_index(
            spark, f"{SF_SMOKE}/embeddings.parquet", None, delta_key="d",
            base_append="never",
        ),
    ),
}


@pytest.mark.parametrize("name", sorted(_APPENDS))
def test_append_onto_unpublished_chain_fails_loud(spark, tmp_path, monkeypatch, name):
    store, append = _APPENDS[name]
    root = tmp_path / "root"
    monkeypatch.setenv(store.env, str(root))
    with pytest.raises(ValueError, match="not published") as err:
        append(spark)
    assert "'never'" in str(err.value)
    assert not root.exists() or os.listdir(root) == []


def test_store_lifecycle_only_in_cache_util():
    """Every store publishes through cache_util.Store: a direct
    content_cached_dir call or a cache-root env var read elsewhere in
    the package is a second lifecycle that Store.clear(), the memo and
    the fail-loud attach check do not cover."""
    pkg = pathlib.Path(__file__).resolve().parents[1] / "xml_to_sqlite3_spark"
    needles = [
        "content_cached_dir(",
        "SPARK_GRAFT_GRAPH_CACHE",
        "SPARK_GRAFT_MINHASH_CACHE",
        "SPARK_GRAFT_INDEX_CACHE",
        "SPARK_GRAFT_CODEBOOK_CACHE",
    ]
    offenders = [
        f"{path.relative_to(pkg)}: {needle}"
        for path in sorted(pkg.rglob("*.py"))
        if path.name != "cache_util.py"
        for needle in needles
        if needle in path.read_text()
    ]
    assert offenders == []
