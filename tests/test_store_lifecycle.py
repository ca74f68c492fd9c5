"""cache_util.Store — the one implementation of the content-keyed
store lifecycle — and the guard that keeps it the only one."""

from __future__ import annotations

import pathlib


def test_store_lifecycle_only_in_cache_util():
    """Every store publishes through cache_util.Store: a direct
    content_cached_dir call or a cache-root env var read elsewhere in
    the package is a second lifecycle that Store.clear() and the memo
    do not cover."""
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
