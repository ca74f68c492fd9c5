"""Full-text search (BM25) and auto-generated view tests."""

from __future__ import annotations

import os

import pytest

from xml_to_sqlite3_spark.cache_util import INDEX
from xml_to_sqlite3_spark.operators.search import bm25_search, build_text_index
from xml_to_sqlite3_spark.plans.views import (
    create_node_type_views,
    create_sqlite_node_type_views,
)
from xml_to_sqlite3_spark.sources import read_xml_corpus
from xml_to_sqlite3_spark.sinks import write_corpus_sqlite

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "spark engine shuffles data across the cluster"),
            (2, "the query engine optimizes every query plan"),
            (3, "data data data everywhere in the lake"),
            (4, "an unrelated sentence about gardening and tulips"),
        ],
        "doc_id long, text string",
    )


def test_index_shape(docs):
    idx = build_text_index(docs)
    rows = {(r["token"], r["doc_id"]): (r["tf"], r["doc_len"]) for r in idx.collect()}
    assert rows[("data", 3)] == (3, 7)  # tf counts repeats, doc_len counts tokens
    assert rows[("query", 2)][0] == 2


def test_bm25_ranking(docs):
    idx = build_text_index(docs)
    out = bm25_search(idx, "data query", k=4).collect()
    ids = [r["doc_id"] for r in out]
    # docs without any query term never appear
    assert 4 not in ids
    # the heavy-tf docs outrank the single-mention doc
    assert set(ids[:2]) == {2, 3}
    assert ids[2] == 1
    assert [r["rank"] for r in out] == list(range(1, len(out) + 1))
    assert all(r["bm25"] > 0 for r in out)


def test_bm25_single_term(docs):
    idx = build_text_index(docs)
    out = bm25_search(idx, "gardening", k=4).collect()
    assert [r["doc_id"] for r in out] == [4]


def test_spark_node_type_views(spark):
    corpus = read_xml_corpus(spark, FIXTURES)
    names = create_node_type_views(spark, corpus.nodes)
    assert "nodes_album" in names and "nodes_item" in names
    assert spark.sql("SELECT count(*) c FROM nodes_album").collect()[0]["c"] == 2
    assert spark.sql("SELECT count(*) c FROM nodes_item").collect()[0]["c"] == 2


def test_sqlite_node_type_views(spark, tmp_path):
    corpus = read_xml_corpus(spark, FIXTURES)
    db = str(tmp_path / "v.sqlite3")
    write_corpus_sqlite(corpus, db)
    names = create_sqlite_node_type_views(db)
    assert "nodes_album" in names
    import sqlite3

    con = sqlite3.connect(db)
    assert con.execute("SELECT count(*) FROM nodes_album").fetchone()[0] == 2
    assert con.execute("SELECT count(*) FROM nodes_rating").fetchone()[0] == 3
    con.close()


def test_text_index_cache_lifecycle(spark, tmp_path):
    """The persistent index cache: builds once, attaches on repeat
    calls, distinguishes build columns in its key, and
    INDEX.clear() removes what THIS session built (forcing a
    rebuild on the next call)."""
    import os

    from pyspark.sql import Row

    from xml_to_sqlite3_spark.operators import search as S

    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [Row(doc_id=i, text=f"alpha beta doc {i}", alt=f"gamma {i}") for i in range(20)]
    ).write.parquet(src)

    os.environ["SPARK_GRAFT_INDEX_CACHE"] = str(tmp_path / "icache")
    try:
        idx1, n1, avg1 = S.get_text_index(spark, src)
        c1 = idx1.count()
        assert n1 == 20 and c1 > 0
        # repeat call: in-session memo returns the same handle
        idx2, n2, _ = S.get_text_index(spark, src)
        assert n2 == 20 and idx2 is idx1
        # different text column -> different key -> different index
        idx3, n3, _ = S.get_text_index(spark, src, text_col="alt")
        assert n3 == 20 and idx3 is not idx1
        assert idx3.filter(idx3.token == "gamma").count() == 20
        assert idx1.filter(idx1.token == "gamma").count() == 0

        entries = [d for d in os.listdir(str(tmp_path / "icache")) if d.startswith("i_")]
        assert len(entries) == 2, entries

        INDEX.clear()
        assert not os.path.exists(str(tmp_path / "icache")) or not [
            d for d in os.listdir(str(tmp_path / "icache")) if d.startswith("i_")
        ]
        # next call rebuilds from scratch (idx1's files are gone —
        # compare against the count captured before the clear)
        idx4, n4, _ = S.get_text_index(spark, src)
        assert n4 == 20 and idx4.count() == c1
    finally:
        os.environ.pop("SPARK_GRAFT_INDEX_CACHE", None)
        INDEX.clear()


class TestRRFFusion:
    def _ranked(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, rank int")

    def test_agreement_beats_single_list_top(self, spark):
        from xml_to_sqlite3_spark.operators.search import rrf_fuse

        # doc 7 is rank 2 in BOTH lists; docs 1/2 top one list each.
        # 2/(60+2) = 0.032258 > 1/61 + 0 = 0.016393 -> agreement wins.
        lex = self._ranked(spark, [(1, 1), (7, 2), (3, 3)])
        dense = self._ranked(spark, [(2, 1), (7, 2), (4, 3)])
        out = rrf_fuse([lex, dense], k=4).collect()
        assert out[0]["doc_id"] == 7
        assert out[0]["n_lists"] == 2
        assert out[0]["rrf"] == pytest.approx(round(2 / 62, 6))
        # ties between the two single-list rank-1 docs break on doc_id
        assert [r["doc_id"] for r in out[1:3]] == [1, 2]

    def test_k_truncates_and_rank_is_dense(self, spark):
        from xml_to_sqlite3_spark.operators.search import rrf_fuse

        lex = self._ranked(spark, [(i, i) for i in range(1, 8)])
        out = rrf_fuse([lex], k=3).collect()
        assert [r["rank"] for r in out] == [1, 2, 3]
        assert [r["doc_id"] for r in out] == [1, 2, 3]


class TestIndexAppend:
    """O(delta) append for the BM25 index — the fourth persistent
    artifact's append path; appended == full rebuild pinned as index
    multiset identity + bit-exact merged stats + identical BM25."""

    @pytest.fixture(scope="class")
    def appended(self, spark, tmp_path_factory):
        import os

        from xml_to_sqlite3_spark.operators import search as S

        root = tmp_path_factory.mktemp("icache")
        data = tmp_path_factory.mktemp("icorpora")
        old = os.environ.get("SPARK_GRAFT_INDEX_CACHE")
        os.environ["SPARK_GRAFT_INDEX_CACHE"] = str(root)
        INDEX.memo.clear()
        schema = "doc_id long, text string"
        base = spark.createDataFrame(
            [
                (1, "spark query engine for big data"),
                (2, "the data engine handles query plans"),
                (3, "gardening tips for spring flowers"),
                (4, None),  # token-less: doc_ids only
            ],
            schema,
        )
        delta = spark.createDataFrame(
            [
                (10, "query optimizer rewrites the data plan"),
                (11, "flowers need water and sun"),
                (12, None),
            ],
            schema,
        )
        base_path = f"{data}/base"
        union_path = f"{data}/union"
        base.write.parquet(base_path)
        base.unionByName(delta).write.parquet(union_path)
        try:
            got = S.append_text_index(spark, base_path, delta, delta_key="ti-v1")
            want = S.get_text_index(spark, union_path)
            yield {"spark": spark, "got": got, "want": want,
                   "base_path": base_path, "delta": delta, "S": S}
        finally:
            INDEX.clear()
            if old is None:
                os.environ.pop("SPARK_GRAFT_INDEX_CACHE", None)
            else:
                os.environ["SPARK_GRAFT_INDEX_CACHE"] = old

    def test_index_multiset_identity_and_stats(self, appended):
        gidx, gn, gavg, _path = appended["got"]
        widx, wn, wavg = appended["want"]
        assert gidx.exceptAll(widx).count() == 0
        assert widx.exceptAll(gidx).count() == 0
        assert gn == wn
        assert gavg == wavg  # bit-exact: integer sum merge

    def test_bm25_identical_over_appended_index(self, appended):
        from xml_to_sqlite3_spark.operators.search import bm25_search

        gidx, gn, gavg, _path = appended["got"]
        widx, wn, wavg = appended["want"]
        a = bm25_search(gidx, "query data", k=5, n_docs=gn, avg_len=gavg).collect()
        b = bm25_search(widx, "query data", k=5, n_docs=wn, avg_len=wavg).collect()
        assert [(r["doc_id"], r["bm25"], r["rank"]) for r in a] == [
            (r["doc_id"], r["bm25"], r["rank"]) for r in b
        ]
        assert any(r["doc_id"] == 10 for r in a)  # delta doc retrievable

    def test_guards(self, appended):
        spark, S = appended["spark"], appended["S"]
        resent = spark.createDataFrame([(1, "changed")], "doc_id long, text string")
        with pytest.raises(ValueError, match="already exist"):
            S.append_text_index(spark, appended["base_path"], resent, delta_key="g1")
        twice = spark.createDataFrame(
            [(99, "x y"), (99, "x y")], "doc_id long, text string"
        )
        with pytest.raises(ValueError, match="more than once"):
            S.append_text_index(spark, appended["base_path"], twice, delta_key="g2")

    def test_cold_attach_no_retokenize(self, appended, monkeypatch):
        spark, S = appended["spark"], appended["S"]
        INDEX.memo.clear()

        def _boom(*a, **kw):
            raise AssertionError("re-tokenize attempted — attach contract broken")

        with monkeypatch.context() as mp:
            mp.setattr(S, "build_text_index", _boom)
            again = S.append_text_index(
                spark, appended["base_path"], appended["delta"], delta_key="ti-v1"
            )
        assert again[1] == appended["got"][1]


def test_node_type_views_max_types_guard(spark):
    """The distinct-type collect is schema-sized by design; a corpus
    leaking data into tag names must trip the loud cap instead of
    registering millions of temp views."""
    import pytest as _pytest

    nodes = spark.createDataFrame(
        [(i, f"type_{i}") for i in range(12)], "id long, node_type string"
    )
    with _pytest.raises(ValueError, match="exceed max_types"):
        create_node_type_views(spark, nodes, max_types=10)
    assert len(create_node_type_views(spark, nodes, max_types=12)) == 12
