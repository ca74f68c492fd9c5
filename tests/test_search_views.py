"""Full-text search (BM25) tests."""

from __future__ import annotations

import os

import pytest

from xml_to_sqlite3_spark.cache_util import INDEX
from xml_to_sqlite3_spark.operators.search import bm25_search, build_text_index


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
