"""O(delta) append paths of the DEDUP stores (VERDICT r11 task 4).

Mirror of tests/test_store_append.py for the MinHash + components
stores: the exactness claim — a hard-link clone + delta-only pass
(MinHash) and a contracted-closure merge (components) equal a full
rebuild over the unioned corpus — is pinned as MULTISET identity per
table, the merge semantics are hand-checked on planted structures
(component merge THROUGH a new doc, previously-unpaired old docs
entering the closure, a new doc becoming a component's keeper), and
the new-docs guard is exercised.
"""

from __future__ import annotations

import os

import pytest

# builds dedup stores twice (append + full-rebuild reference) — excluded from the inner loop (-m "not heavy")
pytestmark = pytest.mark.heavy
from pyspark.sql import functions as F

from xml_to_sqlite3_spark.cache_util import DEDUP
from xml_to_sqlite3_spark.operators import dedup as D

_THRESH = 0.2


def _toks(prefix: str, n: int = 10) -> str:
    return " ".join(f"{prefix}{i}" for i in range(1, n + 1))


_BASE_DOCS = [
    (1, _toks("a")),
    (2, _toks("a")),      # exact dup of 1 -> base comp 1
    (3, _toks("b")),
    (4, _toks("b")),      # base comp 3
    (5, _toks("c")),      # unpaired in base
    (6, None),            # shingle-less (doc_ids only; NOTE an EMPTY
                          # STRING doc would shingle to [""] and pair
                          # exactly with other empty docs — by design)
    (7, _toks("d")),      # unpaired in base
    (9, _toks("e")),      # unpaired forever
    (500, _toks("h")),    # unpaired in base; delta 401 will pair it
]
_DELTA_DOCS = [
    (101, _toks("a")),    # joins base comp 1
    (102, _toks("f")),
    (103, _toks("f")),    # NEW-NEW comp labeled 102
    # bridges 5 and 7 (both previously unpaired): comp {5, 7, 104}
    (104, _toks("c", 6) + " " + _toks("d", 6)),
    # bridges base comps 1 and 3: merged comp labeled 1
    (105, _toks("a", 6) + " " + _toks("b", 6)),
    (106, None),          # shingle-less delta doc
    (110, _toks("g")),    # unpaired new doc
    (401, _toks("h")),    # pairs base doc 500; NEW id < OLD id
]


@pytest.fixture(scope="module")
def appended(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("mh_cache")
    data = tmp_path_factory.mktemp("corpora")
    old_env = os.environ.get("SPARK_GRAFT_MINHASH_CACHE")
    os.environ["SPARK_GRAFT_MINHASH_CACHE"] = str(root)
    DEDUP.memo.clear()
    schema = "doc_id long, text string"
    base = spark.createDataFrame(_BASE_DOCS, schema)
    delta = spark.createDataFrame(_DELTA_DOCS, schema)
    union = base.unionByName(delta)
    base_path = f"{data}/base_docs"
    union_path = f"{data}/union_docs"
    base.write.parquet(base_path)
    union.write.parquet(union_path)
    try:
        comp_entry = D.append_components(
            spark, base_path, delta, delta_key="test-dedup-append-v1",
            threshold=_THRESH,
        )
        # append_components built the appended dedup entry internally;
        # fetch the same entry (cold-attaches, same key)
        mh_entry = D.append_dedup_documents(
            spark, base_path, delta, delta_key="test-dedup-append-v1"
        )
        # full-rebuild reference over the unioned corpus
        ref_tokens, ref_sigs = D.get_minhash_store(spark, union_path)
        ref_simhash = D.get_simhash_store(spark, union_path)
        ref_win8 = D.get_window_store(spark, union_path)
        ref_ids = spark.read.parquet(
            f"{os.path.join(str(root), _union_mh_ck(union_path))}/doc_ids"
        )
        ref_comp = D.get_components_store(spark, union_path, threshold=_THRESH)
        yield {
            "mh": mh_entry,
            "comp": comp_entry,
            "base_path": base_path,
            "ref": {
                "tokens": ref_tokens,
                "sigs": ref_sigs,
                "simhash": ref_simhash,
                "win8": ref_win8,
                "doc_ids": ref_ids,
                "components": ref_comp,
            },
            "spark": spark,
            "delta": delta,
        }
    finally:
        DEDUP.clear()
        if old_env is None:
            os.environ.pop("SPARK_GRAFT_MINHASH_CACHE", None)
        else:
            os.environ["SPARK_GRAFT_MINHASH_CACHE"] = old_env


def _union_mh_ck(union_path: str) -> str:
    return D._minhash_store_key(union_path, 3, 64, "doc_id", "text")


@pytest.mark.parametrize("table", list(D._DEDUP_STORE_SUBDIRS))
def test_append_equals_full_rebuild_multiset(appended, table):
    got = appended["mh"][table]
    want = appended["ref"][table]
    assert got.exceptAll(want).count() == 0, f"{table}: appended ⊃ full"
    assert want.exceptAll(got).count() == 0, f"{table}: full ⊃ appended"


def test_components_append_equals_full_rebuild(appended):
    got = appended["comp"]["components"]
    want = appended["ref"]["components"]
    assert got.exceptAll(want).count() == 0, "components: appended ⊃ full"
    assert want.exceptAll(got).count() == 0, "components: full ⊃ appended"


def test_merge_semantics_hand_checked(appended):
    comp = {
        r["doc_id"]: (r["component"], r["is_keeper"])
        for r in appended["comp"]["components"].collect()
    }
    # base comps 1 and 3 merged THROUGH delta doc 105; 101 joined too
    for d in (1, 2, 3, 4, 101, 105):
        assert comp[d][0] == 1, f"doc {d}: {comp.get(d)}"
    assert comp[1][1] is True and not any(comp[d][1] for d in (2, 3, 4, 101, 105))
    # previously-unpaired old docs 5 and 7 enter through bridge 104
    for d in (5, 7, 104):
        assert comp[d][0] == 5
    # NEW-NEW component
    assert comp[102][0] == 102 and comp[103][0] == 102
    # new doc with a SMALLER id than its old partner becomes keeper
    assert comp[401] == (401, True) and comp[500] == (401, False)
    # unpaired docs (old 9, new 110) and shingle-less docs are absent
    for d in (9, 110, 6, 106):
        assert d not in comp


def test_append_guard_rejects_existing_doc(appended):
    spark = appended["spark"]
    dup = spark.createDataFrame([(1, "changed text")], "doc_id long, text string")
    with pytest.raises(ValueError, match="already exist"):
        D.append_dedup_documents(
            spark, appended["base_path"], dup, delta_key="test-dup-guard"
        )


def test_append_guard_rejects_intra_delta_duplicate(appended):
    # a double-delivered batch would double doc 9999's postings,
    # silently shifting its Jaccard set size — must fail loudly
    spark = appended["spark"]
    twice = spark.createDataFrame(
        [(9999, "some new text here"), (9999, "some new text here")],
        "doc_id long, text string",
    )
    with pytest.raises(ValueError, match="more than once"):
        D.append_dedup_documents(
            spark, appended["base_path"], twice, delta_key="test-intradup-guard"
        )


def test_appended_entry_cold_attaches(appended, monkeypatch):
    """A second call with the same (base, delta) key must ATTACH the
    published entry, never rebuild — poison the shingle pass to
    prove it (the same pin test_dedup.py uses for the base store)."""
    spark, delta = appended["spark"], appended["delta"]

    def _boom(*a, **kw):
        raise AssertionError("rebuild attempted — attach contract broken")

    with monkeypatch.context() as mp:
        mp.setattr(D, "_shingle_tokens", _boom)
        again = D.append_dedup_documents(
            spark, appended["base_path"], delta, delta_key="test-dedup-append-v1"
        )
    assert again["tokens"].count() == appended["mh"]["tokens"].count()
    # shingle-less docs live in doc_ids but not in tokens
    assert again["doc_ids"].count() == len(_BASE_DOCS) + len(_DELTA_DOCS)
    n_tok_docs = again["tokens"].select("doc_id").distinct().count()
    assert n_tok_docs == len(_BASE_DOCS) + len(_DELTA_DOCS) - 2


def test_incremental_pairs_match_symmetric_subset(appended):
    """_incremental_jaccard_pairs == the delta-touching subset of the
    symmetric operator over the union, values included."""
    spark = appended["spark"]
    ref = appended["ref"]
    delta_ids = {d for d, _ in _DELTA_DOCS}
    base_tokens = D._shingle_tokens(
        spark.createDataFrame(_BASE_DOCS, "doc_id long, text string"),
        3, "doc_id", "text",
    )
    delta_tokens = D._shingle_tokens(
        appended["delta"], 3, "doc_id", "text"
    )
    inc = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D._incremental_jaccard_pairs(
            delta_tokens, base_tokens, _THRESH
        ).collect()
    }
    full = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(
            None, threshold=_THRESH, tokens=ref["tokens"]
        ).collect()
    }
    touching = {
        p: j for p, j in full.items() if p[0] in delta_ids or p[1] in delta_ids
    }
    assert inc == touching
