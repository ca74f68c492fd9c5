"""Dedup operator tests with planted duplicates."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from xml_to_sqlite3_spark.cache_util import DEDUP
from xml_to_sqlite3_spark.operators import dedup as D

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from a sunny windowsill and birds sing in the garden trees outside"
)
NEAR = BASE.replace("sunny", "rainy")  # one word differs
OTHER = "completely unrelated text about distributed query engines and shuffles"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (1, BASE),
            (2, BASE),  # exact dup of 1
            (3, NEAR),  # near dup of 1
            (4, OTHER),
            (5, OTHER + " with a small suffix"),
        ],
        "doc_id long, text string",
    )


def test_exact_duplicates(docs):
    rows = {r["doc_id"]: r.asDict() for r in D.exact_duplicates(docs).collect()}
    assert rows[1]["group_size"] == 2 and rows[2]["group_size"] == 2
    assert rows[1]["is_keeper"] is True
    assert rows[2]["is_keeper"] is False  # min doc_id wins
    assert rows[3]["group_size"] == 1 and rows[3]["is_keeper"] is True
    assert rows[1]["text_md5"] == rows[2]["text_md5"]


def test_ngram_jaccard_pairs(docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(docs, threshold=0.3).collect()
    }
    assert pairs[(1, 2)] == 1.0  # identical
    assert 0.7 <= pairs[(1, 3)] < 1.0  # one word changed
    assert (1, 4) not in pairs


def test_ngram_jaccard_max_df(spark):
    # every doc shares the same stopword run; pairs only exist through
    # that hot shingle. max_df drops it from the index, so the pair
    # universe (and the hot shuffle key) disappears.
    stop = "and then it was and then it was and then it was"
    docs = spark.createDataFrame(
        [(i, f"{stop} unique{'x' * i} tail{i} content{i} here{i}") for i in range(1, 7)],
        "doc_id long, text string",
    )
    hot = {
        (r["doc_a"], r["doc_b"])
        for r in D.ngram_jaccard_pairs(docs, threshold=0.1).collect()
    }
    assert hot  # the stopword shingles do pair everything without the guard
    cold = {
        (r["doc_a"], r["doc_b"])
        for r in D.ngram_jaccard_pairs(docs, threshold=0.1, max_df=3).collect()
    }
    assert not cold
    # identical docs still pair (their rare shingles survive the filter)
    docs2 = docs.union(
        spark.createDataFrame([(7, "uniquex tailx contentx"), (8, "uniquex tailx contentx")],
                              "doc_id long, text string")
    )
    again = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(docs2, threshold=0.5, max_df=3).collect()
    }
    assert again[(7, 8)] == 1.0


def test_minhash_signature_shape(docs):
    sigs = D.minhash_signatures(docs, k=32).collect()
    assert all(len(r["signature"]) == 32 for r in sigs)
    by_id = {r["doc_id"]: r["signature"] for r in sigs}
    assert by_id[1] == by_id[2]  # identical docs, identical signatures
    # near-dup signatures mostly agree
    agree = sum(1 for x, y in zip(by_id[1], by_id[3]) if x == y)
    assert agree >= 16


def test_minhash_lsh_pairs(docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r.asDict()
        for r in D.minhash_lsh_pairs(docs, k=64, bands=16, threshold=0.3).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)]["jaccard"] == 1.0
    assert (1, 3) in pairs  # near dup caught by banding
    assert (1, 4) not in pairs
    # signature-estimated jaccard tracks the exact value loosely
    assert pairs[(1, 3)]["est_jaccard"] > 0.5


def test_simhash_pairs(docs):
    sigs = {r["doc_id"]: r["simhash"] for r in D.simhash_signatures(docs).collect()}
    assert sigs[1] == sigs[2]
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in D.simhash_pairs(docs, max_hamming=16).collect()
    }
    assert pairs[(1, 2)] == 0
    assert (1, 3) in pairs and pairs[(1, 3)] <= 16
    assert (1, 4) not in pairs or pairs[(1, 4)] > pairs[(1, 3)]


def test_simhash_banding_complete(spark):
    """Pigeonhole completeness: with bands derived from max_hamming,
    EVERY pair within the threshold is generated as a candidate —
    including adversarial bit patterns that straddle wide chunks."""
    import numpy as np

    rng = np.random.default_rng(7)
    base = int(rng.integers(0, 2**63, dtype=np.int64))
    rows, expected = [(0, base)], set()
    for i in range(1, 21):
        h = int(rng.integers(1, 11))  # 1..10 differing bits
        flip = 0
        for b in rng.choice(64, size=h, replace=False):
            flip |= 1 << int(b)
        sig = (base ^ flip) - (1 << 64) if (base ^ flip) >= (1 << 63) else base ^ flip
        rows.append((i, sig))
        expected.add((0, i))
    sigs = spark.createDataFrame(rows, "doc_id long, simhash long")

    # run the banding+verify exactly as simhash_pairs does, bypassing
    # text hashing, by monkeypatching the signature source
    import xml_to_sqlite3_spark.operators.dedup as D2

    orig = D2.simhash_signatures
    D2.simhash_signatures = lambda df, id_col="doc_id", text_col="text": sigs
    try:
        found = {
            (r["doc_a"], r["doc_b"])
            for r in D2.simhash_pairs(sigs, max_hamming=10).collect()
        }
    finally:
        D2.simhash_signatures = orig
    assert expected <= found  # no pair within h=10 is missed


def test_duplicated_spans(spark):
    from xml_to_sqlite3_spark.operators.dedup import duplicated_spans

    boiler = "the quick brown fox jumps over the lazy dog again today"  # 11 tokens
    rows = [
        # doc 1 and 2 share the 10-token boilerplate prefix
        (1, boiler + " unique tail one aaa bbb ccc ddd eee fff ggg"),
        (2, boiler + " other ending two hhh iii jjj kkk lll mmm nnn"),
        # doc 3 repeats an 8-token run internally (self-duplication)
        (3, "x1 x2 x3 x4 x5 x6 x7 x8 sep1 sep2 sep3 sep4 sep5 sep6 sep7 sep8 sep9 x1 x2 x3 x4 x5 x6 x7 x8"),
        # doc 4 has no duplication anywhere
        (4, "entirely fresh words that appear nowhere else in this corpus at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r["doc_id"], r["span_start"]): r
        for r in duplicated_spans(df, window_tokens=8, min_count=2).collect()
    }
    # docs 1/2: windows 0..3 of the shared 11-token prefix duplicate ->
    # one span [0, 11) in each
    for d in (1, 2):
        span = out[(d, 0)]
        assert span["span_end"] == 11 and span["span_tokens"] == 11
        assert span["n_windows"] == 4
    # doc 3: the 8-token run at 0 and at 17 -> two spans of exactly 8
    assert out[(3, 0)]["span_end"] == 8
    assert out[(3, 17)]["span_end"] == 25
    # doc 4: no spans
    assert not any(d == 4 for d, _ in out)
    assert len(out) == 4


def test_remove_duplicated_spans(spark):
    from xml_to_sqlite3_spark.operators.dedup import remove_duplicated_spans

    boiler = "the quick brown fox jumps over the lazy dog again today"  # 11 tokens
    rows = [
        (1, boiler + " unique tail one aaa bbb ccc ddd eee fff ggg"),
        (2, boiler + " other ending two hhh iii jjj kkk lll mmm nnn"),
        (3, "entirely fresh words that appear nowhere else in this corpus at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in remove_duplicated_spans(df, window_tokens=8).collect()}
    # doc 1 holds the FIRST occurrence of the shared prefix -> intact
    assert out[1]["text_deduped"] == rows[0][1].lower()
    assert out[1]["n_tokens_kept"] == out[1]["n_tokens_total"] == 21
    # doc 2's copy of the 11-token prefix is removed, tail survives
    assert out[2]["text_deduped"] == "other ending two hhh iii jjj kkk lll mmm nnn"
    assert out[2]["n_tokens_kept"] == 10 and out[2]["n_tokens_total"] == 21
    # doc 3 untouched
    assert out[3]["text_deduped"] == rows[2][1].lower()


def _py_span_model(texts, L=4, min_count=2):
    """Pure-python reference model for duplicated_spans /
    remove_duplicated_spans (same normalization and tie-breaks)."""
    import re as _re
    from collections import Counter, defaultdict

    toks = {d: _re.sub(r"\s+", " ", t.strip()).lower().split(" ") for d, t in texts}
    wins = {
        d: [" ".join(w[i : i + L]) for i in range(len(w) - L + 1)]
        for d, w in toks.items()
    }
    counts = Counter(w for ws in wins.values() for w in ws)
    first = {}
    for d in sorted(wins):
        for p, w in enumerate(wins[d]):
            if counts[w] >= min_count and w not in first:
                first[w] = (d, p)
    spans = defaultdict(list)   # doc -> merged [start, end)
    removed = defaultdict(set)  # doc -> removed token indices
    for d in sorted(wins):
        dup_pos = [p for p, w in enumerate(wins[d]) if counts[w] >= min_count]
        for p in dup_pos:
            if first[wins[d][p]] != (d, p):
                removed[d].update(range(p, p + L))
        cur = None
        for p in dup_pos:
            if cur and p <= cur[1]:
                cur[1] = max(cur[1], p + L)
            else:
                cur = [p, p + L]
                spans[d].append(cur)
    kept = {
        d: " ".join(t for i, t in enumerate(w) if i not in removed[d])
        for d, w in toks.items()
    }
    return spans, kept


@pytest.mark.parametrize("seed", range(6))
def test_span_operators_match_python_model(spark, seed):
    import random

    rng = random.Random(seed)
    vocab = ["aa", "bb", "cc", "dd"]  # tiny vocab -> dense duplication
    texts = [
        (d, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 24))))
        for d in range(5)
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")

    exp_spans, exp_kept = _py_span_model(texts, L=4)
    got_spans = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in D.duplicated_spans(df, window_tokens=4).collect()
    }
    want_spans = {
        (d, s, e) for d, ss in exp_spans.items() for s, e in ss
    }
    assert got_spans == want_spans

    got_kept = {
        r["doc_id"]: r["text_deduped"]
        for r in D.remove_duplicated_spans(df, window_tokens=4).collect()
    }
    assert got_kept == exp_kept


def test_hamming_pairs_exact_match_mode(spark):
    """max_hamming=0 (single 64-bit chunk) must work — the all-ones
    mask does not fit an unsigned long literal."""
    from xml_to_sqlite3_spark.operators.dedup import hamming_pairs

    sigs = spark.createDataFrame(
        [(1, 42), (2, 42), (3, 43), (4, -5), (5, -5)], ["doc_id", "sig"]
    )
    got = {
        (r["doc_a"], r["doc_b"])
        for r in hamming_pairs(sigs, max_hamming=0, id_col="doc_id", sig_col="sig").collect()
    }
    assert got == {(1, 2), (4, 5)}


def test_minhash_rejects_bad_band_count(spark):
    import pytest as _pytest

    from xml_to_sqlite3_spark.operators.dedup import minhash_lsh_pairs

    df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    with _pytest.raises(ValueError, match="bands must divide k"):
        minhash_lsh_pairs(df, k=64, bands=24)
    with _pytest.raises(ValueError, match="bands must divide k"):
        minhash_lsh_pairs(df, k=8, bands=16)


def test_minhash_incremental_matches_symmetric(spark):
    # pairs that CROSS the split must agree with the symmetric
    # operator's verdict on the union; corpus-internal pairs must not
    # appear at all
    texts = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and again!"),
        (3, "a completely different document about parquet file layouts"),
        (4, "a completely different document about parquet file layout"),
        (5, "nothing like the others at all in any way whatsoever here"),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    new = df.filter("doc_id IN (2, 4)")
    corpus = df.filter("doc_id NOT IN (2, 4)")
    inc = {
        (r["doc_id"], r["match_id"]): r["jaccard"]
        for r in D.minhash_lsh_incremental(new, corpus, threshold=0.2).collect()
    }
    sym = {
        tuple(sorted((r["doc_a"], r["doc_b"]))): r["jaccard"]
        for r in D.minhash_lsh_pairs(df, threshold=0.2).collect()
    }
    cross_sym = {
        p: j for p, j in sym.items() if (p[0] in (2, 4)) != (p[1] in (2, 4))
    }
    assert {tuple(sorted(p)) for p in inc} == set(cross_sym)
    for p, j in inc.items():
        assert j == cross_sym[tuple(sorted(p))]
    # the near-dup pairs planted across the split are found
    assert (2, 1) in inc and (4, 3) in inc


def test_minhash_store_attach_and_equivalence(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_MINHASH_CACHE", str(tmp_path / "mh"))
    sf = "/root/testdata/sf0.001"
    path = f"{sf}/documents.parquet"
    # the memo is keyed on content, not cache root: an entry left by
    # an earlier test would satisfy this first call WITHOUT building
    # under this test's root, and the attach below would then be a
    # (poisoned) rebuild — clear so the build demonstrably happens here
    DEDUP.memo.clear()
    tokens, sigs = D.get_minhash_store(spark, path, n=3, k=64)
    docs = spark.read.parquet(path)
    # store contents equal a direct computation (pure function of text)
    direct_tok = D._shingle_tokens(docs, 3, "doc_id", "text")
    assert tokens.count() == direct_tok.count()
    assert tokens.exceptAll(direct_tok).count() == 0
    direct_sig = D._signatures_from_tokens(direct_tok, 64)
    assert sigs.exceptAll(direct_sig).count() == 0
    # attach path: drop the memo; the second call must ATTACH, never
    # rebuild — pin it by poisoning the build's first step (a silent
    # rebuild would raise; attach never shingles)
    DEDUP.memo.clear()

    def _boom(*a, **kw):
        raise AssertionError("rebuild attempted — attach contract broken")

    with monkeypatch.context() as mp:
        mp.setattr(D, "_shingle_tokens", _boom)
        t2, s2 = D.get_minhash_store(spark, path, n=3, k=64)
    assert t2.count() == tokens.count() and s2.count() == sigs.count()
    # store frames carry their build parameters; a parameter-mismatched
    # consumer call must fail loudly instead of pairing wrong
    with pytest.raises(ValueError, match="built with"):
        D.minhash_lsh_pairs(docs, k=32, bands=16, tokens=t2, sigs=s2)
    with pytest.raises(ValueError, match="built with"):
        D.ngram_jaccard_pairs(docs, n=5, tokens=t2)
    # DERIVED store frames keep the tag through the module's own
    # slicing helpers (r10: _carry_meta), so a sliced store still
    # fails loudly on (n, k) mismatch instead of silently pairing
    # wrong — here via the incremental operator's semi-join slices
    half = docs.limit(10)
    rest = docs.join(half, "doc_id", "left_anti")
    with pytest.raises(ValueError, match="built with"):
        D.minhash_lsh_incremental(
            half, rest, k=32, bands=16, tokens=t2, sigs=s2
        )
    from pyspark.sql import functions as F

    from xml_to_sqlite3_spark.operators.dedup import _band_buckets, _carry_meta

    banded = _band_buckets(s2, bands=16, rows=4)
    assert getattr(banded, "_mh_meta", None) == s2._mh_meta
    sliced = _carry_meta(t2.filter(F.length("h") >= 0), t2)
    with pytest.raises(ValueError, match="built with"):
        D.ngram_jaccard_pairs(docs, n=5, tokens=sliced)
    # store-fed pairs == self-computed pairs
    a = D.minhash_lsh_pairs(docs, threshold=0.2)
    b = D.minhash_lsh_pairs(docs, threshold=0.2, tokens=t2, sigs=s2)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    DEDUP.clear()


def test_shingle_novelty_first_occurrence(spark):
    from xml_to_sqlite3_spark.operators.dedup import shingle_novelty

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),   # all shingles first seen here
            (2, "the quick brown fox runs"),    # shares 2 of 3 shingles w/ doc 1
            (3, "completely different text entirely"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in shingle_novelty(df, n=3).collect()}
    # doc 1: 3 distinct 3-gram shingles, all novel
    assert out[1]["n_shingles"] == 3 and out[1]["novel_frac"] == 1.0
    # doc 2: "the quick brown" + "quick brown fox" first appeared in
    # doc 1; only "brown fox runs" is novel
    assert out[2]["n_shingles"] == 3
    assert out[2]["novel"] == 1
    assert out[2]["novel_frac"] == pytest.approx(round(1 / 3, 6))
    assert out[3]["novel_frac"] == 1.0


def test_shingle_novelty_store_tokens_match_recompute(spark, tmp_path):
    from xml_to_sqlite3_spark.operators.dedup import (
        _shingle_tokens,
        shingle_novelty,
    )

    df = spark.createDataFrame(
        [(i, f"w{i % 3} common words here run {i}") for i in range(12)],
        "doc_id long, text string",
    )
    direct = shingle_novelty(df, n=3).collect()
    # mimic the store frame: (doc_id, h, h2) with the (n, k) meta tag
    tagged = _shingle_tokens(df, 3, "doc_id", "text").select(
        "doc_id", "h", "h2"
    )
    tagged._mh_meta = {"n": 3, "k": 64}
    via_store = shingle_novelty(df, n=3, tokens=tagged).collect()
    assert direct == via_store
    with pytest.raises(ValueError):
        shingle_novelty(df, n=4, tokens=tagged)
    # a LEGACY 60-bit store frame (no h2) fails loud
    legacy = _shingle_tokens(df, 3, "doc_id", "text").select("doc_id", "h")
    legacy._mh_meta = {"n": 3, "k": 64}
    with pytest.raises(ValueError, match="h2"):
        shingle_novelty(df, n=3, tokens=legacy)


def test_components_store_attach_and_equivalence(spark, tmp_path, monkeypatch):
    from xml_to_sqlite3_spark.operators.graph import duplicate_groups

    monkeypatch.setenv("SPARK_GRAFT_MINHASH_CACHE", str(tmp_path / "mh"))
    sf = "/root/testdata/sf0.001"
    path = f"{sf}/documents.parquet"
    DEDUP.memo.clear()
    store = D.get_components_store(spark, path, threshold=0.3, n=3)
    # store contents equal a direct computation (pure function)
    docs = spark.read.parquet(path)
    tokens, _ = D.get_minhash_store(spark, path, n=3, k=64)
    direct = duplicate_groups(
        D.ngram_jaccard_pairs(docs, threshold=0.3, n=3, tokens=tokens)
    )
    assert store.count() == direct.count() > 0
    assert store.exceptAll(direct).count() == 0
    # attach: drop the memo; the second call must ATTACH, never
    # rebuild — poison the build's pair step to prove it
    DEDUP.memo.clear()

    def _boom(*a, **kw):
        raise AssertionError("rebuild attempted — attach contract broken")

    with monkeypatch.context() as mp:
        mp.setattr(D, "ngram_jaccard_pairs", _boom)
        again = D.get_components_store(spark, path, threshold=0.3, n=3)
    assert again.count() == store.count()
    # a different threshold is a DIFFERENT artifact (param in the key)
    other = D.get_components_store(spark, path, threshold=0.9, n=3)
    assert other.filter("is_keeper = false").count() <= store.filter(
        "is_keeper = false"
    ).count()


class TestFuzzyMatch:
    def test_blocked_levenshtein_pairs(self, spark):
        df = spark.createDataFrame(
            [
                (1, "red widget"),
                (2, "red widgit"),    # dist 1 from 1
                (3, "red gadget"),    # dist 2 from 1 (w->g, i->a)
                (4, "blue widget"),   # different block -> never paired
                (5, "red widget"),    # exact dup of 1 (dist 0)
            ],
            "id long, name string",
        )
        out = {
            (r["id_a"], r["id_b"]): (r["dist"], r["similarity"])
            for r in D.fuzzy_match_pairs(df, max_dist=3).collect()
        }
        assert out[(1, 2)][0] == 1
        assert out[(1, 2)][1] == pytest.approx(round(1 - 1 / 10, 6))
        assert out[(1, 5)][0] == 0  # min_dist=0 keeps exacts
        assert out[(1, 3)][0] == 2
        assert not any(4 in p for p in out)
        # min_dist excludes the exact band
        fuzzy = {
            (r["id_a"], r["id_b"])
            for r in D.fuzzy_match_pairs(df, max_dist=3, min_dist=1).collect()
        }
        assert (1, 5) not in fuzzy and (1, 2) in fuzzy

    def test_normalization_and_length_prefilter(self, spark):
        df = spark.createDataFrame(
            [(1, "  Red   Widget "), (2, "red widget"), (3, "red w")],
            "id long, name string",
        )
        out = {
            (r["id_a"], r["id_b"]): r["dist"]
            for r in D.fuzzy_match_pairs(df, max_dist=2).collect()
        }
        # case/whitespace normalize to equal -> dist 0
        assert out[(1, 2)] == 0
        # |len 10 - len 5| = 5 > max_dist -> pruned before levenshtein
        assert (1, 3) not in out and (2, 3) not in out

    def test_null_and_empty_names_excluded(self, spark):
        # NULL names can't match a block equi-join and whitespace-only
        # names would pair at 0/0 similarity (NULL, or DIVIDE_BY_ZERO
        # under ANSI) — both are excluded up front by contract
        df = spark.createDataFrame(
            [(1, "red widget"), (2, None), (3, "   "), (4, "\t"), (5, "red widget")],
            "id long, name string",
        )
        out = {
            (r["id_a"], r["id_b"]) for r in D.fuzzy_match_pairs(df, max_dist=2).collect()
        }
        assert out == {(1, 5)}

    def test_fat_block_raises(self, spark):
        df = spark.createDataFrame(
            [(i, f"the item{i}") for i in range(50)], "id long, name string"
        )
        with pytest.raises(ValueError, match="max_block"):
            D.fuzzy_match_pairs(df, max_block=10)
        # raising the bound (or a finer key) unblocks
        assert D.fuzzy_match_pairs(df, max_block=100).count() >= 0

    def test_second_blocking_key_recovers_first_word_typos(self, spark):
        """r14 VERDICT task 6: first-token blocking never compares
        names whose FIRST word is the typo'd one — the union
        last-token block recovers them; pairs matched under BOTH keys
        score once; the default stays byte-identical to single-key."""
        df = spark.createDataFrame(
            [
                (1, "green metallic paint"),
                (2, "gren metallic paint"),   # FIRST-word typo: only 'last' finds it
                (3, "green metalic paint"),   # middle typo: BOTH keys match -> once
                (4, "green metallic paints"),  # last-word typo: only 'first' finds it
                (5, "blue oxide paints"),     # shares last token with 4 (dist > 3)
            ],
            "id long, name string",
        )
        first_only = {
            (r["name_a"], r["name_b"]): r["dist"]
            for r in D.fuzzy_match_names(df, max_dist=3).collect()
        }
        assert ("green metallic paint", "gren metallic paint") not in first_only
        both = {
            (r["name_a"], r["name_b"]): r["dist"]
            for r in D.fuzzy_match_names(
                df, max_dist=3, block_keys=("first", "last")
            ).collect()
        }
        # the first-word typo is recovered through the last-token block
        assert both[("green metallic paint", "gren metallic paint")] == 1
        # everything single-key found is still found (recall is a superset)
        assert set(first_only) <= set(both)
        # double-key match appears exactly once with the same dist
        assert both[("green metalic paint", "green metallic paint")] == 1
        rows = D.fuzzy_match_names(
            df, max_dist=3, block_keys=("first", "last")
        ).collect()
        assert len(rows) == len({(r["name_a"], r["name_b"]) for r in rows})
        # the record-pair expansion honors the same knob
        pair_ids = {
            (r["id_a"], r["id_b"])
            for r in D.fuzzy_match_pairs(
                df, max_dist=3, min_dist=1, block_keys=("first", "last")
            ).collect()
        }
        assert (1, 2) in pair_ids and (1, 3) in pair_ids and (1, 4) in pair_ids
        # an unknown key fails loudly
        with pytest.raises(ValueError, match="block_keys"):
            D.fuzzy_match_names(df, block_keys=("soundex",))


class TestFuzzyMatchProperties:
    """Hypothesis property test: the distinct-name + expansion plan
    must equal a brute-force record-level python replica on arbitrary
    small corpora (the r12 rewrite changed the PLAN, not the
    semantics — this pins that claim beyond the hand cases)."""

    @staticmethod
    def _lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    @classmethod
    def _replica(cls, rows, max_dist, min_dist):
        import re

        norm = {}
        for i, name in rows:
            if name is None:
                continue
            nm = re.sub(r"[ \t\n\x0b\f\r]+", " ", name).strip(" ").lower()
            # operator trims spaces only AFTER collapsing, like Spark
            if nm == "":
                continue
            norm[i] = nm
        out = {}
        ids = sorted(norm)
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                a, b = ids[x], ids[y]
                na, nb = norm[a], norm[b]
                if na.split(" ")[0] != nb.split(" ")[0]:
                    continue
                if abs(len(na) - len(nb)) > max_dist:
                    continue
                d = cls._lev(na, nb)
                if min_dist <= d <= max_dist:
                    sim = round(1 - d / max(len(na), len(nb)), 6)
                    out[(a, b)] = (na, nb, d, sim)
        return out

    def test_matches_brute_force_replica(self, spark):
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        words = st.sampled_from(
            ["red", "rad", "ted", "blue", "blu", "widget", "widgit", "gear", ""]
        )
        name = st.one_of(
            st.none(),
            st.builds(lambda a, b: f"{a} {b}", words, words),
            st.builds(lambda a: f"  {a}\t", words),
        )
        rows_strategy = st.lists(
            st.tuples(st.integers(min_value=0, max_value=40), name),
            min_size=0, max_size=12, unique_by=lambda t: t[0],
        )

        @settings(max_examples=8, deadline=None,
                  suppress_health_check=[HealthCheck.too_slow])
        @given(rows_strategy, st.integers(min_value=1, max_value=3),
               st.integers(min_value=0, max_value=1))
        def run(rows, max_dist, min_dist):
            df = spark.createDataFrame(
                rows, "id long, name string"
            ) if rows else spark.createDataFrame([], "id long, name string")
            got = {
                (r["id_a"], r["id_b"]): (
                    r["name_a"], r["name_b"], r["dist"], r["similarity"]
                )
                for r in D.fuzzy_match_pairs(
                    df, max_dist=max_dist, min_dist=min_dist
                ).collect()
            }
            want = self._replica(rows, max_dist, min_dist)
            assert got == want, (rows, max_dist, min_dist)

        run()


def test_fuzzy_match_names_rollup(spark):
    df = spark.createDataFrame(
        [
            (1, "red widget"), (2, "red widget"), (3, "red widget"),
            (4, "red widgit"),
            (5, "red gadget"),
            (6, "blue bolt"),
        ],
        "id long, name string",
    )
    out = {
        (r["name_a"], r["name_b"]): r
        for r in D.fuzzy_match_names(df, max_dist=2).collect()
    }
    r = out[("red widget", "red widgit")]
    assert (r["dist"], r["n_a"], r["n_b"], r["n_pairs"]) == (1, 3, 1, 3)
    assert r["similarity"] == pytest.approx(round(1 - 1 / 10, 6))
    # widgit<->gadget dist 2? w->g, i->a, d=d, g->d... check: "red widgit" vs "red gadget"
    # ordered by dist then names; no same-name rows ever
    assert all(a != b for a, b in out)
    # min_dist coerced to >= 1: passing 0 changes nothing
    again = {
        (r["name_a"], r["name_b"])
        for r in D.fuzzy_match_names(df, max_dist=2, min_dist=0).collect()
    }
    assert again == set(out)


def test_fuzzy_match_default_api(spark):
    """The public entry point (r12 VERDICT task 3): fuzzy_match
    defaults to the vocabulary-level name relation; the output-sized
    record expansion sits behind expand_records=True and matches
    fuzzy_match_pairs exactly."""
    df = spark.createDataFrame(
        [
            (1, "red widget"), (2, "red widget"),
            (3, "red widgit"),
            (4, "blue bolt"),
        ],
        "id long, name string",
    )
    names = D.fuzzy_match(df, max_dist=2).collect()
    assert [r["name_a"] for r in names] == ["red widget"]
    assert set(names[0].asDict()) == {
        "name_a", "name_b", "dist", "similarity", "n_a", "n_b", "n_pairs"
    }
    assert names[0]["n_pairs"] == 2
    expanded = {
        (r["id_a"], r["id_b"])
        for r in D.fuzzy_match(df, max_dist=2, expand_records=True).collect()
    }
    direct = {
        (r["id_a"], r["id_b"])
        for r in D.fuzzy_match_pairs(df, max_dist=2, min_dist=1).collect()
    }
    assert expanded == direct == {(1, 3), (2, 3)}


class TestExactIdentityKeyWidth:
    """The exact-identity key is 120 bits (both md5 halves), and the
    full-text DuckDB oracles replay it: results equal the string key
    absent a collision."""

    def test_hash_halves_portable(self, spark):
        """Both md5 halves match an independent python replica of the
        DuckDB expressions ('0x' || substr(md5(x), 1|16, 15))::BIGINT
        — the portability contract that keeps wide keys SQL-replayable."""
        import hashlib

        vals = ["alpha beta", "räksmörgås", "", "x" * 500]
        df = spark.createDataFrame([(v,) for v in vals], "s string")
        rows = df.select(
            "s",
            D._md5_long(F.col("s")).alias("h"),
            D._md5_long_hi(F.col("s")).alias("h2"),
        ).collect()
        for r in rows:
            hx = hashlib.md5(r["s"].encode("utf-8")).hexdigest()
            assert r["h"] == int(hx[0:15], 16)
            assert r["h2"] == int(hx[15:30], 16)
            assert 0 <= r["h"] < 1 << 60 and 0 <= r["h2"] < 1 << 60

    def test_ngram_jaccard_oracle_replay(self, spark):
        from tests.oracle_harness import compare
        from xml_to_sqlite3_spark.plans.llm_pipeline import (
            NGRAM_JACCARD_ORACLE,
            _minhash_store,
        )

        sf = "/root/testdata/sf0.001"
        tokens, _ = _minhash_store(spark, sf)
        got = D.ngram_jaccard_pairs(
            spark.read.parquet(f"{sf}/documents.parquet"),
            threshold=0.01,
            n=3,
            tokens=tokens,
        ).orderBy("doc_a", "doc_b")
        ok, detail = compare(got, NGRAM_JACCARD_ORACLE, sf)
        assert ok, detail

    def test_line_dedup_oracle_replay(self, spark):
        from tests.oracle_harness import compare
        from xml_to_sqlite3_spark.operators import curation as C
        from xml_to_sqlite3_spark.plans.curation_q import (
            LINE_DEDUP_ORACLE,
            _wrapped_docs,
        )

        sf = "/root/testdata/sf0.001"
        got = (
            C.line_dedup(_wrapped_docs(spark, sf))
            .select(
                "doc_id",
                F.md5("text_deduped").alias("text_md5"),
                "n_lines_kept",
                "n_lines_total",
            )
            .orderBy("doc_id")
        )
        ok, detail = compare(got, LINE_DEDUP_ORACLE, sf)
        assert ok, detail


def test_hash_halves_cross_module_parity(spark):
    """The dedup module's local hash twins (_md5_long/_md5_long_hi —
    local so the store's content key covers the code they live in)
    must stay bit-identical to the package-wide primitives
    (functions/hashing.stable_hash60/stable_hash60_hi) that
    line_dedup and the graph store key on — a divergence would split
    the 'one portable identity key' contract across operators."""
    from xml_to_sqlite3_spark.functions.hashing import (
        stable_hash60,
        stable_hash60_hi,
    )

    df = spark.createDataFrame(
        [("alpha beta",), ("räksmörgås",), ("",), ("x" * 300,)], "s string"
    )
    rows = df.select(
        D._md5_long(F.col("s")).alias("a"),
        stable_hash60(F.col("s")).alias("b"),
        D._md5_long_hi(F.col("s")).alias("c"),
        stable_hash60_hi(F.col("s")).alias("d"),
    ).collect()
    for r in rows:
        assert r["a"] == r["b"] and r["c"] == r["d"]
