"""BPE trainer vs an independent pure-python reference (Sennrich
et al. 2016 learn_bpe), and the encoder's merge-application rule."""

from __future__ import annotations

from collections import Counter

from xml_to_sqlite3_spark.operators.text import (
    _merge_pair_in_symbols,
    train_bpe,
)

CORPUS = [
    "low low low low low",
    "lower lower newest newest",
    "newest newest newest newest",
    "widest widest widest",
    "low lower newest widest",
]


def _ref_bpe(texts, n_merges, min_pair_count=2):
    vocab = Counter()
    for t in texts:
        for w in t.lower().split():
            vocab[tuple(list(w) + ["</w>"])] += 1
    merges = []
    for _ in range(n_merges):
        pairs = Counter()
        for sym, c in vocab.items():
            for a, b in zip(sym, sym[1:]):
                pairs[(a, b)] += c
        if not pairs:
            break
        # max count, lexicographic tie-break — must match the Spark argmax
        (l, r), n = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if n < min_pair_count:
            break
        merges.append((l, r, n))
        vocab = Counter(
            {
                tuple(_merge_pair_in_symbols(list(sym), l, r)): c
                for sym, c in vocab.items()
            }
        )
    return merges


def test_train_bpe_matches_reference(spark):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(CORPUS)], ["doc_id", "text"])
    got = [
        (r["left"], r["right"], r["pair_count"])
        for r in train_bpe(df, n_merges=10).orderBy("rank").collect()
    ]
    want = _ref_bpe(CORPUS, 10)
    assert got == want, (got, want)


def test_merge_rule_non_overlapping():
    assert _merge_pair_in_symbols(["a", "a", "a"], "a", "a") == ["aa", "a"]
    assert _merge_pair_in_symbols(["a", "a", "a", "a"], "a", "a") == ["aa", "aa"]
    assert _merge_pair_in_symbols(["x"], "a", "b") == ["x"]


def test_unicode_quality_flags_mojibake(spark):
    from xml_to_sqlite3_spark.operators.text import unicode_quality

    rows = [
        (1, "plain ascii text"),
        (2, "café naïve résumé"),
        (3, "broken �� decode"),
        (4, "ctl\x07chars\x1f"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in unicode_quality(df).collect()}
    assert out[1]["non_ascii_ratio"] == 0.0 and out[1]["encoding_clean"]
    assert out[2]["non_ascii_ratio"] > 0 and out[2]["encoding_clean"]
    assert out[3]["replacement_chars"] == 2 and not out[3]["encoding_clean"]
    assert out[4]["control_chars"] == 2 and not out[4]["encoding_clean"]


def test_select_safe_batch_is_sequential_greedy():
    """Driver-side batch selection must be provably sequential: a
    python trainer that takes _select_safe_batch's whole batch per
    count snapshot must reproduce the one-merge-at-a-time reference
    EXACTLY, on corpora engineered to stress the hazard ceiling —
    chained same-symbol runs ('aaaa...'), near-tie counts, merges
    that create high-count new pairs."""
    import random

    from xml_to_sqlite3_spark.operators.text import _select_safe_batch

    def batched_bpe(texts, n_merges, min_pair_count=2, topk=8):
        # small topk on purpose: exercises the c_tail bound
        vocab = Counter()
        for t in texts:
            for w in t.lower().split():
                vocab[tuple(list(w) + ["</w>"])] += 1
        merges = []
        while len(merges) < n_merges:
            pairs = Counter()
            for sym, c in vocab.items():
                for a, b in zip(sym, sym[1:]):
                    pairs[(a, b)] += c
            if not pairs:
                break
            rows = sorted(
                ((l, r, n) for (l, r), n in pairs.items()),
                key=lambda x: (-x[2], x[0], x[1]),
            )[:topk]
            if rows[0][2] < min_pair_count:
                break
            batch = _select_safe_batch(
                rows,
                full_table=len(pairs) <= topk,
                min_pair_count=min_pair_count,
                remaining=n_merges - len(merges),
            )
            merges.extend(batch)
            for l, r, _ in batch:
                vocab = Counter(
                    {
                        tuple(_merge_pair_in_symbols(list(sym), l, r)): c
                        for sym, c in vocab.items()
                    }
                )
        return merges

    rng = random.Random(31)
    corpora = [CORPUS, ["aaaa aaaa aaaaaa aa ab ab ab b b b"] * 3]
    for _ in range(40):
        words = []
        alphabet = "abc"
        for _w in range(rng.randint(3, 12)):
            n = rng.randint(1, 8)
            words.append("".join(rng.choice(alphabet) for _ in range(n)))
        # repeat words with skewed frequencies to force ties/near-ties
        text = " ".join(w for w in words for _ in range(rng.randint(1, 6)))
        corpora.append([text])
    for corpus in corpora:
        want = _ref_bpe(corpus, 14, min_pair_count=1)
        got = batched_bpe(corpus, 14, min_pair_count=1)
        assert got == want, (corpus, got, want)


def test_train_bpe_local_and_distributed_paths_identical(spark):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CORPUS)], ["doc_id", "text"]
    )
    local = [
        (r["left"], r["right"], r["pair_count"])
        for r in train_bpe(df, n_merges=10).orderBy("rank").collect()
    ]
    # local_vocab_max=0 forces the distributed batched loop
    dist = [
        (r["left"], r["right"], r["pair_count"])
        for r in train_bpe(df, n_merges=10, local_vocab_max=0)
        .orderBy("rank")
        .collect()
    ]
    assert local == dist == _ref_bpe(CORPUS, 10)
