"""Unit tests for operators/curation.py: deterministic sampling and
splits, source quotas, normalization/redaction, chunking invariants,
vocabulary/TF-IDF, and the KMV distinct sketch."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from xml_to_sqlite3_spark.operators import curation as C

SF = "/root/testdata/sf0.001"


def _py_unit(value) -> float:
    """Python replica of stable_unit: first 60 bits of md5 / 2^60."""
    h = hashlib.md5(str(value).encode()).hexdigest()
    return int(h[:15], 16) / float(1 << 60)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_stable_hash_matches_python(spark):
    df = spark.range(0, 50).select(
        F.col("id"), C.stable_unit(F.col("id")).alias("u")
    )
    for row in df.collect():
        assert abs(row.u - _py_unit(row.id)) < 1e-15


def test_stable_sample_deterministic_and_subset(docs):
    a = {r.doc_id for r in C.stable_sample(docs, "doc_id", 0.2).select("doc_id").collect()}
    b = {r.doc_id for r in C.stable_sample(docs, "doc_id", 0.2).select("doc_id").collect()}
    assert a == b
    # a smaller fraction is a strict subset: growing the sample never
    # evicts a previously-selected key (the monotonicity property)
    small = {r.doc_id for r in C.stable_sample(docs, "doc_id", 0.05).select("doc_id").collect()}
    assert small <= a
    n = docs.count()
    assert 0.1 * n < len(a) < 0.35 * n  # ~20% within loose tolerance


def test_split_disjoint_exhaustive_stable(docs):
    out = C.train_val_test_split(docs, "doc_id", 0.1, 0.1)
    counts = {r.split: r.n for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == docs.count()
    assert set(counts) == {"train", "val", "test"}
    again = C.train_val_test_split(docs, "doc_id", 0.1, 0.1)
    diff = (
        out.select("doc_id", "split")
        .join(again.select("doc_id", F.col("split").alias("s2")), "doc_id")
        .filter(F.col("split") != F.col("s2"))
        .count()
    )
    assert diff == 0


def test_split_validates_fractions(docs):
    with pytest.raises(ValueError):
        C.train_val_test_split(docs, "doc_id", 0.6, 0.5)
    with pytest.raises(ValueError):
        C.stable_sample(docs, "doc_id", 1.5)


def test_source_quota_caps_each_group(docs):
    out = C.source_quota(docs, "source", max_per_group=5, order_col="doc_id")
    per = out.groupBy("source").agg(F.count("*").alias("n"), F.max("doc_id").alias("mx"))
    for row in per.collect():
        assert row.n <= 5
    # keeps the FIRST five by doc_id: the kept max must be below every
    # dropped doc_id of the same source
    kept = out.groupBy("source").agg(F.max("doc_id").alias("kept_max"))
    dropped = docs.join(out.select("doc_id"), "doc_id", "left_anti")
    bad = (
        dropped.join(kept, "source")
        .filter(F.col("doc_id") < F.col("kept_max"))
        .count()
    )
    assert bad == 0


def test_normalize_text(spark):
    df = spark.createDataFrame(
        [("  Hello\t\tWorld \x07 MIXED Case\n\n",), ("", )], ["t"]
    ).select(C.normalize_text(F.col("t")).alias("n"))
    vals = [r.n for r in df.collect()]
    assert vals[0] == "hello world mixed case"
    assert vals[1] == ""


def test_redact_pii(spark):
    cases = [
        ("mail bob.smith+x@example.co.uk now", "mail <EMAIL> now"),
        ("server at 10.0.255.14 down", "server at <IP> down"),
        ("call +1 (555) 123-4567 today", "call <PHONE> today"),
        ("no pii here", "no pii here"),
    ]
    df = spark.createDataFrame([(a,) for a, _ in cases], ["t"]).select(
        "t", C.redact_pii(F.col("t")).alias("r")
    )
    got = {r.t: r.r for r in df.collect()}
    for raw, want in cases:
        assert got[raw] == want, (raw, got[raw])


def test_shard_assignment_contract(spark):
    """r15: (shard, pos) is a pure function of the ids — dense 0-based
    positions per shard, hash-ordered, identical across repartitioned
    inputs, and salted by tag."""
    df = spark.createDataFrame(
        [(i,) for i in range(200)], "doc_id long"
    )
    out = C.shard_assignment(df, n_shards=8).collect()
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    assert set(by_shard) <= set(range(8))
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(len(poss))), shard  # dense
    # deterministic across partitionings
    again = C.shard_assignment(df.repartition(7), n_shards=8).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    # a different tag is a different shuffle
    other = C.shard_assignment(df, n_shards=8, tag="epoch2|shard").collect()
    assert sorted(map(tuple, out)) != sorted(map(tuple, other))
    # hash-ordered within shard: pos order == hash order
    import hashlib

    def h(i):
        return int(hashlib.md5(f"shard|{i}".encode()).hexdigest()[:15], 16)

    for r in out:
        assert r["shard"] == h(r["doc_id"]) % 8
    for shard, _ in by_shard.items():
        ids = [r["doc_id"] for r in sorted(
            (x for x in out if x["shard"] == shard), key=lambda x: x["pos"]
        )]
        assert ids == sorted(ids, key=lambda i: (h(i), i))
    with pytest.raises(ValueError, match="n_shards"):
        C.shard_assignment(df, n_shards=0)


def test_pii_report_counts_and_precedence(spark):
    """r15: the audit counts must mirror the scrub's order-matters
    semantics — an email's dotted digits never count as IP/phone, a
    dotted quad counts as IP not phone, and the per-source rollup
    carries counts + hit fraction."""
    rows = [
        (1, "a", "mail bob@x.co and carol@y.io today"),       # 2 emails
        (2, "a", "server 10.0.255.14 and call +1 (555) 123-4567"),  # 1 ip, 1 phone
        (3, "a", "no pii at all here"),
        (4, "b", "ping 192.168.0.1 then 10.1.1.2"),           # 2 ips
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {r["source"]: r for r in C.pii_report(df).collect()}
    a, b = out["a"], out["b"]
    assert (a["n_docs"], a["emails"], a["ips"], a["phones"]) == (3, 2, 1, 1)
    assert a["docs_with_pii"] == 2
    assert a["pii_doc_frac"] == pytest.approx(round(2 / 3, 6))
    assert (b["n_docs"], b["emails"], b["ips"], b["phones"]) == (1, 0, 2, 0)
    assert b["docs_with_pii"] == 1 and b["pii_doc_frac"] == 1.0


def test_chunk_documents_covers_every_token(spark):
    text = " ".join(f"w{i}" for i in range(150))
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    out = C.chunk_documents(df, chunk_tokens=64, overlap=16)
    rows = sorted(out.collect(), key=lambda r: r.chunk_id)
    # stride 48: last start = 48*ceil((150-64)/48) = 96 -> 3 chunks;
    # a 4th chunk at 144 would duplicate the tail of chunk 2
    assert [r.chunk_id for r in rows] == [0, 1, 2]
    assert [r.n_chunk_tokens for r in rows] == [64, 64, 54]
    # overlap: chunk i+1 starts 16 tokens before chunk i ends
    c0 = rows[0].chunk_text.split(" ")
    c1 = rows[1].chunk_text.split(" ")
    assert c0[-16:] == c1[:16]
    # full coverage: union of chunk tokens == original tokens
    seen = set()
    for r in rows:
        seen.update(r.chunk_text.split(" "))
    assert seen == set(text.split(" "))


def test_chunk_documents_short_and_empty(spark):
    df = spark.createDataFrame([(1, "one two"), (2, "   ")], ["doc_id", "text"])
    rows = C.chunk_documents(df, chunk_tokens=64, overlap=16).collect()
    assert len(rows) == 1 and rows[0].doc_id == 1
    assert rows[0].chunk_text == "one two"
    with pytest.raises(ValueError):
        C.chunk_documents(df, chunk_tokens=16, overlap=16)


def test_vocabulary_and_tf_idf(spark):
    df = spark.createDataFrame(
        [(1, "apple banana apple"), (2, "banana cherry"), (3, "apple")],
        ["doc_id", "text"],
    )
    vocab = {r.token: (r.n_total, r.n_docs) for r in C.vocabulary(df).collect()}
    assert vocab == {"apple": (3, 2), "banana": (2, 2), "cherry": (1, 1)}

    w = {(r.doc_id, r.token): r for r in C.tf_idf(df).collect()}
    # doc 1 'apple': tf=2, df=2, N=3 -> 2 * (ln(4/3)+1)
    want = round(2 * (math.log(4 / 3) + 1), 6)
    assert w[(1, "apple")].tf == 2 and w[(1, "apple")].df == 2
    assert abs(w[(1, "apple")].tf_idf - want) < 1e-9
    # min_df prunes hapax tokens
    pruned = {r.token for r in C.tf_idf(df, min_df=2).collect()}
    assert pruned == {"apple", "banana"}


def test_gopher_quality_flags_repetition(spark):
    clean = " ".join(f"word{i} text" for i in range(30))
    repeated_lines = "same line here\n" * 20 + "unique ending\n"
    repeated_bigram = "buy now " * 50
    df = spark.createDataFrame(
        [(1, clean), (2, repeated_lines), (3, repeated_bigram)],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in C.gopher_quality(df).collect()}
    assert rows[1].passes_gopher
    assert rows[2].dup_line_frac > 0.9 and not rows[2].passes_gopher
    assert rows[3].top_bigram_frac > 0.4 and not rows[3].passes_gopher


def test_decontaminate_flags_shared_shingles(spark):
    secret = "alpha bravo charlie delta echo foxtrot golf hotel"
    train = spark.createDataFrame(
        [
            (10, f"prefix words {secret} suffix words"),
            (11, "completely unrelated text with no overlap at all here"),
        ],
        ["doc_id", "text"],
    )
    eval_df = spark.createDataFrame(
        [(1, f"the eval set contains {secret} verbatim")], ["doc_id", "text"]
    )
    out = {r.doc_id: r for r in C.decontaminate(train, eval_df, n=8).collect()}
    assert out[10].contaminated and out[10].n_hits >= 1
    assert not out[11].contaminated and out[11].n_hits == 0


def test_kmv_exact_branch(spark):
    df = spark.range(0, 40).select(F.col("id").alias("v"))
    row = C.kmv_distinct(df, "v", k=128).collect()[0]
    assert row.n_kept == 40
    assert row.distinct_estimate == 40.0


def test_kmv_estimate_accuracy(spark):
    n = 5000
    df = spark.range(0, n * 3).select((F.col("id") % n).alias("v"))
    row = C.kmv_distinct(df, "v", k=256).collect()[0]
    assert row.n_kept == 256
    # KMV relative error ~ 1/sqrt(k) ≈ 6%; allow 3 sigma
    assert abs(row.distinct_estimate - n) / n < 0.2


def test_c4_line_filter_rules(spark):
    text = "\n".join([
        "This line is long enough and ends properly.",   # keep
        "Short line.",                                    # < 3 words
        "No terminal punctuation here at all",            # keep: no punct rule
        "A brace {template} line ends fine.",             # brace
        'He said "stop right there!"',                    # quote after punct -> keep
        "",                                               # empty: dropped, counted
    ])
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    rows = C.c4_line_filter(df, min_words=3).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.n_lines_total == 6
    assert r.n_lines_kept == 3
    assert r.clean_text.split("\n") == [
        "This line is long enough and ends properly.",
        "No terminal punctuation here at all",
        'He said "stop right there!"',
    ]


def test_c4_line_filter_all_dropped_doc_survives(spark):
    df = spark.createDataFrame([(1, "tiny."), (2, "Good line with words here.")], ["doc_id", "text"])
    got = {r.doc_id: r for r in C.c4_line_filter(df, min_words=3).collect()}
    assert got[1].clean_text == "" and got[1].n_lines_kept == 0
    assert got[2].n_lines_kept == 1


def test_line_dedup_first_occurrence_wins(spark):
    d1 = "alpha beta\nshared line one\nunique to one"
    d2 = "shared line one\nunique to two\nshared line one"
    df = spark.createDataFrame([(1, d1), (2, d2)], ["doc_id", "text"])
    got = {r.doc_id: r for r in C.line_dedup(df).collect()}
    # doc 1 owns the first occurrence of the shared line
    assert got[1].text_deduped.split("\n") == [
        "alpha beta", "shared line one", "unique to one"
    ]
    assert got[1].n_lines_kept == 3
    # doc 2 loses both copies (its first copy loses to doc 1's)
    assert got[2].text_deduped.split("\n") == ["unique to two"]
    assert got[2].n_lines_kept == 1 and got[2].n_lines_total == 3


def test_line_dedup_within_doc_repeats(spark):
    df = spark.createDataFrame([(5, "x y z\nx y z\nx y z")], ["doc_id", "text"])
    r = C.line_dedup(df).collect()[0]
    assert r.text_deduped == "x y z"
    assert r.n_lines_kept == 1 and r.n_lines_total == 3


def test_pack_sequences_two_phase_matches_naive(spark):
    import random

    rng = random.Random(7)
    rows = []
    for d in range(40):
        for c in range(rng.randint(1, 5)):
            rows.append((d, c, rng.randint(5, 64)))
    df = spark.createDataFrame(rows, ["doc_id", "chunk_id", "n_chunk_tokens"])
    # tiny buckets force many phase-2 offsets
    out = {
        (r.doc_id, r.chunk_id): r
        for r in C.pack_training_sequences(df, seq_len=128, bucket_size=7).collect()
    }
    # naive python replay of the defining semantics
    off = 0
    for d, c, n in sorted(rows):
        r = out[(d, c)]
        assert r.seq_id == off // 128, (d, c)
        assert r.start_in_seq == off % 128
        assert r.n_tokens == n
        assert r.crosses_boundary == ((off + n - 1) // 128 > off // 128)
        off += n
    # every sequence is exactly full except the last
    total = sum(n for _, _, n in rows)
    assert max(r.seq_id for r in out.values()) == (total - 1) // 128


def test_mix_sources(spark):
    from xml_to_sqlite3_spark.operators.curation import mix_sources

    rows = [(i, f"src{i % 4}", f"text {i}") for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = mix_sources(
        df, weights={"src0": 2.0, "src1": 1.0, "src2": 1.0}, sample_fraction=0.5
    )
    got = out.groupBy("source").count().collect()
    by_src = {r["source"]: r["count"] for r in got}
    # src3 absent from weights -> dropped entirely
    assert "src3" not in by_src
    # src0 target = 0.5*400*0.5 = 100 = its whole population (rate 1)
    assert by_src["src0"] == 100
    # src1/src2 target = 0.5*400*0.25 = 50 of 100 -> hash-thinned
    for s in ("src1", "src2"):
        assert 30 <= by_src[s] <= 70
    # deterministic: second run identical
    again = {
        r["source"]: r["count"]
        for r in mix_sources(
            df, weights={"src0": 2.0, "src1": 1.0, "src2": 1.0}, sample_fraction=0.5
        ).groupBy("source").count().collect()
    }
    assert again == by_src


def test_cms_merges_by_cell_sum(spark):
    from xml_to_sqlite3_spark.operators.curation import count_min_sketch

    import pyspark.sql.functions as F

    base = spark.range(200).select(
        F.concat(F.lit("k"), (F.col("id") % 7)).alias("v"), "id"
    )
    half1 = base.filter("id < 120").select("v")
    half2 = base.filter("id >= 120").select("v")
    whole = count_min_sketch(base.select("v"), "v", width=16, depth=3)
    s1 = count_min_sketch(half1, "v", width=16, depth=3)
    s2 = count_min_sketch(half2, "v", width=16, depth=3)
    merged = (
        s1.unionByName(s2)
        .groupBy("row", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, whole.collect()))


def test_skew_report_values(spark):
    from xml_to_sqlite3_spark.operators.skew import skew_report

    rows = [("hot",)] * 90 + [("warm",)] * 8 + [("cold",)] * 2
    df = spark.createDataFrame(rows, ["k"])
    out = {r["key"]: r for r in skew_report(df, "k", top=3).collect()}
    assert out["hot"]["cnt"] == 90
    # mean load = 100/3; hot's ratio = 90/(100/3) = 2.7
    assert abs(out["hot"]["skew_ratio"] - 2.7) < 1e-9
    assert out["hot"]["suggested_salt"] == 3
    assert abs(out["hot"]["share"] - 0.9) < 1e-9
    assert out["cold"]["suggested_salt"] == 1


def test_merge_upsert_insert_update_delete_and_last_writer(spark):
    from xml_to_sqlite3_spark.operators.curation import merge_upsert

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["doc_id", "v"]
    )
    changes = spark.createDataFrame(
        [
            (2, "b2", "upsert"),   # update
            (3, None, "delete"),   # delete
            (4, "d", "upsert"),    # insert (new key)
            (4, "d2", "upsert"),   # later change to same key wins
        ],
        ["doc_id", "v", "op"],
    )
    out = {r["doc_id"]: r["v"] for r in merge_upsert(base, changes).collect()}
    assert out == {1: "a", 2: "b2", 4: "d2"}


def test_merge_upsert_rejects_missing_value_columns(spark):
    import pytest as _pytest

    from xml_to_sqlite3_spark.operators.curation import merge_upsert

    base = spark.createDataFrame([(1, "a", "x")], ["doc_id", "v", "w"])
    changes = spark.createDataFrame([(1, "b", "upsert")], ["doc_id", "v", "op"])
    with _pytest.raises(ValueError, match="missing value columns"):
        merge_upsert(base, changes)


def test_scd2_ranges_are_contiguous_and_versioned(spark):
    from datetime import datetime

    from xml_to_sqlite3_spark.operators.curation import scd2_build

    rows = [
        (1, datetime(2024, 1, 1), "bronze"),
        (1, datetime(2024, 2, 1), "silver"),
        (1, datetime(2024, 3, 1), "gold"),
        (2, datetime(2024, 1, 15), "bronze"),
    ]
    df = spark.createDataFrame(rows, ["key", "ts", "value"])
    out = scd2_build(df).orderBy("key", "valid_from").collect()
    u1 = [r for r in out if r["key"] == 1]
    assert [r["value"] for r in u1] == ["bronze", "silver", "gold"]
    # each version closes exactly where the next opens
    assert u1[0]["valid_to"] == u1[1]["valid_from"]
    assert u1[1]["valid_to"] == u1[2]["valid_from"]
    assert u1[2]["valid_to"] is None and u1[2]["is_current"]
    assert not u1[0]["is_current"]
    u2 = [r for r in out if r["key"] == 2]
    assert len(u2) == 1 and u2[0]["is_current"]


def test_equi_depth_histogram_exact(spark):
    from xml_to_sqlite3_spark.operators.curation import equi_depth_histogram

    # 100 rows of values 0..99 -> 4 buckets of exactly 25
    df = spark.range(100).select(F.col("id").cast("double").alias("x"))
    rows = equi_depth_histogram(df, "x", n_buckets=4, round_to=0).collect()
    assert [(r["bucket"], r["lo"], r["hi"], r["n_rows"]) for r in rows] == [
        (0, 0.0, 24.0, 25),
        (1, 25.0, 49.0, 25),
        (2, 50.0, 74.0, 25),
        (3, 75.0, 99.0, 25),
    ]
    # a heavy value straddling a boundary lands wholly in one bucket
    skewed = spark.createDataFrame(
        [(float(v),) for v in [1] * 60 + [2] * 20 + [3] * 20], ["x"]
    )
    rows = {r["bucket"]: r for r in equi_depth_histogram(skewed, "x", n_buckets=2, round_to=0).collect()}
    assert rows[0]["n_rows"] == 60 and rows[0]["hi"] == 1.0
    assert rows[1]["n_rows"] == 40 and rows[1]["lo"] == 2.0


def test_decimal_sum_exactness_property(spark):
    """The decimal-accumulation policy (tpch_shapes._exact_disc_price,
    similarity's JL accumulator) must equal an independent python
    Decimal model on arbitrary 2-decimal inputs — the invariant that
    makes revenue sums bit-identical at any cluster size."""
    from decimal import ROUND_HALF_UP, Decimal

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pyspark.sql import functions as F

    q2 = Decimal("0.01")
    q4 = Decimal("0.0001")

    @settings(max_examples=15, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.decimals(min_value=0, max_value=99999, places=2),
                st.decimals(min_value=0, max_value=Decimal("0.10"), places=2),
            ),
            min_size=1,
            max_size=30,
        )
    )
    def check(rows):
        df = spark.createDataFrame(
            [(float(p), float(d)) for p, d in rows],
            "l_extendedprice double, l_discount double",
        )
        got = (
            df.agg(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,4)")
                    * (F.lit(1) - F.col("l_discount")).cast("decimal(18,4)")
                ).alias("s")
            ).collect()[0]["s"]
        )
        want = sum(
            Decimal(repr(float(p))).quantize(q4, ROUND_HALF_UP)
            * Decimal(repr(1 - float(d))).quantize(q4, ROUND_HALF_UP)
            for p, d in rows
        )
        assert got == want, (got, want)

    check()


def test_line_dedup_keeps_all_blank_documents(spark):
    from xml_to_sqlite3_spark.operators.curation import line_dedup

    df = spark.createDataFrame(
        [(1, "keep me\nand me"), (2, "\n \n"), (3, "")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in line_dedup(df).collect()}
    assert set(out) == {1, 2, 3}
    assert out[2]["text_deduped"] == "" and out[2]["n_lines_kept"] == 0
    assert out[3]["text_deduped"] == "" and out[3]["n_lines_total"] == 1


def test_merge_upsert_null_or_unknown_op_upserts(spark):
    from xml_to_sqlite3_spark.operators.curation import merge_upsert

    base = spark.createDataFrame([(1, "a"), (2, "b")], ["doc_id", "v"])
    changes = spark.createDataFrame(
        [(1, "a2", None), (2, "b2", "DELETE")], "doc_id long, v string, op string"
    )
    out = {r["doc_id"]: r["v"] for r in merge_upsert(base, changes).collect()}
    # NULL op must not silently delete; 'DELETE' (any case) deletes
    assert out == {1: "a2"}


def test_kmv_and_histogram_ignore_nulls(spark):
    from xml_to_sqlite3_spark.operators.curation import (
        equi_depth_histogram,
        kmv_distinct,
    )

    df = spark.createDataFrame(
        [(None,)] * 5 + [(float(i),) for i in range(10)], "x double"
    )
    row = kmv_distinct(df, "x", k=128).collect()[0]
    assert row["n_kept"] == 10 and row["distinct_estimate"] == 10.0
    buckets = equi_depth_histogram(df, "x", n_buckets=2, round_to=0).collect()
    assert sum(r["n_rows"] for r in buckets) == 10
    assert all(r["lo"] is not None for r in buckets)


def test_kmv_daily_merge_equals_from_raw(spark):
    """The weekly KMV built by re-minning per-day k-min sketches must
    equal the weekly KMV computed directly from raw events — the
    exact-mergeability property that lets day sketches roll up
    without touching raw data again."""
    from pyspark.sql import Window as W

    from xml_to_sqlite3_spark.io_util import load
    from xml_to_sqlite3_spark.operators.curation import stable_hash60
    from xml_to_sqlite3_spark.plans.olap_ext import kmv_daily

    sf = "/root/testdata/sf0.001"
    k = 64
    ev = load(spark, sf, "events").withColumn(
        "week", F.date_trunc("week", F.col("ts")).cast("date")
    )
    wh = ev.select(
        "week", stable_hash60(F.col("user_id").cast("string")).alias("h")
    ).distinct()
    ww = W.partitionBy("week").orderBy("h")
    direct = {
        (r["week"], r["rn"]): r["h"]
        for r in wh.withColumn("rn", F.row_number().over(ww))
        .filter(F.col("rn") <= k)
        .collect()
    }
    merged_rows = kmv_daily(spark, sf).collect()
    assert merged_rows, "no weeks produced"
    for r in merged_rows:
        # min_hash and n_kept must match the from-raw weekly sketch
        assert r["min_hash"] == direct[(r["week"], 1)]
        n_direct = sum(1 for (wk, _rn) in direct if wk == r["week"])
        assert r["n_kept"] == n_direct


def test_hll_registers_merge_and_error(spark):
    """HLL mergeability: the union's register table equals the
    per-register MAX of the parts' tables; the estimate lands within
    the standard-error envelope on datasets spanning both the
    small-range-correction and raw-formula regimes."""
    from xml_to_sqlite3_spark.operators.curation import hll_distinct, hll_registers

    a = spark.range(0, 400).selectExpr("concat('u', id) AS v")
    b = spark.range(300, 900).selectExpr("concat('u', id) AS v")
    u = a.unionByName(b)

    ra = {r["register"]: r["rho"] for r in hll_registers(a, "v").collect()}
    rb = {r["register"]: r["rho"] for r in hll_registers(b, "v").collect()}
    ru = {r["register"]: r["rho"] for r in hll_registers(u, "v").collect()}
    assert ru == {k: max(ra[k], rb[k]) for k in ra}

    # error envelope: sigma ~= 1.04/sqrt(m) = 13% at m=64; allow 4
    # sigma on fixed data (deterministic, so this never flakes)
    for df, n in ((a, 400), (u, 900), (spark.range(0, 30).selectExpr("concat('s', id) AS v"), 30)):
        row = hll_distinct(df, "v").collect()[0]
        assert row["exact_distinct"] == n
        assert abs(row["hll_estimate"] - n) / n < 0.52, row


def test_builtin_approx_vs_exact_twins(spark):
    """Spark's built-in approx aggregates benchmarked against their
    exact oracled twins: approx_count_distinct vs countDistinct and
    approx_percentile vs exact percentile stay within their
    documented error on the events table (the built-ins' binary
    sketches are not SQL-replayable, so their gate-grade proof is
    this tolerance check against the exact twins the gate DOES
    hash)."""
    from xml_to_sqlite3_spark.io_util import load

    ev = load(spark, "/root/testdata/sf0.001", "events")
    row = ev.agg(
        F.countDistinct("user_id").alias("exact"),
        F.approx_count_distinct("user_id", rsd=0.05).alias("approx"),
        F.expr("percentile(value, 0.5)").alias("p50_exact"),
        F.expr("approx_percentile(value, 0.5, 10000)").alias("p50_approx"),
    ).collect()[0]
    assert abs(row["approx"] - row["exact"]) / row["exact"] <= 0.15
    span = ev.agg(F.max("value") - F.min("value")).collect()[0][0]
    assert abs(row["p50_approx"] - row["p50_exact"]) <= max(0.05 * span, 1e-9)


def test_dsir_weights_favor_target_like_docs(spark):
    """DSIR sanity on a synthetic corpus whose target slice (t*) is
    part of the raw corpus: documents written in the target's
    vocabulary must out-weigh documents from a disjoint vocabulary,
    and the deterministic Gumbel-top-k keeps exactly k docs (unique
    keys)."""
    from xml_to_sqlite3_spark.operators.curation import dsir_select

    raw_rows = [(f"t{i}", "the quick brown fox jumps over the lazy dog") for i in range(20)]
    raw_rows += [(f"{100 + i}", "the quick brown fox jumps again and again") for i in range(10)]
    raw_rows += [(f"{200 + i}", "zzz qqq xxx vvv kkk www nnn mmm ppp") for i in range(10)]
    raw = spark.createDataFrame(raw_rows, "doc_id string, text string")
    out = dsir_select(
        raw, raw.filter(F.col("doc_id").startswith("t")).select("doc_id"),
        n_buckets=256, k=10,
    ).collect()
    rows = {r["doc_id"]: r for r in out}
    assert len(rows) == 40
    lw_target = [rows[f"t{i}"]["log_weight"] for i in range(20)]
    lw_target_like = [rows[str(100 + i)]["log_weight"] for i in range(10)]
    lw_junk = [rows[str(200 + i)]["log_weight"] for i in range(10)]
    assert min(lw_target) > max(lw_target_like)
    assert min(lw_target_like) > max(lw_junk)
    assert sum(1 for r in out if r["selected"]) == 10
    # with identical weights per group the Gumbel hash breaks ties —
    # but the junk docs must stay out of the selection
    assert not any(rows[str(200 + i)]["selected"] for i in range(10))


def test_hll_daily_merge_equals_from_raw(spark):
    """Weekly HLL registers built by per-register MAX over the day
    sketches must equal registers computed directly from the raw
    week — the mergeability property that lets day sketches roll up
    without re-reading events."""
    from xml_to_sqlite3_spark.io_util import load
    from xml_to_sqlite3_spark.operators.curation import hll_registers
    from xml_to_sqlite3_spark.plans.olap_ext import hll_daily

    sf = "/root/testdata/sf0.001"
    ev = load(spark, sf, "events").filter(F.col("user_id").isNotNull())
    weeks = sorted(
        r["week"]
        for r in ev.select(
            F.date_trunc("week", "ts").cast("date").alias("week")
        ).distinct().collect()
    )
    rolled = {(r["week"]): r for r in hll_daily(spark, sf).collect()}
    assert sorted(rolled) == weeks
    for wk in weeks:
        raw_week = ev.filter(
            F.date_trunc("week", "ts").cast("date") == F.lit(wk)
        ).select(F.col("user_id").cast("string").alias("u"))
        direct = {
            r["register"]: r["rho"]
            for r in hll_registers(raw_week, "u").collect()
        }
        # n_zero from the rolled-up sketch must match the from-raw one
        assert rolled[wk]["n_zero"] == sum(1 for v in direct.values() if v == 0)
        exact = raw_week.distinct().count()
        assert rolled[wk]["exact_distinct"] == exact


class TestBloomFilter:
    def test_no_false_negatives_and_bounded_fpr(self, spark):
        from xml_to_sqlite3_spark.operators.curation import bloom_bits, bloom_filter

        members = spark.range(0, 200).select(
            F.concat(F.lit("in_"), F.col("id")).alias("v")
        )
        probes = spark.range(0, 1000).select(
            F.concat(F.lit("out_"), F.col("id")).alias("v")
        )
        bits = bloom_bits(members, "v", m_bits=4096, k=3)
        # every inserted value must pass (Bloom's defining guarantee)
        hits = bloom_filter(members, "v", bits, m_bits=4096, k=3)
        assert hits.count() == 200
        # non-members pass only by collision; with n=200, m=4096, k=3
        # theory gives ~0.3% FPR — allow a generous 5% ceiling
        fp = bloom_filter(probes, "v", bits, m_bits=4096, k=3).count()
        assert fp <= 50, f"false-positive rate implausibly high: {fp}/1000"

    def test_mergeable_by_union(self, spark):
        from xml_to_sqlite3_spark.operators.curation import bloom_bits

        a = spark.range(0, 50).select(F.concat(F.lit("a"), F.col("id")).alias("v"))
        b = spark.range(0, 50).select(F.concat(F.lit("b"), F.col("id")).alias("v"))
        merged = (
            bloom_bits(a, "v", 1024, 3)
            .unionByName(bloom_bits(b, "v", 1024, 3))
            .distinct()
        )
        direct = bloom_bits(a.unionByName(b), "v", 1024, 3)
        assert sorted(r["bit"] for r in merged.collect()) == sorted(
            r["bit"] for r in direct.collect()
        )


class TestLengthBucketedBatches:
    def test_partition_and_padding_invariants(self, spark):
        from xml_to_sqlite3_spark.operators.curation import (
            length_bucketed_batches,
        )

        docs = spark.range(0, 333).select(
            F.col("id").alias("doc_id"),
            (F.pmod(F.col("id") * 37, 500) + 1).alias("n_tokens"),
        )
        out = length_bucketed_batches(
            docs, tokens_col="n_tokens", batch_size=8, bucket_width=64
        ).collect()
        # every doc assigned exactly once
        assert len(out) == 333
        assert len({r["doc_id"] for r in out}) == 333
        by_batch: dict = {}
        for r in out:
            by_batch.setdefault(r["batch_id"], []).append(r)
        for rows in by_batch.values():
            assert len(rows) <= 8
            assert len(rows) == rows[0]["batch_n"]
            # one bucket per batch; max matches; padding in [0, 1)
            assert len({r["bucket"] for r in rows}) == 1
            mx = max(r["n_tokens"] for r in rows)
            assert all(r["batch_max_tokens"] == mx for r in rows)
            assert all(0.0 <= r["padding_frac"] < 1.0 for r in rows)
            # similar lengths: within a width-64 bucket the spread is
            # bounded by the bucket width
            assert mx - min(r["n_tokens"] for r in rows) < 64


def test_source_overlap_matrix(spark):
    rows = [
        (1, "shared text one", "a"),
        (2, "Shared   Text One", "b"),   # normalizes equal to doc 1
        (3, "only in a", "a"),
        (4, "only in b", "b"),
        (5, "only in c", "c"),
        (6, "shared text one", "c"),
        (7, None, "c"),                   # null text -> null hash row
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {(r["source_a"], r["source_b"]): r for r in C.source_overlap(df).collect()}
    # complete matrix: all 3 pairs present even with zero overlap
    assert set(out) == {("a", "b"), ("a", "c"), ("b", "c")}
    ab = out[("a", "b")]
    assert (ab["n_a"], ab["n_b"], ab["n_shared"]) == (2, 2, 1)
    assert ab["jaccard"] == round(1 / 3, 6)
    ac = out[("a", "c")]
    # c has 3 distinct rows: 'only in c', 'shared text one', null-hash
    assert (ac["n_a"], ac["n_b"], ac["n_shared"]) == (2, 3, 1)
    bc = out[("b", "c")]
    assert bc["n_shared"] == 1  # nulls never equi-join


def test_bigram_logprob_matches_python_model(spark):
    import math

    texts = {1: "a b a b", 2: "a b", 3: "b a", 4: "x", 5: ""}
    df = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    from xml_to_sqlite3_spark.operators.text import bigram_logprob

    out = {r["doc_id"]: r for r in bigram_logprob(df, alpha=0.5).collect()}
    # python model
    pairs: dict = {}
    per_doc: dict = {}
    for i, t in texts.items():
        w = t.split()
        ps = list(zip(w, w[1:]))
        if ps:
            per_doc[i] = ps
        for p in ps:
            pairs[p] = pairs.get(p, 0) + 1
    prev: dict = {}
    for (a, _b), c in pairs.items():
        prev[a] = prev.get(a, 0) + c
    v = len({b for (_a, b) in pairs})
    # single-token and empty docs excluded
    assert set(out) == set(per_doc)
    for i, ps in per_doc.items():
        lps = [
            round(
                math.log((pairs[p] + 0.5) / (prev[p[0]] + 0.5 * (v + 1))), 9
            )
            for p in ps
        ]
        assert out[i]["n_bigrams"] == len(ps)
        assert out[i]["avg_logprob"] == pytest.approx(
            round(sum(lps) / len(lps), 6), abs=2e-6
        )


def test_stratified_sample_balance_and_determinism(spark):
    rows = [(i, i) for i in range(1000)]  # strata_col == doc_id value
    df = spark.createDataFrame(rows, "doc_id long, n long")
    out = C.stratified_sample(
        df, strata_col="n", key_col="doc_id", target_per_stratum=50, n_strata=4
    ).collect()
    by_s: dict = {}
    for r in out:
        by_s.setdefault(r["stratum"], []).append(r["doc_id"])
    assert set(by_s) == {0, 1, 2, 3}
    for s, ids in by_s.items():
        # binomial(250, 0.2): well within [20, 85]
        assert 20 <= len(ids) <= 85
        # stratum correctness: quartile thresholds of 0..999
        lo, hi = s * 250, s * 250 + 249
        assert all(lo <= i <= hi + 1 for i in ids)
    # deterministic: second run identical
    again = C.stratified_sample(
        df, strata_col="n", key_col="doc_id", target_per_stratum=50, n_strata=4
    ).collect()
    assert sorted(r["doc_id"] for r in out) == sorted(r["doc_id"] for r in again)


def test_exact_percentiles_match_spark_percentile(spark):
    # the sketch-then-refine formulation must reproduce Spark's exact
    # `percentile` (rank = p*(n-1), linear interpolation) bit-for-bit
    # on awkward shapes: duplicates, integral ranks, single-row
    # groups, nulls
    import random

    rng = random.Random(7)
    rows = []
    for g, n in (("a", 137), ("b", 64), ("c", 1)):
        for _ in range(n):
            rows.append((g, round(rng.uniform(0, 100), 1)))
    rows += [("a", 50.0)] * 25  # heavy duplicate value
    rows += [("b", None)] * 5  # nulls excluded on both paths
    df = spark.createDataFrame(rows, "g string, v double")
    ps = [0.0, 0.05, 0.25, 0.5, 0.9, 1.0]
    got = {
        (r["g"], r["tag"]): r["value"]
        for r in C.exact_percentiles(
            df, "v", ps, group_cols=["g"], tags=[f"t{i}" for i in range(len(ps))]
        ).collect()
    }
    qs = ", ".join(str(p) for p in ps)
    want_rows = df.groupBy("g").agg(
        F.expr(f"percentile(v, array({qs}))").alias("th")
    ).collect()
    for r in want_rows:
        for i, w in enumerate(r["th"]):
            assert got[(r["g"], f"t{i}")] == w, (r["g"], i, got[(r["g"], f"t{i}")], w)
    # ungrouped path
    got1 = {
        r["tag"]: r["value"]
        for r in C.exact_percentiles(df, "v", [0.5], tags=["med"]).collect()
    }
    want1 = df.agg(F.expr("percentile(v, 0.5)").alias("m")).collect()[0]["m"]
    assert got1["med"] == want1


def test_exact_percentiles_all_null_group_kept_as_null(spark):
    # builtin/`quantile_cont` parity on nullable columns: a group
    # whose values are ALL NULL must appear with NULL percentiles,
    # not vanish (r9 ADVICE: the null-filter-first formulation
    # dropped it — a silent oracle divergence)
    rows = [("a", 1.0), ("a", 3.0), ("b", None), ("b", None)]
    df = spark.createDataFrame(rows, "g string, v double")
    got = {
        (r["g"], r["tag"]): r["value"]
        for r in C.exact_percentiles(
            df, "v", [0.5, 0.9], group_cols=["g"], tags=["p50", "p90"]
        ).collect()
    }
    want = {
        (r["g"], f"p{int(p * 100)}"): (r["th"][i] if r["th"] is not None else None)
        for r in df.groupBy("g")
        .agg(F.expr("percentile(v, array(0.5, 0.9))").alias("th"))
        .collect()
        for i, p in enumerate((0.5, 0.9))
    }
    assert got == want
    assert got[("b", "p50")] is None and got[("b", "p90")] is None
    # ungrouped all-NULL input: one NULL row per tag, like the builtin
    dfn = spark.createDataFrame([(None,), (None,)], "v double")
    got1 = {
        r["tag"]: r["value"]
        for r in C.exact_percentiles(dfn, "v", [0.5], tags=["med"]).collect()
    }
    assert got1 == {"med": None}


def test_exact_percentiles_null_group_key_kept(spark):
    # r16 review finding (latent since r8): a NULL GROUP KEY with
    # non-null values is a real group to the builtin `percentile` /
    # quantile_cont, but the band join's plain == equality never
    # matched its band row, so the group silently vanished. The join
    # is null-safe now; pin builtin parity for the NULL-keyed group.
    rows = [("a", 1.0), ("a", 3.0), (None, 10.0), (None, 20.0), (None, None)]
    df = spark.createDataFrame(rows, "g string, v double")
    got = {
        (r["g"], r["tag"]): r["value"]
        for r in C.exact_percentiles(
            df, "v", [0.5], group_cols=["g"], tags=["p50"]
        ).collect()
    }
    want = {
        (r["g"], "p50"): r["th"]
        for r in df.groupBy("g")
        .agg(F.expr("percentile(v, 0.5)").alias("th"))
        .collect()
    }
    assert got == want
    assert got[(None, "p50")] == 15.0


def test_exact_percentiles_empty_input_preserves_group_types(spark):
    # the empty-input short-circuit must return the REAL group-column
    # types (a long group key came back `string` before r9) so a
    # union/join with a non-empty result never schema-mismatches
    df = spark.createDataFrame([], "g bigint, v double")
    out = C.exact_percentiles(df, "v", [0.5], group_cols=["g"])
    assert out.count() == 0
    assert dict(out.dtypes) == {"g": "bigint", "tag": "string", "value": "double"}


def test_exact_percentiles_rejects_unbounded_group_cardinality(spark, monkeypatch):
    # the helper collects one row per group; the guard must fail
    # loudly on a high-cardinality grouping instead of collecting
    # unbounded rows driver-side
    monkeypatch.setattr(C, "_MAX_PCT_GROUPS", 10)
    df = spark.range(0, 50).select(
        F.col("id").alias("g"), (F.col("id") * 1.5).alias("v")
    )
    with pytest.raises(ValueError, match="more than 10 groups"):
        C.exact_percentiles(df, "v", [0.5], group_cols=["g"])


class TestTopNgramRepetition:
    def test_repeated_phrase_dominates(self, spark):
        from xml_to_sqlite3_spark.operators.text import top_ngram_repetition

        df = spark.createDataFrame(
            [
                # "buy now" appears 3x in 8 tokens -> clearly flagged
                (1, "buy now buy now buy now and more"),
                (2, "all distinct words in here without any repeats whatsoever today friend"),
                (3, "one"),          # single token: no 2-gram
                (4, "ha ha"),        # one 2-gram covering most chars
            ],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r for r in top_ngram_repetition(df).collect()}
        assert out[1]["top_gram"] == "buy now"
        assert out[1]["top_cnt"] == 3
        # 3 * len("buy now")=7 chars over len("buy now ... more")=32
        assert out[1]["top_frac"] == pytest.approx(round(21 / 32, 6))
        assert out[1]["keep"] is False
        assert out[2]["top_cnt"] == 1 and out[2]["keep"] is True
        assert out[3]["top_gram"] is None
        assert out[3]["top_cnt"] == 0 and out[3]["top_frac"] == 0.0
        assert out[4]["top_gram"] == "ha ha"
        assert out[4]["top_frac"] == pytest.approx(1.0)

    def test_overlapping_repeats_cap_at_one(self, spark):
        from xml_to_sqlite3_spark.operators.text import top_ngram_repetition

        # "ha ha ha": top 2-gram "ha ha" occurs twice (overlapping),
        # raw ratio 2 * 5 / 8 = 1.25 — must report the 1.0 cap
        # (r11 ADVICE: occurrences double-count shared characters)
        df = spark.createDataFrame(
            [(1, "ha ha ha")], "doc_id long, text string"
        )
        row = top_ngram_repetition(df).collect()[0]
        assert row["top_gram"] == "ha ha"
        assert row["top_cnt"] == 2
        assert row["top_frac"] == pytest.approx(1.0)
        assert row["keep"] is False

    def test_tie_breaks_on_gram_ascending(self, spark):
        from xml_to_sqlite3_spark.operators.text import top_ngram_repetition

        # "a b" and "b a" both appear twice -> "a b" wins the tie
        df = spark.createDataFrame(
            [(1, "a b a b a")], "doc_id long, text string"
        )
        row = top_ngram_repetition(df).collect()[0]
        assert row["top_gram"] == "a b"
        assert row["top_cnt"] == 2


class TestWeightedSample:
    def _replica_key(self, doc_id, w):
        h = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16)
        u = (h + 0.5) / float(1 << 60)
        return round(math.log(w) - math.log(-math.log(u)), 6)

    def test_matches_python_replica_per_group(self, spark):
        rows = [(i, f"g{i % 2}", (i % 7) + 1) for i in range(30)]
        df = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
        out = C.weighted_sample(
            df, weight_col="n_chars", k=3, key="doc_id", group_col="source"
        ).collect()
        keys = {i: self._replica_key(i, w) for i, g, w in rows}
        expect_sel = set()
        for g in ("g0", "g1"):
            members = [(keys[i], -i) for i, gg, w in rows if gg == g]
            members.sort(reverse=True)
            expect_sel |= {-neg for _, neg in members[:3]}
        for r in out:
            assert r["sample_key"] == pytest.approx(keys[r["doc_id"]], abs=1e-6)
            assert r["selected"] is (r["doc_id"] in expect_sel), r

    def test_exactly_k_selected_per_group(self, spark):
        rows = [(i, f"g{i % 3}", 100) for i in range(24)]
        df = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
        out = C.weighted_sample(df, "n_chars", 4, group_col="source")
        per = (
            out.filter("selected").groupBy("source").count().collect()
        )
        assert sorted((r["source"], r["count"]) for r in per) == [
            ("g0", 4), ("g1", 4), ("g2", 4)
        ]

    def test_nonpositive_weights_never_selected(self, spark):
        df = spark.createDataFrame(
            [(1, "g", 10), (2, "g", 0), (3, "g", -5), (4, "g", None)],
            "doc_id long, source string, n_chars long",
        )
        out = {r["doc_id"]: r for r in C.weighted_sample(
            df, "n_chars", 3, group_col="source"
        ).collect()}
        assert out[1]["selected"] is True
        for i in (2, 3, 4):
            assert out[i]["sample_key"] is None
            assert out[i]["selected"] is False


class TestTemperatureMix:
    def test_alpha_flattens_toward_uniform(self, spark):
        # head source 80 docs, tail 10+10: alpha<1 must UP-sample tails
        rows = (
            [(i, "big", 10) for i in range(80)]
            + [(100 + i, "small_a", 10) for i in range(10)]
            + [(200 + i, "small_b", 10) for i in range(10)]
        )
        df = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
        out = {r["source"]: r for r in C.temperature_mix(df, "n_chars", alpha=0.7).collect()}
        assert out["big"]["raw_share"] == pytest.approx(0.8)
        assert out["big"]["temp_share"] < out["big"]["raw_share"]
        assert out["small_a"]["boost"] > 1.0
        assert out["big"]["boost"] < 1.0
        assert sum(r["temp_share"] for r in out.values()) == pytest.approx(1.0, abs=1e-5)

    def test_alpha_one_is_identity(self, spark):
        rows = [(i, f"s{i % 3}", (i + 1) * 5) for i in range(12)]
        df = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
        out = C.temperature_mix(df, "n_chars", alpha=1.0).collect()
        for r in out:
            assert r["boost"] == pytest.approx(1.0, abs=1e-5)
            assert r["temp_share"] == pytest.approx(r["raw_share"], abs=1e-5)

    def test_weighting_by_column_vs_rows(self, spark):
        # one source has few but HUGE docs: char weighting must see it
        # (by rows it would hold 1/3 of the mix)
        rows = [(1, "few_big", 1000), (2, "many_small", 10), (3, "many_small", 10)]
        df = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
        by_chars = {r["source"]: r["raw_share"] for r in C.temperature_mix(df, "n_chars").collect()}
        assert by_chars["few_big"] == pytest.approx(1000 / 1020, abs=1e-5)


def test_temperature_mix_zero_weight_source_null_boost(spark):
    # a source whose weights sum to 0 (empty docs) must yield NULL
    # boost, not an ANSI DIVIDE_BY_ZERO abort (review finding)
    df = spark.createDataFrame(
        [(1, "live", 100), (2, "live", 50), (3, "empty", 0), (4, "empty", 0)],
        "doc_id long, source string, n_chars long",
    )
    out = {r["source"]: r for r in C.temperature_mix(df, "n_chars").collect()}
    assert out["empty"]["boost"] is None
    assert out["empty"]["raw_share"] == 0.0
    assert out["live"]["boost"] is not None


class TestPsiDrift:
    @staticmethod
    def _replica(ref, cur, bins=4, eps=1e-6):
        mn, mx = min(ref), max(ref)
        width = max((mx - mn) / bins, eps)
        def b(x):
            return min(bins - 1, max(0, math.floor((x - mn) / width)))
        rc = [0.0] * bins
        cc = [0.0] * bins
        for x in ref:
            rc[b(x)] += 1
        for x in cur:
            cc[b(x)] += 1
        out = []
        for i in range(bins):
            rf = max(rc[i] / len(ref), eps)
            cf = max(cc[i] / len(cur), eps)
            out.append((rf, cf, (cf - rf) * (math.log(cf) - math.log(rf))))
        return out

    def test_matches_python_replica(self, spark):
        from xml_to_sqlite3_spark.operators.curation import psi_drift

        ref_vals = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 2.5, 3.5]
        cur_vals = [5.0, 6.0, 7.0, 8.0, 9.0, 10.0, 7.5, 6.5]  # shifted right
        ref = spark.createDataFrame([(x,) for x in ref_vals], "value double")
        cur = spark.createDataFrame([(x,) for x in cur_vals], "value double")
        got = psi_drift(ref, cur, bins=4).collect()
        want = self._replica(ref_vals, cur_vals, bins=4)
        assert [r["bin"] for r in got] == [0, 1, 2, 3]
        total = round(sum(t for _, _, t in want), 6)
        for r, (rf, cf, term) in zip(got, want):
            assert r["ref_frac"] == pytest.approx(round(rf, 6), abs=1e-6)
            assert r["cur_frac"] == pytest.approx(round(cf, 6), abs=1e-6)
            assert r["psi_term"] == pytest.approx(round(term, 6), abs=1e-6)
            assert r["psi_total"] == pytest.approx(total, abs=1e-6)
        # a right-shifted current window is MAJOR drift; out-of-range
        # mass clamps into the top bin instead of disappearing
        assert got[0]["psi_total"] > 0.25
        assert got[3]["cur_frac"] > got[3]["ref_frac"]

    def test_identical_windows_are_stable(self, spark):
        from xml_to_sqlite3_spark.operators.curation import psi_drift

        vals = [float(i % 20) for i in range(200)]
        df = spark.createDataFrame([(x,) for x in vals], "value double")
        got = psi_drift(df, df, bins=10).collect()
        assert all(r["psi_total"] == pytest.approx(0.0, abs=1e-6) for r in got)

    def test_empty_bin_contributes_finite_penalty(self, spark):
        from xml_to_sqlite3_spark.operators.curation import psi_drift

        ref = spark.createDataFrame([(x,) for x in (0.0, 1.0, 2.0, 3.0)], "value double")
        cur = spark.createDataFrame([(0.1,), (0.2,)], "value double")
        got = psi_drift(ref, cur, bins=4).collect()
        assert all(math.isfinite(r["psi_term"]) for r in got)
        assert got[3]["cur_frac"] == pytest.approx(1e-6)


def test_psi_drift_empty_window_raises(spark):
    """ADVICE r12: an empty reference (or current) window must fail
    loudly, not publish a silent NaN psi_total (0/0 fractions; Spark's
    greatest(NaN, eps) stays NaN)."""
    import pytest as _pytest

    from xml_to_sqlite3_spark.operators.curation import psi_drift

    full = spark.createDataFrame([(float(i),) for i in range(20)], "value double")
    empty = spark.createDataFrame([], "value double")
    with _pytest.raises(ValueError, match="reference window has zero rows"):
        psi_drift(empty, full)
    with _pytest.raises(ValueError, match="current window has zero rows"):
        psi_drift(full, empty)


class TestKsDrift:
    def test_matches_scipy_style_replica(self, spark):
        """Hand replica: exact two-sample KS over small samples,
        including ties across and within samples."""
        from xml_to_sqlite3_spark.operators.curation import ks_drift

        ref_vals = [1.0, 2.0, 2.0, 3.0, 5.0, 8.0]
        cur_vals = [2.0, 4.0, 4.0, 6.0, 9.0]
        ref = spark.createDataFrame([(v,) for v in ref_vals], "value double")
        cur = spark.createDataFrame([(v,) for v in cur_vals], "value double")
        row = ks_drift(ref, cur).collect()[0]

        pts = sorted(set(ref_vals + cur_vals))
        best = max(
            (
                abs(
                    sum(v <= x for v in ref_vals) / len(ref_vals)
                    - sum(v <= x for v in cur_vals) / len(cur_vals)
                )
                for x in pts
            )
        )
        assert row["ks_stat"] == pytest.approx(round(best, 6), abs=1e-9)
        assert (row["n_ref"], row["n_cur"]) == (6, 5)
        # at_value is the SMALLEST point attaining the sup
        attain = [
            x
            for x in pts
            if abs(
                sum(v <= x for v in ref_vals) / 6
                - sum(v <= x for v in cur_vals) / 5
            )
            == best
        ]
        assert row["at_value"] == attain[0]

    def test_identical_windows_zero(self, spark):
        from xml_to_sqlite3_spark.operators.curation import ks_drift

        df = spark.createDataFrame([(float(i % 7),) for i in range(50)], "value double")
        row = ks_drift(df, df).collect()[0]
        assert row["ks_stat"] == 0.0

    def test_empty_window_raises(self, spark):
        import pytest as _pytest

        from xml_to_sqlite3_spark.operators.curation import ks_drift

        full = spark.createDataFrame([(1.0,), (2.0,)], "value double")
        empty = spark.createDataFrame([], "value double")
        with _pytest.raises(ValueError, match="reference window has zero"):
            ks_drift(empty, full)
        with _pytest.raises(ValueError, match="current window has zero"):
            ks_drift(full, empty)


def test_events_ks_drift_null_midpoint_parity(spark, tmp_path):
    """ADVICE r13 (latent): a NULL-valued row holding the min or max
    event_id must not skew the split midpoint — the oracle derives mid
    from value-non-null rows, and the Spark plan now filters the same
    way. Synthesizes an events table where BOTH extremes are
    null-valued (mid over all rows would differ) and pins hash parity."""
    from tests.oracle_harness import compare
    from xml_to_sqlite3_spark.plans.olap_ext import (
        EVENTS_KS_ORACLE,
        events_ks_drift,
    )

    rows = [(0, None), (1000, None)] + [
        (i, float(i % 7) + (3.0 if i >= 300 else 0.0)) for i in range(100, 500)
    ]
    # single parquet FILE (pyarrow): the oracle harness reads the same
    # path through DuckDB's read_parquet, which doesn't glob Spark's
    # directory layout
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "value": pa.array([r[1] for r in rows], pa.float64()),
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    ok, detail = compare(
        events_ks_drift(spark, str(tmp_path)), EVENTS_KS_ORACLE, str(tmp_path)
    )
    assert ok, detail
