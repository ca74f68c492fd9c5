"""Structured Streaming tests — memory sink + processAllAvailable
drives each stream to completion synchronously (local smoke)."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from xml_to_sqlite3_spark.cache_util import CODEBOOK, DEDUP, GRAPH, INDEX
from xml_to_sqlite3_spark.io_util import load
from xml_to_sqlite3_spark.streaming import (
    read_event_stream,
    sessionize_stream,
    windowed_event_aggregation,
)

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
SF = "/root/testdata/sf0.001"


def _run_to_memory(df, name):
    q = (
        df.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return q


def test_windowed_aggregation_matches_batch(spark, tmp_path):
    events = read_event_stream(spark, os.path.join(SF, "events.parquet"))
    agg = windowed_event_aggregation(events, window="1 hour", watermark="0 seconds")
    _run_to_memory(agg, "win_out")
    streamed = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.sql("SELECT * FROM win_out").collect()
    }

    batch = (
        load(spark, SF, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("window_start"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("v"))
        .collect()
    )
    expected = {(r["window_start"], r["event_type"]): (r["n"], r["v"]) for r in batch}
    # append mode can only emit a window once the watermark passes its
    # end; the stream's final window stays in state forever, so the
    # streamed result is the batch result minus windows at the max
    # event time.
    last_window = max(k[0] for k in expected)
    emitted_expected = {k: v for k, v in expected.items() if k[0] < last_window}
    assert streamed == emitted_expected


def test_sessionization_stream(spark):
    events = read_event_stream(spark, os.path.join(SF, "events.parquet"))
    sess = sessionize_stream(events, gap="30 minutes", watermark="0 seconds")
    _run_to_memory(sess, "sess_out")
    rows = spark.sql("SELECT * FROM sess_out").collect()
    assert len(rows) > 0
    # session bounds are ordered and per-user
    assert all(r["session_start"] <= r["session_end"] for r in rows)
    # append mode holds back sessions that could still grow (their
    # end + gap exceeds the final watermark), so emitted sessions
    # cover most-but-not-all events.
    total = load(spark, SF, "events").count()
    emitted = sum(r["n_events"] for r in rows)
    assert 0 < emitted <= total
    assert emitted >= 0.8 * total


def test_streaming_xml_matches_batch_parse(spark, tmp_path):
    """The XML stream the graph maintenance reads parses each file
    exactly as the batch reader does, late arrivals included."""
    from xml_to_sqlite3_spark.sources import read_xml_corpus
    from xml_to_sqlite3_spark.streaming.ingest import _xml_file_stream

    watch = str(tmp_path / "incoming")
    os.makedirs(watch)
    shutil.copy(os.path.join(FIXTURES, "tiny.xml"), watch)
    shutil.copy(os.path.join(FIXTURES, "catalog.xml"), watch)

    out_dir = str(tmp_path / "out")
    batches = []

    def on_batch(df, epoch_id):
        df.filter(F.col("id").isNotNull()).write.mode("append").parquet(out_dir)
        batches.append(epoch_id)

    q = (
        _xml_file_stream(spark, watch, "*.xml", max_files_per_trigger=100)
        .writeStream.option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(on_batch)
        .start()
    )
    q.processAllAvailable()

    # late arrival: a third file appears after the first trigger
    shutil.copy(os.path.join(FIXTURES, "broken.xml"), watch)
    q.processAllAvailable()
    q.stop()

    streamed_nodes = spark.read.parquet(out_dir)
    batch_nodes = read_xml_corpus(spark, watch).nodes
    assert streamed_nodes.count() == batch_nodes.count()
    assert {r["id"] for r in streamed_nodes.select("id").collect()} == {
        r["id"] for r in batch_nodes.select("id").collect()
    }
    assert len(batches) >= 2  # the late file triggered another micro-batch


def test_stream_document_maintenance_two_waves(spark, tmp_path, monkeypatch):
    """r12 VERDICT task 5: dedup store + text index stay warm under
    continuous ingestion. Two streamed waves (chained O(delta)
    appends) must equal ONE batch append of the union-delta AND a
    full rebuild over base+delta — per-table multiset identity for
    the dedup store, postings multiset + bit-exact scalar stats for
    the index."""
    from xml_to_sqlite3_spark.operators import dedup as D
    from xml_to_sqlite3_spark.operators import search as S
    from xml_to_sqlite3_spark.streaming.ingest import (
        current_maintained_entries,
        stream_document_maintenance,
    )

    monkeypatch.setenv("SPARK_GRAFT_MINHASH_CACHE", str(tmp_path / "mh"))
    monkeypatch.setenv("SPARK_GRAFT_INDEX_CACHE", str(tmp_path / "ix"))

    def mkdocs(ids):
        return spark.createDataFrame(
            [(i, f"alpha beta doc {i} gamma delta {i % 3} common words") for i in ids],
            "doc_id long, text string",
        )

    base_path = str(tmp_path / "base_docs")
    mkdocs(range(10)).repartition(1).write.parquet(base_path)

    in_dir = tmp_path / "incoming"
    in_dir.mkdir()
    wave1, wave2 = mkdocs(range(100, 110)), mkdocs(range(110, 120))
    # one file per wave + maxFilesPerTrigger=1 -> two micro-batches
    # (the file source watches the TOP level, so land each wave's
    # part-file directly in in_dir)
    import glob as _glob

    for name, wave in (("w1", wave1), ("w2", wave2)):
        staged = str(tmp_path / f"stage_{name}")
        wave.repartition(1).write.parquet(staged)
        part = _glob.glob(os.path.join(staged, "part-*.parquet"))[0]
        shutil.copy(part, str(in_dir / f"{name}.parquet"))

    ckpt = str(tmp_path / "ckpt")
    q = stream_document_maintenance(
        spark, str(in_dir), base_path, ckpt,
        max_files_per_trigger=1, available_now=True,
    )
    q.awaitTermination()

    got = current_maintained_entries(spark, base_path, ckpt)
    assert got["dedup"] is not None and got["index"] is not None
    # two waves -> a two-link chain
    assert got["dedup"]["append_key"].count("+") == 1

    def sig_ms(frame):
        return sorted(
            (r["doc_id"], tuple(r["signature"])) for r in frame.collect()
        )

    def ids_ms(frame):
        return sorted(r["doc_id"] for r in frame.collect())

    # one-shot batch append of the union delta
    batch_entry = D.append_dedup_documents(
        spark, base_path, wave1.unionByName(wave2), delta_key="oneshot"
    )
    assert sig_ms(got["dedup"]["sigs"]) == sig_ms(batch_entry["sigs"])
    assert ids_ms(got["dedup"]["doc_ids"]) == ids_ms(batch_entry["doc_ids"])
    tok_ms = lambda fr: sorted(
        tuple(r) for r in fr.select("doc_id", "h").collect()
    )
    assert tok_ms(got["dedup"]["tokens"]) == tok_ms(batch_entry["tokens"])

    # full rebuild over base + delta
    union_path = str(tmp_path / "union_docs")
    mkdocs(list(range(10)) + list(range(100, 120))).write.parquet(union_path)
    rb_tokens, rb_sigs = D.get_minhash_store(spark, union_path)
    assert sig_ms(got["dedup"]["sigs"]) == sig_ms(rb_sigs)
    assert tok_ms(got["dedup"]["tokens"]) == tok_ms(rb_tokens)

    # index: streamed chained appends == batch append == full rebuild
    s_index, s_n, s_avgdl, _ = got["index"]
    b_index, b_n, b_avgdl, _ = S.append_text_index(
        spark, base_path, wave1.unionByName(wave2), delta_key="oneshot"
    )
    r_index, r_n, r_avgdl = S.get_text_index(spark, union_path)
    post_ms = lambda fr: sorted(
        tuple(r) for r in fr.select("token", "doc_id", "tf", "doc_len").collect()
    )
    assert post_ms(s_index) == post_ms(b_index) == post_ms(r_index)
    assert (s_n, s_avgdl) == (b_n, b_avgdl) == (r_n, r_avgdl)

    DEDUP.clear()
    INDEX.clear()


def test_stream_embedding_maintenance_two_waves(spark, tmp_path, monkeypatch):
    """The vector-side maintenance twin: two streamed waves of new
    embeddings == one batch append of the union == a fresh encode of
    the union under the SAME base-trained models (per-row identity),
    and the chain sidecar rides the checkpoint dir."""
    import math

    from xml_to_sqlite3_spark.operators import similarity as S
    from xml_to_sqlite3_spark.streaming.ingest import (
        current_maintained_index,
        stream_embedding_maintenance,
    )

    monkeypatch.setenv("SPARK_GRAFT_CODEBOOK_CACHE", str(tmp_path / "cb"))

    def vec(seed):
        return [math.sin(seed * 13.7 + i * 2.3) for i in range(8)]

    def mkvecs(ids):
        return spark.createDataFrame(
            [(i, vec(i)) for i in ids], "vec_id long, embedding array<double>"
        )

    base_path = str(tmp_path / "base_vecs")
    mkvecs(range(30)).repartition(1).write.parquet(base_path)

    in_dir = tmp_path / "incoming_vecs"
    in_dir.mkdir()
    import glob as _glob

    for name, ids in (("w1", range(100, 110)), ("w2", range(110, 120))):
        staged = str(tmp_path / f"stage_{name}")
        mkvecs(ids).repartition(1).write.parquet(staged)
        part = _glob.glob(os.path.join(staged, "part-*.parquet"))[0]
        shutil.copy(part, str(in_dir / f"{name}.parquet"))

    ckpt = str(tmp_path / "ckpt_vecs")
    kw = dict(n_centroids=4, m=4, ks=8, n_iter=2)
    q = stream_embedding_maintenance(
        spark, str(in_dir), base_path, ckpt,
        max_files_per_trigger=1, available_now=True, **kw,
    )
    q.awaitTermination()

    got = current_maintained_index(spark, base_path, ckpt, **kw)
    assert got is not None and got["append_key"].count("+") == 1

    cents = S.get_codebook(spark, base_path, k=4, n_iter=2)
    books = S.get_pq_codebooks(spark, base_path, m=4, ks=8, n_iter=2)
    union = mkvecs(list(range(30)) + list(range(100, 120)))
    want = {
        (r["vec_id"], r["cluster"], tuple(r["codes"]))
        for r in S.ivf_pq_index(union, cents, books).collect()
    }
    streamed = {
        (r["vec_id"], r["cluster"], tuple(r["codes"]))
        for r in got["index"].collect()
    }
    assert streamed == want

    # one-shot batch append of the union delta lands the same rows
    batch = S.append_ivf_pq_index(
        spark, base_path, mkvecs(range(100, 120)), delta_key="oneshot", **kw
    )
    assert {
        (r["vec_id"], r["cluster"], tuple(r["codes"]))
        for r in batch["index"].collect()
    } == want
    CODEBOOK.clear()


def test_maintenance_replay_rewind():
    """The sidecar replay guard: a replayed batch id rewinds to the
    pre-batch chains (the crash window between sidecar save and
    checkpoint commit); an older batch id fails loudly."""
    import pytest as _pytest

    from xml_to_sqlite3_spark.streaming.ingest import _replay_rewind

    # fresh state: no-op
    st = {"dedup_chain": "", "index_chain": ""}
    _replay_rewind(st, 0, ("dedup_chain", "index_chain"))
    assert st["dedup_chain"] == ""

    # batch 1 committed chains b0+b1; replaying batch 1 must rewind
    # to the pre-batch chains so the appends re-derive (attach) the
    # same entries instead of chaining onto themselves
    st = {
        "dedup_chain": "b0+b1",
        "index_chain": "b0+b1",
        "prev": {"dedup_chain": "b0", "index_chain": "b0"},
        "last_batch": 1,
    }
    _replay_rewind(st, 1, ("dedup_chain", "index_chain"))
    assert st["dedup_chain"] == "b0" and st["index_chain"] == "b0"

    # the NEXT batch leaves chains untouched
    st["dedup_chain"] = st["index_chain"] = "b0+b1"
    _replay_rewind(st, 2, ("dedup_chain", "index_chain"))
    assert st["dedup_chain"] == "b0+b1"

    # a batch BEHIND the sidecar is a corruption signal
    with _pytest.raises(ValueError, match="more than one batch"):
        _replay_rewind(st, 0, ("dedup_chain", "index_chain"))


def test_delta_key_nonce_migration():
    """A fresh checkpoint mints its nonce at batch 0, and replaying
    the in-flight batch of a nonce-bearing sidecar yields the SAME key,
    so the replayed wave attaches its already-published entry."""
    from xml_to_sqlite3_spark.streaming.ingest import _delta_key

    st = {"dedup_chain": ""}
    dk0 = _delta_key(st, 0)
    assert "nonce" in st and dk0 == f"{st['nonce']}-b0"

    # the next batch keeps the nonce
    dk = _delta_key(st, 1)
    assert dk == f"{st['nonce']}-b1"

    # a nonce-bearing sidecar replays under the SAME nonce key
    st["last_batch"] = 1
    assert _delta_key(st, 1) == dk


def test_maintained_attach_requires_complete(spark, tmp_path, monkeypatch):
    """ADVICE r13: a chain sidecar naming an entry that is NOT
    published under the current cache roots (cleared cache, different
    SPARK_GRAFT_*_CACHE, mismatched params) must fail with the repo's
    loud attach message, not a raw parquet path-not-found."""
    import json

    from xml_to_sqlite3_spark.streaming.ingest import (
        current_maintained_entries,
        current_maintained_index,
    )

    ckpt = tmp_path / "ckpt"
    ckpt.mkdir()
    (ckpt / "ivfpq_chain.json").write_text(json.dumps({"chain": "b0"}))
    (ckpt / "maintenance_chain.json").write_text(
        json.dumps({"dedup_chain": "b0", "index_chain": "b0"})
    )
    monkeypatch.setenv("SPARK_GRAFT_CODEBOOK_CACHE", str(tmp_path / "cb"))
    monkeypatch.setenv("SPARK_GRAFT_MINHASH_CACHE", str(tmp_path / "mh"))
    monkeypatch.setenv("SPARK_GRAFT_INDEX_CACHE", str(tmp_path / "ix"))
    with pytest.raises(ValueError, match="no published entry exists"):
        current_maintained_index(spark, "/nonexistent/base", str(ckpt))
    with pytest.raises(ValueError, match="no published entry exists"):
        current_maintained_entries(spark, "/nonexistent/base", str(ckpt))


def test_stream_document_maintenance_components(spark, tmp_path, monkeypatch):
    """r13 VERDICT task 5 (closure half): with maintain_components=True
    the near-dup components closure chains per micro-batch. Two
    streamed waves == one batch append_components of the union-delta
    == a full get_components_store rebuild over base+delta — exact
    multiset identity, including components that merge ACROSS waves
    through new documents."""
    from xml_to_sqlite3_spark.operators import dedup as D
    from xml_to_sqlite3_spark.streaming.ingest import (
        current_maintained_entries,
        stream_document_maintenance,
    )

    monkeypatch.setenv("SPARK_GRAFT_MINHASH_CACHE", str(tmp_path / "mh"))
    monkeypatch.setenv("SPARK_GRAFT_INDEX_CACHE", str(tmp_path / "ix"))

    A = "alpha beta gamma delta epsilon zeta shared duplicate text"
    B = "one two three four five six seven eight nine ten"

    def uniq(i):
        return f"solitary w{i}a w{i}b w{i}c w{i}d w{i}e w{i}f"

    base_rows = [(0, A), (1, A)] + [(i, uniq(i)) for i in range(2, 10)]
    wave1_rows = [(100, A), (101, B)] + [(i, uniq(i)) for i in range(102, 106)]
    wave2_rows = [(110, B), (111, uniq(111))] + [
        (i, uniq(i)) for i in range(112, 116)
    ]

    def mk(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    base_path = str(tmp_path / "base_docs")
    mk(base_rows).repartition(1).write.parquet(base_path)

    in_dir = tmp_path / "incoming"
    in_dir.mkdir()
    import glob as _glob

    for name, rows in (("w1", wave1_rows), ("w2", wave2_rows)):
        staged = str(tmp_path / f"stage_{name}")
        mk(rows).repartition(1).write.parquet(staged)
        part = _glob.glob(os.path.join(staged, "part-*.parquet"))[0]
        shutil.copy(part, str(in_dir / f"{name}.parquet"))

    ckpt = str(tmp_path / "ckpt")
    q = stream_document_maintenance(
        spark, str(in_dir), base_path, ckpt,
        max_files_per_trigger=1, available_now=True,
        maintain_components=True,
    )
    q.awaitTermination()

    got = current_maintained_entries(spark, base_path, ckpt)
    assert got["components"] is not None
    assert got["components"]["append_key"].count("+") == 1
    comp_ms = lambda fr: sorted(
        (r["doc_id"], r["component"], r["is_keeper"]) for r in fr.collect()
    )
    streamed = comp_ms(got["components"]["components"])
    # cross-wave merge really happened: 110 (wave2) joined 101 (wave1)
    by_doc = {d: c for d, c, _ in streamed}
    assert by_doc[110] == by_doc[101]
    assert by_doc[100] == by_doc[0] == by_doc[1]

    # one-shot batch append of the union delta
    batch = D.append_components(
        spark, base_path, mk(wave1_rows + wave2_rows), delta_key="oneshot"
    )
    assert streamed == comp_ms(batch["components"])

    # full rebuild over base + delta
    union_path = str(tmp_path / "union_docs")
    mk(base_rows + wave1_rows + wave2_rows).write.parquet(union_path)
    rebuilt = D.get_components_store(spark, union_path)
    assert streamed == comp_ms(rebuilt)

    DEDUP.clear()


@pytest.mark.heavy
def test_stream_graph_maintenance_two_waves(spark, tmp_path, monkeypatch):
    """r13 VERDICT task 5 (graph half): the node-graph store stays
    warm under continuous XML ingestion. Two streamed waves of XML
    documents (chained O(delta) appends through the batch parser)
    must equal ONE batch append of the union delta — per-table
    multiset identity for every delta-carrying table."""
    from xml_to_sqlite3_spark.plans import node_graph as ng
    from xml_to_sqlite3_spark.sources.xml_source import read_xml_corpus
    from xml_to_sqlite3_spark.streaming.ingest import (
        current_maintained_graph,
        stream_graph_maintenance,
    )

    monkeypatch.setenv("SPARK_GRAFT_GRAPH_CACHE", str(tmp_path / "gc"))
    GRAPH.clear()

    def doc(tag, n_items=3):
        items = "".join(
            f'<item id="{tag}_i{j}" ref="{tag}_i{(j + 1) % n_items}" '
            f'qty="{j}"><w>{tag} body {j}</w></item>'
            for j in range(n_items)
        )
        return f'<?xml version="1.0"?><top id="{tag}_root">{items}</top>'

    in_dir = tmp_path / "xml_in"
    in_dir.mkdir()
    (in_dir / "wave_a.xml").write_text(doc("wa"))
    (in_dir / "wave_b.xml").write_text(doc("wb", n_items=4))

    from tests.conftest import SF_SMOKE

    ckpt = str(tmp_path / "ckpt_graph")
    q = stream_graph_maintenance(
        spark, str(in_dir), SF_SMOKE, ckpt,
        max_files_per_trigger=1, available_now=True, build_coreness=False,
    )
    q.awaitTermination()

    got = current_maintained_graph(spark, SF_SMOKE, ckpt, build_coreness=False)
    assert got is not None and got["append_key"].count("+") == 1
    assert "coreness" not in got

    # batch twin: parse BOTH files through the batch reader, project
    # to the store schemas exactly as the stream does, append once
    corpus = read_xml_corpus(spark, str(in_dir))
    nodes = corpus.nodes.select(
        "id", "node_type", "document_id", "parent_id",
        F.col("position").cast("bigint").alias("position"),
        "content", "xpath",
    )
    props = corpus.properties.select(
        "node_id", "property_name", "property_value", "data_type"
    )
    batch = ng.append_documents(
        spark, SF_SMOKE, nodes, props,
        delta_key="oneshot-xml", build_coreness=False,
    )
    for table in ("nodes", "properties", "xrefs", "degrees",
                  "node_levels", "doc_ids", "targets"):
        # key=repr: rows carry None-able string columns (parent_id),
        # which plain tuple ordering cannot compare
        s_rows = sorted((tuple(r) for r in got[table].collect()), key=repr)
        b_rows = sorted((tuple(r) for r in batch[table].collect()), key=repr)
        assert s_rows == b_rows, table
    # the streamed store actually contains the XML documents
    doc_ids = {r["document_id"] for r in got["doc_ids"].collect()}
    assert {"wave_a", "wave_b"} <= doc_ids
    GRAPH.clear()


def test_components_chain_lockstep_guard(spark, tmp_path):
    """Self-review r14: a sidecar whose components chain fell behind
    the dedup chain (stream ran with maintain_components=False after
    building components) must fail loud on attach — the closure
    silently lacks those waves."""
    import json

    from xml_to_sqlite3_spark.streaming.ingest import (
        current_maintained_entries,
    )

    ckpt = tmp_path / "ckpt"
    ckpt.mkdir()
    (ckpt / "maintenance_chain.json").write_text(
        json.dumps(
            {"dedup_chain": "aa-b0+aa-b1", "index_chain": "aa-b0+aa-b1",
             "components_chain": "aa-b0"}
        )
    )
    with pytest.raises(ValueError, match="frozen at chain"):
        current_maintained_entries(spark, "/nonexistent/base", str(ckpt))


def test_chain_entry_pruning_and_head_attach(spark, tmp_path, monkeypatch):
    """r14 VERDICT task 5 (GC half): entry COUNT grows O(waves) —
    after each batch, chain entries older than the newest
    ``chain_retention`` links are pruned once cold, the head (and the
    replay-rewind target one link back) always survive, the base
    no-append entry is untouched, and a pruned chain still
    COLD-attaches at head."""
    from xml_to_sqlite3_spark.operators import dedup as D
    from xml_to_sqlite3_spark.operators.dedup import (
        _minhash_cache_root,
        _minhash_store_key,
    )
    from xml_to_sqlite3_spark.streaming.ingest import (
        current_maintained_entries,
        stream_document_maintenance,
    )

    monkeypatch.setenv("SPARK_GRAFT_MINHASH_CACHE", str(tmp_path / "mh"))
    monkeypatch.setenv("SPARK_GRAFT_INDEX_CACHE", str(tmp_path / "ix"))

    def mkdocs(ids):
        return spark.createDataFrame(
            [(i, f"alpha beta doc {i} gamma delta {i % 3} common words") for i in ids],
            "doc_id long, text string",
        )

    base_path = str(tmp_path / "base_docs")
    mkdocs(range(10)).repartition(1).write.parquet(base_path)

    in_dir = tmp_path / "incoming"
    in_dir.mkdir()
    import glob as _glob

    waves = []
    for w in range(4):
        wave = mkdocs(range(100 + 10 * w, 110 + 10 * w))
        waves.append(wave)
        staged = str(tmp_path / f"stage_w{w}")
        wave.repartition(1).write.parquet(staged)
        part = _glob.glob(os.path.join(staged, "part-*.parquet"))[0]
        shutil.copy(part, str(in_dir / f"w{w}.parquet"))

    ckpt = str(tmp_path / "ckpt")
    q = stream_document_maintenance(
        spark, str(in_dir), base_path, ckpt,
        max_files_per_trigger=1, available_now=True,
        chain_retention=2, chain_prune_grace_sec=0.0,
    )
    q.awaitTermination()

    got = current_maintained_entries(spark, base_path, ckpt)
    chain = got["dedup"]["append_key"]
    assert chain.count("+") == 3  # four waves
    root = _minhash_cache_root()
    parts = chain.split("+")
    key_for = lambda ch: _minhash_store_key(
        base_path, 3, 64, "doc_id", "text", append=ch
    )
    # head + exactly one predecessor survive; older links pruned
    assert os.path.isdir(os.path.join(root, key_for(chain)))
    assert os.path.isdir(os.path.join(root, key_for("+".join(parts[:3]))))
    assert not os.path.isdir(os.path.join(root, key_for("+".join(parts[:2]))))
    assert not os.path.isdir(os.path.join(root, key_for(parts[0])))
    # the base (no-append) entry is never a chain prefix — untouched
    assert os.path.isdir(
        os.path.join(root, _minhash_store_key(base_path, 3, 64, "doc_id", "text"))
    )

    # COLD attach at head: drop every in-session handle, then re-read
    DEDUP.memo.clear()
    cold = current_maintained_entries(spark, base_path, ckpt)
    assert sorted(
        r["doc_id"] for r in cold["dedup"]["doc_ids"].collect()
    ) == sorted(list(range(10)) + list(range(100, 140)))
    # and the head equals a full rebuild (self-contained entry)
    union_path = str(tmp_path / "union_docs")
    mkdocs(list(range(10)) + list(range(100, 140))).write.parquet(union_path)
    rb_tokens, rb_sigs = D.get_minhash_store(spark, union_path)
    sig_ms = lambda fr: sorted(
        (r["doc_id"], tuple(r["signature"])) for r in fr.collect()
    )
    assert sig_ms(cold["dedup"]["sigs"]) == sig_ms(rb_sigs)

    DEDUP.clear()
    INDEX.clear()
