"""Structured Streaming operators.

The reference processes its corpus as a one-shot batch with async
fibers (lib/async_processor.rb); the Spark-native generalization is
a file-source stream — the same parse logic runs incrementally as
files arrive, with exactly-once sink semantics via checkpointing,
and event-time analytics get watermarked windows instead of
post-hoc GROUP BYs.

Batch/stream parity: `windowed_event_aggregation` is the streaming
form of plans/olap.events_windowed; `stream_xml_corpus` reuses the
exact batch parser (sources/xml_source._parse_batches) inside
foreachBatch, so a file processed by the stream lands byte-identical
to the batch path.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io_util import events_ts_is_nanos, normalize_event_ts
from ..sources.xml_source import _PARSE_SCHEMA, _parse_batches

_EVENT_COLS = "event_id long, {ts}, user_id long, event_type string, value double, props string"
# Watermarks demand TIMESTAMP (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE on
# NTZ), so the stream declares plain timestamp — for tz-naive parquet
# micros that is the classic pre-NTZ read, exact because session.py
# pins spark.sql.session.timeZone=UTC.
EVENT_SCHEMA = _EVENT_COLS.format(ts="ts timestamp")
EVENT_SCHEMA_NANOS = _EVENT_COLS.format(ts="ts long")


def read_event_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 10
) -> DataFrame:
    """Stream the events table from parquet files as they appear.

    File streams need an explicit schema, so a footer-only batch peek
    (io_util.events_ts_is_nanos) decides which ts encoding the files
    actually carry — plain parquet TIMESTAMP (read natively as
    TIMESTAMP_NTZ) or the legacy int64 nanos — and the SAME
    normalize_event_ts helper as the batch path converts
    conditionally, so batch and stream cannot diverge.
    """
    nanos = events_ts_is_nanos(spark, path)
    if nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = (
        spark.readStream.format("parquet")
        .schema(EVENT_SCHEMA_NANOS if nanos else EVENT_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
    )
    if path.endswith(".parquet"):
        # file streams watch directories; single-file layouts stream
        # their parent dir filtered to the one file
        import os

        reader = reader.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    return normalize_event_ts(reader.load(path))


def windowed_event_aggregation(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked tumbling-window counts/sums per event type — the
    streaming form of the batch events_windowed plan. Late rows
    beyond the watermark are dropped; state is bounded."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sessionize_stream(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Gap-based sessions via the native session_window — the
    streaming equivalent of the batch sessionization plan (state
    expires once the watermark passes the gap)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .select(
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "user_id",
            "n_events",
            "session_value",
        )
    )


def _xml_file_stream(
    spark: SparkSession, input_dir: str, glob: str, max_files_per_trigger: int
) -> DataFrame:
    """The ONE streaming XML source: binaryFile watch → the exact
    batch parser (_parse_batches) — shared by every XML-consuming
    stream (corpus hook, SQLite maintenance, graph maintenance) so a
    parser-schema or source-option change can never make one stream's
    parse diverge from the others or from the batch path."""
    files = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, length long, content binary"
        )
        .option("pathGlobFilter", glob)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .load(input_dir)
        .select("path", "length", "content")
    )
    return files.mapInPandas(_parse_batches, schema=_PARSE_SCHEMA)


def stream_xml_corpus(
    spark: SparkSession,
    input_dir: str,
    on_batch: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    glob: str = "*.xml",
    max_files_per_trigger: int = 100,
):
    """Streaming XML ingestion: watch a directory, parse newly-arrived files
    with the SAME parser as the batch path, hand each micro-batch's
    parsed node DataFrame to ``on_batch`` (foreachBatch — the
    exactly-once sink hook). Returns the StreamingQuery."""
    parsed = _xml_file_stream(spark, input_dir, glob, max_files_per_trigger)

    return (
        parsed.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(on_batch)
        .start()
    )


def stream_corpus_to_sqlite(
    spark: SparkSession,
    input_dir: str,
    db_path: str,
    checkpoint_dir: str,
    glob: str = "*.xml",
    max_files_per_trigger: int = 100,
    available_now: bool = False,
):
    """Continuous reference-database maintenance: watch ``input_dir``
    for new XML files and upsert each micro-batch into the
    reference-schema SQLite at ``db_path`` — the end-to-end form of
    the reference's async pipeline (main.rb: watch -> parse ->
    database_writer), kept current instead of rebuilt.

    Effectively exactly-once: the file source tracks processed files
    in the checkpoint, and the sink is INSERT OR REPLACE on primary
    keys, so a batch replayed after a crash converges to the same
    database state. ``available_now=True`` drains the current backlog
    and stops (the testable/batch-catchup mode).
    """
    from pyspark.sql import functions as F

    from ..operators.relationships import detect_all_relationships
    from ..sinks.sqlite_sink import write_corpus_sqlite
    from ..sources.xml_source import corpus_from_parsed

    def on_batch(parsed, batch_id: int) -> None:
        # the batch feeds five actions (the emptiness check and the
        # sink's one drain per table, the xref drain running detection
        # over two projections) — without persist each one would
        # re-run the XML parse of the batch's files
        parsed = parsed.persist()
        try:
            if parsed.isEmpty():
                return
            _write_batch(parsed)
        finally:
            parsed.unpersist()

    def _write_batch(parsed) -> None:
        corpus = corpus_from_parsed(parsed)
        # every reference type is WITHIN-document (sibling/parent
        # joins and attribute refs all require document_id equality),
        # so per-batch detection over the batch's own documents is
        # exactly the full-corpus answer for those documents — the
        # reference's per-document relationship_processor model.
        # cross_references has a synthetic PK (no natural upsert
        # key), so idempotence under batch replay is delete-by-
        # source_file THEN insert — which write_corpus_sqlite does
        # itself for the batch's documents before inserting.
        xrefs = detect_all_relationships(corpus.nodes, corpus.properties).withColumn(
            "source_file", F.col("document_id")
        )
        write_corpus_sqlite(
            corpus, db_path, cross_references=xrefs, optimize=False
        )

    parsed = _xml_file_stream(spark, input_dir, glob, max_files_per_trigger)
    writer = (
        parsed.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(on_batch)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_rollup_to_parquet(
    spark: SparkSession,
    events_path: str,
    table_path: str,
    checkpoint_dir: str,
    window: str = "1 hour",
    available_now: bool = False,
):
    """Continuously-maintained aggregate TABLE: per-(window,
    event_type) counts/sums kept current in parquet as event files
    arrive — the streaming-materialized-view pattern (a warehouse
    rollup that never goes stale and never full-recomputes).

    Per micro-batch: aggregate ONLY the batch's rows (update mode —
    the state store re-emits exactly the windows the batch touched,
    with their complete updated values), then foreachBatch MERGEs
    those windows into the parquet table via the same last-writer
    semantics as operators/curation.merge_upsert: touched windows
    replace their old rows, untouched windows pass through. Each
    batch rewrites only table-sized data, never the event history.

    Exactly-once: the checkpoint pins which files each batch read,
    and the merge is idempotent per batch (replaying a batch writes
    the same window values again). Watermarked, so state and the
    re-emitted delta stay bounded.
    """
    import os

    from pyspark.sql import functions as SF

    events = read_event_stream(spark, events_path)
    agg = (
        events.withWatermark("ts", "2 hours")
        .groupBy(SF.window("ts", window).alias("w"), "event_type")
        .agg(
            SF.count(SF.lit(1)).alias("n_events"),
            SF.round(SF.sum("value"), 2).alias("total_value"),
        )
        .select(
            SF.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )

    def merge_batch(delta, batch_id: int) -> None:
        if delta.isEmpty():
            return
        delta = delta.persist()
        try:
            if os.path.exists(os.path.join(table_path, "_SUCCESS")):
                base = spark.read.parquet(table_path)
                keep = base.join(
                    delta.select("window_start", "event_type"),
                    ["window_start", "event_type"],
                    "left_anti",
                )
                merged = keep.unionByName(delta)
            else:
                merged = delta
            # rewrite via tmp + rename so a crash mid-write never
            # leaves a half table (the checkpoint will replay the
            # batch against the intact previous version)
            tmp = f"{table_path}.tmp.{batch_id}"
            merged.write.mode("overwrite").parquet(tmp)
            import shutil

            old = f"{table_path}.old.{batch_id}"
            if os.path.exists(table_path):
                os.rename(table_path, old)
            os.rename(tmp, table_path)
            shutil.rmtree(old, ignore_errors=True)
        finally:
            delta.unpersist()

    writer = (
        agg.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(merge_batch)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _ensure_nonce(state: dict) -> None:
    """Per-checkpoint identity folded into every maintenance delta
    key: the appends' content keys otherwise depend only on (base,
    chain string, code) — a RESET checkpoint replaying batch ids over
    a warm cache root would silently ATTACH another run's entries
    built from different data. Stored in the sidecar, so crash
    replays reuse it (same keys, pure attach); only a crash before
    the first sidecar save orphans one wave's entries (never
    double-appends). ONE definition for all three maintenance streams
    so the delta-key format can never desynchronize."""
    if "nonce" not in state:
        import secrets

        state["nonce"] = secrets.token_hex(4)


def _delta_key(state: dict, batch_id: int) -> str:
    """THE maintenance delta-key format — one definition for all three
    streams (the _ensure_nonce discipline), called AFTER
    :func:`_replay_rewind`.

    Nonce MIGRATION (r14 ADVICE): a sidecar written by pre-nonce code
    has chains keyed ``b{N}`` and no ``nonce`` field. If the crash
    window replay (sidecar saved, checkpoint uncommitted) lands on
    such a sidecar, minting a nonce FIRST would publish the replayed
    wave under a fresh ``{nonce}-b{N}`` key — a parallel entry and
    duplicated append work instead of the pure attach of the already-
    published ``b{N}`` entry. So a nonce-less sidecar replaying its
    in-flight batch keeps the legacy key format for THAT batch; the
    nonce is minted from the next new batch onward (chain strings are
    opaque, so mixed-format chains are fine)."""
    if "nonce" not in state and state.get("last_batch") == batch_id:
        return f"b{batch_id}"
    _ensure_nonce(state)
    return f"{state['nonce']}-b{batch_id}"


def _prune_chain_tail(
    root: str,
    chain: str,
    key_for,
    retention: int = 2,
    grace_sec: float = 600.0,
) -> int:
    """GC for maintenance-chain cache entries (r14 VERDICT task 5):
    every micro-batch publishes a NEW content-keyed entry per
    artifact, and while hard links bound the BYTES, the entry COUNT
    grows O(waves) — cache_util's stale-sibling pruning never fires
    because each chain's params hash to a different key prefix.

    A chain ``a+b+c`` supersedes its prefixes ``a`` and ``a+b``; this
    keeps the HEAD plus the newest ``retention - 1`` predecessors
    (retention >= 2 keeps the replay-rewind target: a crash between
    sidecar save and checkpoint commit rewinds exactly ONE link) and
    removes older predecessor entries once they have been cold for
    ``grace_sec`` (mtime lease — an attach refreshes it, so another
    session actively reading an old link is left alone). The base
    no-append entry is NOT a chain prefix and is never touched.
    ``retention <= 0`` disables pruning. Returns the number of
    entries removed. Safe with hard-linked appends: removing an old
    entry unlinks its names; inodes shared with newer entries
    survive. A pruned chain still cold-attaches at head — the head
    entry is self-contained (pinned by tests)."""
    import os
    import shutil
    import time

    if retention <= 0 or not chain:
        return 0
    parts = chain.split("+")
    preds = ["+".join(parts[:i]) for i in range(1, len(parts))]
    prune = preds[: max(0, len(preds) - (retention - 1))]
    removed = 0
    for ch in prune:
        path = os.path.join(root, key_for(ch))
        if not os.path.isdir(path):
            continue
        try:
            cold = time.time() - os.path.getmtime(path) > grace_sec
        except OSError:
            cold = True
        if cold:
            shutil.rmtree(path, ignore_errors=True)
            removed += 1
    return removed


def _replay_rewind(state: dict, batch_id: int, chain_fields: tuple) -> None:
    """Replay guard for the maintenance chain sidecars: the sidecar
    is saved AFTER the batch's appends but BEFORE Structured
    Streaming commits the batch to its checkpoint, so a crash in
    that window replays a batch whose chains the sidecar already
    advanced — chaining it onto itself would then trip the
    duplicate-ids guard and wedge the stream. A replayed batch id
    (== the sidecar's last_batch) REWINDS to the pre-batch chains
    recorded alongside, so the replay re-derives the SAME
    content-keyed entries (a pure attach, no double-append). A batch
    id BEHIND last_batch means the checkpoint and sidecar disagree
    by more than one batch — that cannot happen under a single
    writer, so fail loudly rather than guess."""
    last = state.get("last_batch")
    if last is None:
        return
    if batch_id == last:
        for f_ in chain_fields:
            state[f_] = state.get("prev", {}).get(f_, "")
    elif batch_id < last:
        raise ValueError(
            f"maintenance stream: batch {batch_id} arrived after the "
            f"chain sidecar already advanced to batch {last} — the "
            "checkpoint and the sidecar disagree by more than one "
            "batch (mixed checkpoints? manual edit?); rebuild the "
            "artifacts or reset the checkpoint"
        )


def stream_document_maintenance(
    spark: SparkSession,
    input_dir: str,
    base_doc_path: str,
    checkpoint_dir: str,
    n: int = 3,
    k: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_files_per_trigger: int = 10,
    available_now: bool = False,
    maintain_components: bool = False,
    threshold: float = 0.3,
    chain_retention: int = 2,
    chain_prune_grace_sec: float = 600.0,
):
    """Continuously-maintained DEDUP STORE + TEXT INDEX (r12 VERDICT
    task 5): as new document parquet files land in ``input_dir``,
    each micro-batch appends onto the persistent artifacts via the
    stores' O(delta) append paths (operators/dedup.
    append_dedup_documents, operators/search.append_text_index), so
    the MinHash/SimHash/window postings and the BM25 inverted index
    stay warm under continuous ingestion instead of going stale
    until the next full rebuild — the streaming-materialized-view
    pattern of stream_rollup_to_parquet applied to the two
    document-derived artifacts.

    ``maintain_components=True`` (r13 VERDICT task 5) ALSO chains the
    near-dup components closure per batch
    (operators/dedup.append_components at ``threshold``): the merge-
    on-append is delta-sized because existing components can only
    merge THROUGH new documents, and its internal
    append_dedup_documents call is a content-keyed ATTACH of the
    entry this stream just published (same delta key, same chain) —
    no double work. Off by default: the closure is a (threshold, n)-
    parameterized artifact, and a stream should only maintain the
    configurations its consumers read.

    Append CHAINING: batch b appends onto batch b-1's entry (the
    stores' ``base_append`` contract), so every wave costs O(that
    wave). The chain state lives in a sidecar JSON inside the
    CHECKPOINT directory — the same unit of progress the stream
    itself commits — so a restarted stream resumes the chain exactly
    where the checkpoint resumes the data. Exactly-once: delta keys
    derive from the (stable-on-replay) batch id, and the appends are
    content-keyed publications, so a replayed batch ATTACHES the
    already-published entry instead of double-appending; the sidecar
    write is atomic (tmp + rename). Two streamed waves == one batch
    append of the union == full rebuild, per-table multisets —
    pinned by tests/test_streaming.py.

    Returns the StreamingQuery. Read the current artifacts after
    (or during) the run with :func:`current_maintained_entries`.
    """
    import json
    import os

    from ..operators.dedup import append_components, append_dedup_documents
    from ..operators.search import append_text_index

    state_path = os.path.join(checkpoint_dir, "maintenance_chain.json")
    chain_fields = ("dedup_chain", "index_chain") + (
        ("components_chain",) if maintain_components else ()
    )

    def _load_state() -> dict:
        if os.path.exists(state_path):
            with open(state_path) as f:
                return json.load(f)
        return {f_: "" for f_ in chain_fields}

    def _save_state(state: dict) -> None:
        os.makedirs(checkpoint_dir, exist_ok=True)
        tmp = f"{state_path}.tmp.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(state, f)
        os.rename(tmp, state_path)

    def on_batch(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        state = _load_state()
        state.setdefault("components_chain", "")
        if maintain_components and state["components_chain"] != state.get(
            "dedup_chain", ""
        ):
            # the closure chain can only be correct if it advanced in
            # LOCKSTEP with the dedup chain — a stream that ran with
            # maintain_components=False and was later flipped on would
            # silently build a closure missing every wave ingested
            # while the flag was off (under-dedup with no error)
            raise ValueError(
                "stream_document_maintenance: maintain_components=True but "
                f"the sidecar's components chain ({state['components_chain']!r}) "
                f"is behind the dedup chain ({state.get('dedup_chain', '')!r}) — "
                "the stream previously ran without components maintenance. "
                "Start a fresh checkpoint (rebuilding the closure over the "
                "full corpus) instead of resuming with a gap"
            )
        _replay_rewind(state, batch_id, chain_fields)
        prev = {k2: state.get(k2, "") for k2 in chain_fields}
        dk = _delta_key(state, batch_id)
        entry = append_dedup_documents(
            spark,
            base_doc_path,
            batch_df,
            delta_key=dk,
            n=n,
            k=k,
            id_col=id_col,
            text_col=text_col,
            base_append=state["dedup_chain"],
        )
        state["dedup_chain"] = entry["append_key"]
        append_text_index(
            spark,
            base_doc_path,
            batch_df,
            delta_key=dk,
            id_col=id_col,
            text_col=text_col,
            base_append=state["index_chain"],
        )
        state["index_chain"] = (
            f"{state['index_chain']}+{dk}" if state["index_chain"] else dk
        )
        if maintain_components:
            centry = append_components(
                spark,
                base_doc_path,
                batch_df,
                delta_key=dk,
                threshold=threshold,
                n=n,
                k=k,
                id_col=id_col,
                text_col=text_col,
                base_append=state["components_chain"],
            )
            state["components_chain"] = centry["append_key"]
        state["prev"] = prev
        state["last_batch"] = batch_id
        _save_state(state)
        # chain-entry GC: superseded (non-head, past-retention) chain
        # entries for each artifact family (see _prune_chain_tail)
        from ..operators.dedup import _components_store_key, _minhash_store_key
        from ..operators.dedup import _minhash_cache_root as _mh_root
        from ..operators.search import _index_key
        from ..operators.search import _index_cache_root as _ix_root

        _prune_chain_tail(
            _mh_root(),
            state["dedup_chain"],
            lambda ch: _minhash_store_key(
                base_doc_path, n, k, id_col, text_col, append=ch
            ),
            retention=chain_retention,
            grace_sec=chain_prune_grace_sec,
        )
        _prune_chain_tail(
            _ix_root(),
            state["index_chain"],
            lambda ch: _index_key(base_doc_path, id_col, text_col, append=ch),
            retention=chain_retention,
            grace_sec=chain_prune_grace_sec,
        )
        if maintain_components:
            _prune_chain_tail(
                _mh_root(),
                state["components_chain"],
                lambda ch: _components_store_key(
                    base_doc_path, threshold, n, k, id_col, text_col,
                    append=ch,
                ),
                retention=chain_retention,
                grace_sec=chain_prune_grace_sec,
            )

    # file streams need an explicit schema; the base corpus defines it
    schema = spark.read.parquet(base_doc_path).schema
    docs = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .load(input_dir)
    )
    writer = (
        docs.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(on_batch)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _require_complete(final: str, what: str, chain: str, params: str) -> None:
    """Fail-loud attach guard (the repo-wide _COMPLETE discipline): a
    chain sidecar can name an entry that is not published here — the
    cache root was cleared, a different SPARK_GRAFT_*_CACHE env is
    set, or the caller's params differ from the stream's — and the
    raw parquet path-not-found that would otherwise surface names
    neither the chain nor the fix."""
    import os

    if not os.path.exists(os.path.join(final, "_COMPLETE")):
        raise ValueError(
            f"{what}: the maintenance sidecar names append chain {chain!r} "
            f"but no published entry exists at {final} — the cache root was "
            "cleared, a different cache env var is set, or these params "
            f"({params}) do not match the ones the maintenance stream ran "
            "with"
        )


def current_maintained_entries(
    spark: SparkSession,
    base_doc_path: str,
    checkpoint_dir: str,
    n: int = 3,
    k: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.3,
) -> dict:
    """Attach the artifacts a maintenance stream has built so far:
    reads the chain sidecar from the checkpoint dir and returns
    ``{"dedup": {<table>: DataFrame, ...} | None, "index": (index,
    n_docs, avgdl, path) | None, "components": {"path", "append_key",
    "components"} | None}`` — None before the first batch commits
    (components also None unless the stream ran with
    ``maintain_components=True``). Pure attach: the content-keyed
    entries already exist, so no Spark job beyond parquet reads runs
    here."""
    import json
    import os

    from ..operators.dedup import _minhash_store_key
    from ..operators.search import _index_cache_root, _index_key

    state_path = os.path.join(checkpoint_dir, "maintenance_chain.json")
    if not os.path.exists(state_path):
        return {"dedup": None, "index": None, "components": None}
    with open(state_path) as f:
        state = json.load(f)
    if state.get("components_chain") and state["components_chain"] != state.get(
        "dedup_chain", ""
    ):
        # fail FAST, before attaching anything: the closure chain can
        # only be correct if it advanced in lockstep with the dedup
        # chain — a mismatch means the stream ran with
        # maintain_components=False after building components, so the
        # closure silently lacks those waves
        raise ValueError(
            "current_maintained_entries: the components closure is "
            f"frozen at chain {state['components_chain']!r} while the "
            f"dedup store advanced to {state.get('dedup_chain', '')!r} — "
            "the stream ran with maintain_components=False after building "
            "components, so the closure silently lacks those waves. "
            "Rebuild from a fresh checkpoint (or remove components_chain "
            "from the sidecar to acknowledge the abandoned closure)"
        )
    out: dict = {"dedup": None, "index": None, "components": None}
    if state.get("dedup_chain"):
        from ..operators.dedup import _DEDUP_STORE_SUBDIRS, _minhash_cache_root

        root = _minhash_cache_root()
        ck = _minhash_store_key(
            base_doc_path, n, k, id_col, text_col, append=state["dedup_chain"]
        )
        final = os.path.join(root, ck)
        _require_complete(
            final,
            "current_maintained_entries (dedup)",
            state["dedup_chain"],
            f"n={n}, k={k}, id_col={id_col!r}, text_col={text_col!r}, "
            f"minhash cache root={root}",
        )
        entry = {"path": final, "append_key": state["dedup_chain"]}
        for sub in _DEDUP_STORE_SUBDIRS:
            spark.catalog.refreshByPath(f"{final}/{sub}")
            entry[sub] = spark.read.parquet(f"{final}/{sub}")
        out["dedup"] = entry
    if state.get("index_chain"):
        ck = _index_key(
            base_doc_path, id_col, text_col, append=state["index_chain"]
        )
        final = os.path.join(_index_cache_root(), ck)
        _require_complete(
            final,
            "current_maintained_entries (index)",
            state["index_chain"],
            f"id_col={id_col!r}, text_col={text_col!r}, "
            f"index cache root={_index_cache_root()}",
        )
        with open(os.path.join(final, "_COMPLETE")) as f:
            meta = json.load(f)
        spark.catalog.refreshByPath(f"{final}/index")
        out["index"] = (
            spark.read.parquet(f"{final}/index"),
            int(meta["n_docs"]),
            float(meta["avgdl"]),
            final,
        )
    if state.get("components_chain"):
        from ..operators.dedup import (
            _components_store_key,
            _minhash_cache_root,
        )

        root = _minhash_cache_root()
        ck = _components_store_key(
            base_doc_path, threshold, n, k, id_col, text_col,
            append=state["components_chain"],
        )
        final = os.path.join(root, ck)
        _require_complete(
            final,
            "current_maintained_entries (components)",
            state["components_chain"],
            f"threshold={threshold}, n={n}, id_col={id_col!r}, "
            f"text_col={text_col!r}, minhash cache root={root}",
        )
        spark.catalog.refreshByPath(f"{final}/components")
        out["components"] = {
            "path": final,
            "append_key": state["components_chain"],
            "components": spark.read.parquet(f"{final}/components"),
        }
    return out


def stream_embedding_maintenance(
    spark: SparkSession,
    input_dir: str,
    base_vec_path: str,
    checkpoint_dir: str,
    n_centroids: int = 16,
    m: int = 8,
    ks: int = 16,
    n_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_files_per_trigger: int = 10,
    available_now: bool = False,
    chain_retention: int = 2,
    chain_prune_grace_sec: float = 600.0,
):
    """Continuously-maintained IVF-PQ INDEX — the vector-side twin of
    :func:`stream_document_maintenance`, completing the set: every
    persistent artifact the engine maintains (node graph, dedup
    store, components, BM25 index, vector index) now stays warm
    under continuous ingestion. As new embedding parquet files land,
    each micro-batch encodes under the BASE-trained models and
    appends into the cluster partitions via
    operators/similarity.append_ivf_pq_index's chained O(delta)
    path. Same exactly-once story: batch-id-derived delta keys +
    content-keyed publication make replays ATTACH, and the chain
    sidecar (tmp+rename atomic) rides in the checkpoint dir. Models
    are never retrained mid-stream by contract — schedule a
    rebuild when the PSI/KS drift monitors fire.

    Returns the StreamingQuery; read the current index with
    :func:`current_maintained_index`."""
    import json
    import os

    from ..operators.similarity import append_ivf_pq_index

    state_path = os.path.join(checkpoint_dir, "ivfpq_chain.json")

    def _load() -> dict:
        if os.path.exists(state_path):
            with open(state_path) as f:
                return json.load(f)
        return {"chain": ""}

    def _save(state: dict) -> None:
        os.makedirs(checkpoint_dir, exist_ok=True)
        tmp = f"{state_path}.tmp.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(state, f)
        os.rename(tmp, state_path)

    def on_batch(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        state = _load()
        _replay_rewind(state, batch_id, ("chain",))
        prev = {"chain": state["chain"]}
        entry = append_ivf_pq_index(
            spark,
            base_vec_path,
            batch_df,
            delta_key=_delta_key(state, batch_id),
            n_centroids=n_centroids,
            m=m,
            ks=ks,
            n_iter=n_iter,
            id_col=id_col,
            vec_col=vec_col,
            base_append=state["chain"],
        )
        state["chain"] = entry["append_key"]
        state["prev"] = prev
        state["last_batch"] = batch_id
        _save(state)
        # chain-entry GC (see _prune_chain_tail)
        import tempfile

        from ..operators.similarity import _ivfpq_key

        _prune_chain_tail(
            os.environ.get(
                "SPARK_GRAFT_CODEBOOK_CACHE",
                os.path.join(
                    tempfile.gettempdir(), "spark_graft_codebook_cache"
                ),
            ),
            state["chain"],
            lambda ch: _ivfpq_key(
                base_vec_path, n_centroids, m, ks, n_iter, id_col, vec_col,
                append=ch,
            ),
            retention=chain_retention,
            grace_sec=chain_prune_grace_sec,
        )

    schema = spark.read.parquet(base_vec_path).schema
    vecs = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .load(input_dir)
    )
    writer = (
        vecs.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(on_batch)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def current_maintained_index(
    spark: SparkSession,
    base_vec_path: str,
    checkpoint_dir: str,
    n_centroids: int = 16,
    m: int = 8,
    ks: int = 16,
    n_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Attach the IVF-PQ index a maintenance stream has built so far
    (None before the first batch commits). Pure attach — parquet
    reads only."""
    import json
    import os
    import tempfile

    from ..operators.similarity import _ivfpq_key

    state_path = os.path.join(checkpoint_dir, "ivfpq_chain.json")
    if not os.path.exists(state_path):
        return None
    with open(state_path) as f:
        state = json.load(f)
    if not state.get("chain"):
        return None
    root = os.environ.get(
        "SPARK_GRAFT_CODEBOOK_CACHE",
        os.path.join(tempfile.gettempdir(), "spark_graft_codebook_cache"),
    )
    ck = _ivfpq_key(
        base_vec_path, n_centroids, m, ks, n_iter, id_col, vec_col,
        append=state["chain"],
    )
    final = os.path.join(root, ck)
    _require_complete(
        final,
        "current_maintained_index",
        state["chain"],
        f"n_centroids={n_centroids}, m={m}, ks={ks}, n_iter={n_iter}, "
        f"id_col={id_col!r}, vec_col={vec_col!r}, codebook cache root={root}",
    )
    spark.catalog.refreshByPath(f"{final}/index")
    return {
        "path": final,
        "append_key": state["chain"],
        "index": spark.read.parquet(f"{final}/index"),
    }


def stream_graph_maintenance(
    spark: SparkSession,
    input_dir: str,
    sf_dir: str,
    checkpoint_dir: str,
    glob: str = "*.xml",
    max_files_per_trigger: int = 100,
    available_now: bool = False,
    build_coreness: bool = True,
    check_guards: bool = True,
    chain_retention: int = 2,
    chain_prune_grace_sec: float = 600.0,
):
    """Continuously-maintained NODE-GRAPH STORE (r13 VERDICT task 5,
    completing the set: all five persistent artifacts now stay warm
    under continuous ingestion). Watches ``input_dir`` for new XML
    documents, parses each micro-batch with the SAME parser as the
    batch path (sources/xml_source._parse_batches), projects the
    corpus-model nodes/properties onto the store's table schemas, and
    chains plans/node_graph.append_documents per batch — every
    derived table (xrefs, degrees, node_levels, ...) advances at
    O(batch), with the global rank tables re-derived over the merged
    graph exactly as a batch append does.

    The within-document-locality guards append_documents enforces are
    the natural shape of XML arrival: a document resolves its parent
    links internally, so a batch of NEW documents passes by
    construction, and a re-sent document id fails loudly instead of
    corrupting the id-keyed tables.

    Same exactly-once story as the other maintenance streams:
    batch-id-derived delta keys + content-keyed publication make
    replays ATTACH; the chain sidecar (tmp+rename atomic, replay-
    rewind guarded) rides in the checkpoint dir. Two streamed waves
    == one batch append == full rebuild per-table multisets — pinned
    by tests/test_streaming.py.

    Returns the StreamingQuery; attach the current store with
    :func:`current_maintained_graph`."""
    import json
    import os

    from ..plans.node_graph import append_documents
    from ..sources.xml_source import corpus_from_parsed

    state_path = os.path.join(checkpoint_dir, "graph_chain.json")

    def _load() -> dict:
        if os.path.exists(state_path):
            with open(state_path) as f:
                return json.load(f)
        return {"chain": ""}

    def _save(state: dict) -> None:
        os.makedirs(checkpoint_dir, exist_ok=True)
        tmp = f"{state_path}.tmp.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(state, f)
        os.rename(tmp, state_path)

    def on_batch(parsed, batch_id: int) -> None:
        # the parse feeds two projections (nodes + properties), each
        # materialized by the append — pin it so the XML parse of the
        # batch's files runs once
        parsed = parsed.persist()
        try:
            if parsed.isEmpty():
                return
            corpus = corpus_from_parsed(parsed)
            # the store's table schemas (build_nodes/build_properties
            # parity): 7-column nodes with bigint position, 4-column
            # properties — the corpus model's ordinal/created_at are
            # sink-side columns the store does not carry
            nodes = corpus.nodes.select(
                "id",
                "node_type",
                "document_id",
                "parent_id",
                F.col("position").cast("bigint").alias("position"),
                "content",
                "xpath",
            )
            props = corpus.properties.select(
                "node_id", "property_name", "property_value", "data_type"
            )
            state = _load()
            _replay_rewind(state, batch_id, ("chain",))
            prev = {"chain": state["chain"]}
            entry = append_documents(
                spark,
                sf_dir,
                nodes,
                props,
                delta_key=_delta_key(state, batch_id),
                check_guards=check_guards,
                build_coreness=build_coreness,
                base_append=state["chain"],
            )
            state["chain"] = entry["append_key"]
            state["prev"] = prev
            state["last_batch"] = batch_id
            _save(state)
            # chain-entry GC (see _prune_chain_tail)
            from ..plans.node_graph import _graph_append_key, _graph_cache_root

            _prune_chain_tail(
                _graph_cache_root(),
                state["chain"],
                lambda ch: _graph_append_key(
                    sf_dir, ch, build_coreness=build_coreness
                ),
                retention=chain_retention,
                grace_sec=chain_prune_grace_sec,
            )
        finally:
            parsed.unpersist()

    parsed = _xml_file_stream(spark, input_dir, glob, max_files_per_trigger)
    writer = (
        parsed.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(on_batch)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def current_maintained_graph(
    spark: SparkSession,
    sf_dir: str,
    checkpoint_dir: str,
    build_coreness: bool = True,
):
    """Attach the node-graph store a maintenance stream has built so
    far: ``{"path", "append_key", <table>: DataFrame, ...}``, or None
    before the first batch commits. Pure attach — parquet reads
    only."""
    import json
    import os

    from ..plans.node_graph import (
        _STORE_SUBDIRS,
        _graph_append_key,
        _graph_cache_root,
    )

    state_path = os.path.join(checkpoint_dir, "graph_chain.json")
    if not os.path.exists(state_path):
        return None
    with open(state_path) as f:
        state = json.load(f)
    if not state.get("chain"):
        return None
    ck = _graph_append_key(sf_dir, state["chain"], build_coreness=build_coreness)
    final = os.path.join(_graph_cache_root(), ck)
    _require_complete(
        final,
        "current_maintained_graph",
        state["chain"],
        f"sf_dir={sf_dir!r}, build_coreness={build_coreness}, "
        f"graph cache root={_graph_cache_root()}",
    )
    out: dict = {"path": final, "append_key": state["chain"]}
    for sub in _STORE_SUBDIRS:
        if sub == "coreness" and not build_coreness:
            continue
        spark.catalog.refreshByPath(f"{final}/{sub}")
        out[sub] = spark.read.parquet(f"{final}/{sub}")
    return out
