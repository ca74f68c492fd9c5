"""Physical-plan regression tests: the optimizations we rely on at
scale (predicate pushdown, column pruning, broadcast joins, no
Python in JVM-only paths) must stay in the plan."""

from __future__ import annotations

import pytest

from xml_to_sqlite3_spark.cache_util import GRAPH
from xml_to_sqlite3_spark.plans import olap
from tests.conftest import SF_SMOKE


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q6_pushes_all_filters(spark):
    plan = _physical(olap.q6_revenue(spark, SF_SMOKE))
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters: [")[1].split("]")[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed into the parquet scan"


def test_q6_prunes_columns(spark):
    plan = _physical(olap.q6_revenue(spark, SF_SMOKE))
    read_schema = plan.split("ReadSchema: ")[1].split("\n")[0]
    assert "l_extendedprice" in read_schema
    # untouched wide columns must not be read
    assert "l_returnflag" not in read_schema
    assert "l_orderkey" not in read_schema


def test_q3_broadcasts_dimensions(spark):
    plan = _physical(olap.q3_shipping_priority(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan


def test_q5_no_shuffle_joins_for_dims(spark):
    plan = _physical(olap.q5_local_supplier(spark, SF_SMOKE))
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan  # all dims fit broadcast at test scale


def test_no_python_in_olap_paths(spark):
    """The OLAP core must stay JVM-side — no BatchEvalPython /
    ArrowEvalPython stages (Python UDFs) in any plan."""
    for name, fn in olap.QUERIES.items():
        plan = _physical(fn(spark, SF_SMOKE))
        assert "EvalPython" not in plan, f"{name} dropped into Python"


def test_sessionization_single_shuffle(spark):
    """Window + groupBy on the same key reuse one exchange."""
    plan = _physical(olap.sessionization(spark, SF_SMOKE))
    # exchanges: one for the user_id window/agg chain + the final
    # orderBy range exchange; anything more means a lost partitioning
    assert plan.count("Exchange") <= 3


def test_curation_sample_and_split_no_shuffle(spark):
    """Hash sampling and split labeling are map-side only: no
    Exchange anywhere above the scan."""
    from pyspark.sql import functions as F

    from xml_to_sqlite3_spark.operators import curation as C

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    for df in (
        C.stable_sample(docs, "doc_id", 0.1),
        C.train_val_test_split(docs, "doc_id"),
        docs.select(C.redact_pii(C.normalize_text(F.col("text")))),
    ):
        plan = _physical(df)
        assert "Exchange" not in plan
        assert "EvalPython" not in plan


def test_curation_chunking_no_shuffle(spark):
    from xml_to_sqlite3_spark.operators import curation as C

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    plan = _physical(C.chunk_documents(docs))
    assert "Exchange" not in plan
    assert "Generate" in plan  # the posexplode runs in-task
    assert "EvalPython" not in plan


def test_curation_quota_single_shuffle(spark):
    from xml_to_sqlite3_spark.operators import curation as C

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    plan = _physical(C.source_quota(docs, "source", 5))
    assert plan.count("Exchange") == 1  # the window's hash partitioning


def test_tf_idf_broadcasts_corpus_size(spark):
    """The 1-row corpus-size frame must join by broadcast, never by
    shuffling the tf table."""
    from xml_to_sqlite3_spark.operators import curation as C

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    plan = _physical(C.tf_idf(docs))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "EvalPython" not in plan


def test_xref_store_is_full_and_prunable(spark):
    """The cache stores the FULL xref multiset: consumers must see a
    bare parquet scan — no scan-time explode (Generate) or union —
    so reference_type predicates and column pruning reach the scan.
    (Round 4 stored a half set + derive-explode: filters could not
    push below the explode and self-joins paid the scan twice —
    bidirectional_refs went 0.99s -> 22.8s.)"""
    from xml_to_sqlite3_spark.plans import node_graph as NG

    _, _, xrefs = NG.get_graph(spark, SF_SMOKE)
    plan = _physical(xrefs)
    assert plan.count("Scan parquet") == 1, plan
    assert "Union" not in plan
    assert "Generate" not in plan, "scan-time explode is back"

    # a type-filtered consumer prunes at the DIRECTORY level — the
    # store is partitioned by reference_type, so the predicate must
    # appear as a partition filter on the scan (file-skip, stronger
    # than row-group stats pushdown)
    filtered = xrefs.filter(xrefs.reference_type == "parent_child")
    fplan = _physical(filtered)
    assert "PartitionFilters: [" in fplan, fplan
    part = fplan.split("PartitionFilters: [")[1].split("]")[0]
    assert "reference_type" in part, fplan

    # broken_references consumes the stored set directly
    plan2 = _physical(NG.broken_references(spark, SF_SMOKE))
    assert "Generate" not in plan2, plan2


def test_q4_semi_join_with_pushed_date_filter(spark):
    """Q4 must be a LEFT SEMI (never a fact-fact materialization) and
    the orders quarter filter must reach the parquet scan."""
    from xml_to_sqlite3_spark.plans import tpch_shapes as TS

    plan = _physical(TS.q4_late_shipments(spark, SF_SMOKE))
    assert "LeftSemi" in plan, plan
    assert "PushedFilters: [" in plan
    assert "o_orderdate" in plan.split("PushedFilters: [")[1].split("]")[0]


def test_q22_anti_join_and_scalar_broadcast(spark):
    """Q22: the 1-row average broadcasts; the urgent-orders side is a
    LEFT ANTI with its priority filter pushed down."""
    from xml_to_sqlite3_spark.plans import tpch_shapes as TS

    plan = _physical(TS.q22_inactive_customers(spark, SF_SMOKE))
    assert "LeftAnti" in plan, plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    assert "o_orderpriority" in plan  # filter present on the anti side


def test_q13_stays_left_outer(spark):
    """Q13's join-side predicate must NOT degrade the join to inner —
    zero-order customers are the point of the query."""
    from xml_to_sqlite3_spark.plans import tpch_shapes as TS

    plan = _physical(TS.q13_customer_distribution(spark, SF_SMOKE))
    assert "LeftOuter" in plan, plan


def test_q18_aggregates_before_joining(spark):
    """The HAVING aggregation must run below the joins so only
    qualifying orderkeys are joined (agg-first shape)."""
    from xml_to_sqlite3_spark.plans import tpch_shapes as TS

    plan = _physical(TS.q18_large_volume(spark, SF_SMOKE))
    # the per-orderkey aggregate appears deeper in the plan (printed
    # later) than the first join operator
    first_join = min(
        i for i in (plan.find("SortMergeJoin"), plan.find("BroadcastHashJoin"))
        if i >= 0
    )
    agg_pos = plan.find("HashAggregate(keys=[l_orderkey")
    assert agg_pos > first_join >= 0, plan


def test_q7_broadcasts_nation_twice(spark):
    from xml_to_sqlite3_spark.plans import tpch_shapes as TS

    plan = _physical(TS.q7_volume_shipping(spark, SF_SMOKE))
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_projection_and_cms_have_no_python_and_no_shuffle(spark):
    """random_sign_projection is a pure narrow Column pass; the CMS is
    one explode + one partial-aggregated hash agg — neither may pull
    in a Python eval."""
    from xml_to_sqlite3_spark.operators.curation import count_min_sketch
    from xml_to_sqlite3_spark.operators.similarity import random_sign_projection

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    plan = _physical(random_sign_projection(emb))
    assert "EvalPython" not in plan
    assert "Exchange" not in plan, "projection must not shuffle"

    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    plan2 = _physical(count_min_sketch(ev, "user_id"))
    assert "EvalPython" not in plan2
    assert "partial_count" in plan2 or "HashAggregate" in plan2


def test_node_references_prunes_both_point_filters(spark):
    """node_references must be a UNION of two single-column point
    filters — an OR across source/target columns defeats row-group
    pruning entirely (no single column's min/max can reject a group)
    and forced a full multiset scan per call in r5 (4.28s, 5.5x its
    r01 time). Both branches' predicates must be pushed to the scan."""
    from xml_to_sqlite3_spark.plans import node_graph as NG

    plan = _physical(NG.node_references(spark, SF_SMOKE))
    assert "Union" in plan, plan
    assert plan.count("Scan parquet") == 2, plan
    pushed = [
        seg.split("]")[0] for seg in plan.split("PushedFilters: [")[1:]
    ]
    assert any("source_node_id" in p and "Or(" not in p for p in pushed), pushed
    assert any("target_node_id" in p and "Or(" not in p for p in pushed), pushed


def test_xref_store_sorted_by_source_within_files(spark):
    """The xref store's files must be internally sorted by
    source_node_id (range partition + sortWithinPartitions at build):
    that is what gives every row group a tight (min, max) source
    range, so point filters prune from the footer. Checked directly
    on the written parquet, not the plan."""
    import os

    import pyarrow.parquet as pq

    from xml_to_sqlite3_spark.plans import node_graph as NG

    NG.get_graph(spark, SF_SMOKE)  # ensure the cache exists
    root = os.path.join(GRAPH.root(), NG._graph_cache_key(SF_SMOKE), "xrefs")
    checked = 0
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            col = pq.read_table(
                os.path.join(dirpath, f), columns=["source_node_id"]
            ).column("source_node_id").to_pylist()
            assert col == sorted(col), f"{dirpath}/{f} not sorted by source"
            checked += 1
    assert checked > 0, "no xref parquet files found"


def test_bm25_topk_is_distributed(spark):
    """The final ranking must be a TakeOrdered (per-partition local
    top-k, driver merge) — never a global single-partition row_number
    window over every scored doc (at 100 TB a common query term puts
    millions of scored rows through ONE task). The rank window runs
    post-limit over k rows only."""
    from xml_to_sqlite3_spark.plans import llm_pipeline as LP

    plan = _physical(LP.bm25_search_q(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan, plan

    # the term lookup must reach the persistent index's parquet scan
    # as a pushed filter — the token-sorted layout then prunes row
    # groups, so a query reads index slices, never the whole index.
    # (Asserted on the pre-checkpoint filter: the query itself pins
    # hits behind an eager localCheckpoint, which hides the scan
    # from its executed plan.)
    import os

    from pyspark.sql import functions as F

    from xml_to_sqlite3_spark.operators.search import get_text_index

    idx, _, _ = get_text_index(
        spark, os.path.join(SF_SMOKE, "documents.parquet")
    )
    fplan = _physical(idx.filter(F.col("token").isin(["data", "query"])))
    assert "PushedFilters: [" in fplan
    pushed = fplan.split("PushedFilters: [")[1].split("]")[0]
    assert "token" in pushed, fplan


def test_q2_decorrelates_min_into_single_pass(spark):
    """Q2's per-part minimum must be ONE aggregation over the
    candidate set joined back — not a re-aggregation per row — and
    the region gate must ride broadcast dimension joins. The gate
    checkpoints the candidate frame (two consumers), so the
    broadcast-dim chain is pinned on the pre-checkpoint builder and
    the join-back shape on the gate plan (its candidate side must be
    the materialized Scan ExistingRDD, proving the expensive build
    is not re-run per consumer)."""
    from xml_to_sqlite3_spark.plans import tpch_shapes as T

    cand_plan = _physical(T._q2_candidates(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in cand_plan
    assert "EvalPython" not in cand_plan

    plan = _physical(T.q2_min_cost_supplier(spark, SF_SMOKE))
    assert "Scan ExistingRDD" in plan
    assert "EvalPython" not in plan


def test_q11_single_aggregation_plus_scalar_broadcast(spark):
    """Q11's HAVING threshold is a 1-row broadcast of the already-
    computed total — the per-part value aggregate must appear
    exactly twice (partial + final), not four times (which would
    mean the total re-aggregated the corpus)."""
    from xml_to_sqlite3_spark.plans import tpch_shapes as T

    plan = _physical(T.q11_important_parts(spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # the nation filter must reach the scan side, not post-join
    assert "EvalPython" not in plan


def test_q16_excludes_suppliers_by_anti_join(spark):
    from xml_to_sqlite3_spark.plans import tpch_shapes as T

    plan = _physical(T.q16_supplier_counts(spark, SF_SMOKE))
    assert "LeftAnti" in plan
    assert "EvalPython" not in plan


def test_q20_semi_join_not_correlated(spark):
    from xml_to_sqlite3_spark.plans import tpch_shapes as T

    plan = _physical(T.q20_dominant_suppliers(spark, SF_SMOKE))
    assert "LeftSemi" in plan
    assert "EvalPython" not in plan


def test_bloom_bits_broadcast_into_probe(spark):
    """The Bloom bit table is model-sized and must broadcast into
    the probe join — a shuffle of the probe side against a 4k-row
    sketch would be the scale mistake."""
    from pyspark.sql import functions as F

    from xml_to_sqlite3_spark.operators.curation import bloom_bits, bloom_filter

    vals = spark.range(0, 1000).select(F.col("id").cast("string").alias("v"))
    bits = bloom_bits(vals.limit(100), "v", 1024, 3)
    plan = _physical(bloom_filter(vals, "v", bits, 1024, 3))
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan


def test_price_percentiles_never_buffers_the_multiset(spark):
    """price_percentiles must route through exact_percentiles'
    sketch-then-refine (percentile_approx band + exact in-band
    refinement) — Spark's exact `percentile` aggregate buffers each
    group's FULL value multiset in one aggregation state, the last
    100 TB memory cliff this repo retired. r16: the GK sketch rides
    the collected count aggregate (a separate job), so the RETURNED
    plan contains neither percentile form — only the refine pass's
    collect_list over the pruned band. The pin is that the exact
    `percentile(` aggregate never reappears anywhere and the band
    refine (sort_array over in-band values) is what remains."""
    from xml_to_sqlite3_spark.plans import olap_ext as OE

    plan = _physical(OE.price_percentiles(spark, SF_SMOKE))
    assert "percentile(" not in plan.replace("percentile_approx", ""), plan
    assert "collect_list" in plan, plan  # the pruned-band refine
    assert "EvalPython" not in plan


def test_length_batches_windows_stay_bucket_partitioned(spark):
    """No global order-everything window: every window in the
    batching plan must carry a partition spec (the length bucket)."""
    from xml_to_sqlite3_spark.operators.curation import (
        length_bucketed_batches,
    )
    from pyspark.sql import functions as F

    docs = spark.range(0, 500).select(
        F.col("id").alias("doc_id"),
        (F.pmod(F.col("id") * 13, 300) + 1).alias("n_tokens"),
    )
    plan = _physical(
        length_bucketed_batches(docs, tokens_col="n_tokens")
    )
    import re

    for m in re.finditer(r"Window \[", plan):
        seg = plan[m.start() : m.start() + 400]
        assert "bucket" in seg, "a window lost its bucket partitioning"


def test_sibling_write_shuffles_chunks_not_pairs(spark):
    """The store's fat-tier sibling write must range-shuffle member
    CHUNKS and generate the k² pair multiset ONLY inside the write
    tasks: both pair-producing explodes must sit ABOVE the range
    exchange in the physical plan. A regression to pair-row staging
    (explode below the exchange) re-creates the measured ~210s
    pair-multiset shuffle at sf1 — this pin is the structural guard
    the r9 sf1 win was missing."""
    from pyspark.sql import functions as F

    import xml_to_sqlite3_spark.plans.node_graph as NG

    old_k, old_r = NG._SIB_FAT_K, NG._SIB_ROWS_PER_SLICE
    NG._SIB_FAT_K, NG._SIB_ROWS_PER_SLICE = 1, 20
    try:
        rows = [
            (f"n{i:02d}", "t", "doc", "p", i, None, "/x") for i in range(30)
        ]
        nodes = spark.createDataFrame(
            rows,
            "id string, node_type string, document_id string,"
            " parent_id string, position int, content string, xpath string",
        )
        chunks = NG._sibling_chunks(nodes)
        write_frame = NG._sibling_rows(
            chunks.repartitionByRange(4, "min_source"), chunks
        )
        plan = _physical(write_frame)
        ex = plan.find("Exchange rangepartitioning")
        assert ex != -1, plan
        # every Generate (the two chained explodes) must appear
        # BEFORE the exchange in the plan string = ABOVE it in the
        # tree (executedPlan prints top-down)
        gen_positions = [
            m.start()
            for m in __import__("re").finditer(r"Generate explode", plan)
        ]
        assert len(gen_positions) >= 2, plan
        assert all(p < ex for p in gen_positions), plan
    finally:
        NG._SIB_FAT_K, NG._SIB_ROWS_PER_SLICE = old_k, old_r


def test_nb_classify_model_joins_are_broadcast(spark):
    """The NB scoring joins (vocab semi, model, class grid) must stay
    broadcast — a shuffle join on the token key would exchange the
    full exploded test-token table at 100 TB."""
    from xml_to_sqlite3_spark.plans import llm_pipeline

    plan = _physical(llm_pipeline.nb_classify(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_weighted_sample_window_stays_group_partitioned(spark):
    """The per-group rank must be a group-partitioned window — a
    global (empty-partition-spec) window funnels the corpus through
    one task."""
    from xml_to_sqlite3_spark.plans import curation_q

    plan = _physical(curation_q.weighted_source_sample(spark, SF_SMOKE))
    # a global window would plan Exchange SinglePartition; the group
    # window hashes on the group key instead
    assert "Exchange SinglePartition" not in plan
    assert "hashpartitioning(source" in plan


def test_hard_negatives_broadcasts_query_side(spark):
    """The corpus side must never broadcast or shuffle — queries are
    the broadcast side of the nested-loop join (same contract as
    cosine_topk)."""
    from xml_to_sqlite3_spark.plans import llm_pipeline

    plan = _physical(llm_pipeline.hard_negatives(spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" in plan


def test_fuzzy_match_blocked_join_no_python(spark):
    """Candidate generation must be an equi-join on the block key
    (hash-joinable), the bounded levenshtein stays JVM-side, and the
    length prefilter sits in the join, not after it."""
    from xml_to_sqlite3_spark.operators.dedup import fuzzy_match

    df = spark.read.parquet(f"{SF_SMOKE}/part.parquet")
    plan = _physical(
        fuzzy_match(df, id_col="p_partkey", name_col="p_name", max_dist=2)
    )
    assert "EvalPython" not in plan  # levenshtein is a JVM expression
    assert "CartesianProduct" not in plan
    assert "levenshtein" in plan


def test_psi_drift_no_row_joins_between_windows(spark):
    """The two windows are never joined row-to-row: the plan holds
    aggregates + a bins-sized grid, no Python, nothing cartesian over
    data-sized inputs (the only cross joins carry 1-row broadcast
    stats)."""
    from xml_to_sqlite3_spark.operators.curation import psi_drift

    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    ref = ev.filter("event_id % 2 = 0")
    cur = ev.filter("event_id % 2 = 1")
    plan = _physical(psi_drift(ref, cur, value_col="value", bins=10))
    assert "EvalPython" not in plan
    assert "SortMergeJoin" not in plan  # bins grid joins broadcast


def test_pq_search_single_arrow_pass_and_topk(spark):
    """ADC scoring is ONE ArrowEvalPython stage over the codes column
    and the top-k is a TakeOrdered, never a global sort/window."""
    from xml_to_sqlite3_spark.operators import similarity as S

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    books = S.pq_train(emb, m=4, ks=8, n_iter=1)
    codes = S.pq_encode(emb, books)
    q = emb.filter("vec_id = 0").select("embedding").first()[0]
    plan = _physical(S.pq_topk(codes, books, q, k=10))
    assert "TakeOrderedAndProject" in plan
    assert plan.count("ArrowEvalPython") <= 2  # encode + ADC, batched
    assert "Window" not in plan


def test_zipf_slope_is_constant_size_regression(spark):
    """The regression input is the TakeOrdered top-1000 — the
    rank window runs over 1000 rows, never the vocabulary."""
    from xml_to_sqlite3_spark.plans.llm_pipeline import zipf_slope

    plan = _physical(zipf_slope(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan
    assert "EvalPython" not in plan


def test_pii_report_single_aggregation_no_python(spark):
    """The PII audit is a pure map + ONE combinable groupBy: exactly
    the partial/final agg exchange, no Python, no joins."""
    from xml_to_sqlite3_spark.operators import curation as C

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    plan = _physical(C.pii_report(docs))
    # one agg exchange + the output orderBy's range exchange
    assert plan.count("Exchange") <= 2
    assert "EvalPython" not in plan
    assert "Join" not in plan


def test_shard_assignment_no_single_partition_window(spark):
    """The within-shard rank must come from the two-phase cumsum:
    every window is partitioned (shard / shard+bucket), never a
    global SinglePartition sort of the corpus."""
    from xml_to_sqlite3_spark.operators import curation as C

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    df = C.shard_assignment(docs, n_shards=8)
    plan = _physical(df)
    import re as _re

    # the only SinglePartition exchange allowed is none at all —
    # the final orderBy compiles to rangepartitioning, windows to
    # hashpartitioning on (shard[, bucket])
    assert "Exchange SinglePartition" not in plan
    assert "EvalPython" not in plan
    assert _re.search(r"hashpartitioning\(shard", plan)


def test_line_dedup_winner_window_shuffles_keys_not_text(spark):
    """r15: the duplicate-line winner decision travels as 16-byte
    hash keys + positions; the line TEXT must never cross an
    exchange (it is cut from the document's own split() array
    in-row). The old plan's collect_list of (line_idx, line)
    structs — the text-payload reassembly shuffle — must not
    reappear."""
    from xml_to_sqlite3_spark.operators import curation as C

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    plan = _physical(C.line_dedup(docs))
    # removal lists collect integer positions only
    assert "collect_list(line_idx" in plan
    assert "sort_array" not in plan
    assert "struct(line_idx" not in plan
    # every hash-partitioned exchange carries keys/ids, not lines
    for seg in plan.split("Exchange hashpartitioning(")[1:]:
        keys = seg.split(")")[0]
        assert "line#" not in keys and "text#" not in keys


def test_table_profile_never_sorts_the_expand(spark):
    """r15: the profile's two aggregates must plan hash-side — the
    distinct counts aggregate the Expand by hash (long buffers) and
    the string min/max run as a grouping-free global pass — so no
    Sort node may appear anywhere (the old combined aggregate
    sorted (n_cols+1) x the scan rows on the 6-part expand key)."""
    import re as _re

    from xml_to_sqlite3_spark.operators import curation as C

    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    plan = _physical(
        C.table_profile(orders, ["o_orderkey", "o_orderstatus", "o_orderdate"])
    )
    assert "Expand" in plan  # the distinct rewrite is still one scan
    assert "HashAggregate" in plan
    assert not _re.search(r"\(\d+\) Sort\b", plan)
    assert not _re.search(r"^\s*[:+-]+ Sort\b", plan, _re.M)


def test_nb_token_path_has_no_python(spark):
    """r16: NB tokenization is fully native (search.tokenize explode
    of raw occurrences) — the r15 Arrow per-document pre-count added
    an ArrowEvalPython boundary for a reduction the downstream
    partial aggregations already did map-side. Zero Python stages in
    the whole train+score plan."""
    from xml_to_sqlite3_spark.plans import llm_pipeline

    plan = _physical(llm_pipeline.nb_classify(spark, SF_SMOKE))
    assert "EvalPython" not in plan, "NB path dropped into Python"


def test_ivf_topk_broadcasts_probes_without_distinct(spark):
    """r15 pin (VERDICT item 9): the IVF candidate join broadcasts
    the probed query side (the corpus is never shuffled on the k-ary
    cluster key) and the provably-no-op candidate .distinct() stays
    gone — its reappearance would be a full shuffle+agg of every
    candidate pair."""
    from xml_to_sqlite3_spark.plans import llm_pipeline

    plan = _physical(llm_pipeline.ann_ivf(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan, plan
    # the cosine/top-k window is the only aggregation-ish step left;
    # a candidate distinct would re-introduce a hashpartitioning
    # exchange on (query_id, neighbor_id)
    assert "hashpartitioning(query_id#" in plan or "hashpartitioning(query_id," in plan
    assert "hashpartitioning(neighbor_id" not in plan, plan


def test_bloom_prefilter_pushes_split_range(spark):
    """r15 pin (VERDICT item 9): the eval/train split must reach the
    win8 postings store scan as a pushed doc_id range — and the
    membership probe is k broadcast semi-joins, never a shuffle of
    the exploded postings."""
    import re

    from xml_to_sqlite3_spark.plans import curation_q

    plan = _physical(curation_q.bloom_prefilter(spark, SF_SMOKE))
    assert re.search(r"doc_id#\d+L >= 10", plan), "train-split range not pushed"
    assert "EvalPython" not in plan


def test_assortativity_broadcasts_degree_join(spark):
    """r16: the degree join-back must broadcast the (checkpointed,
    node-domain-sized) degree table — a sort-merge join here shuffles
    the full directed-edge list by a string key, the measured 2x cost
    of the r15 form."""
    from xml_to_sqlite3_spark.plans import node_graph

    plan = _physical(node_graph.graph_assortativity(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
