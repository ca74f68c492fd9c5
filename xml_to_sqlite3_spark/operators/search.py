"""Full-text search: inverted index + BM25 ranking.

The reference's README roadmap plans "FTS indexes for full-text
search" (SQLite FTS5); the Spark-first equivalent is an inverted
index DataFrame (token -> posting list with term frequencies) and a
BM25 scorer expressed as joins + window top-k. Deterministic (ties
break on doc_id), so it is oracle-checkable in plain SQL.

Scale shape: the index build is one explode + two aggregations
(all map-side combinable); a query is a broadcast semi-join of its
terms against the index — no scan of the corpus text at query time.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..cache_util import CHAIN_HINT, INDEX, content_key, link_tree, read_tables

K1 = 1.2
B = 0.75


def tokenize(text_col) -> F.Column:
    # collapse FIRST, then trim: Spark trim strips only spaces, so a
    # trailing newline would survive trim, collapse to a trailing
    # space, and split into an empty token that inflates doc_len and
    # enters the index. Empty tokens are filtered to cover the
    # all-whitespace-document edge.
    return F.filter(
        F.split(F.lower(F.trim(F.regexp_replace(text_col, r"\s+", " "))), " "),
        lambda t: t != "",
    )


def build_text_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    materialize: bool = True,
) -> DataFrame:
    """Inverted index: (token, doc_id, tf, doc_len). One explode +
    one groupBy.

    ``materialize=True`` (the default) eagerly localCheckpoints the
    built index — an index is a write-once/query-many artifact (the
    reference roadmap's FTS5 is a *persistent* index), and a lazy
    index is recomputed from the corpus by every plan branch that
    touches it: bench r4 measured one bm25_search call re-running
    the full explode+groupBy 3x (hits, the stats aggregate, and
    df_per_term are three branches), 9.8s vs 2.1s materialized. At
    cluster scale the equivalent is writing the index table to the
    warehouse once."""
    par = df.sparkSession.sparkContext.defaultParallelism
    toks = (
        df.repartition(par, id_col)
        .select(F.col(id_col).alias("doc_id"), tokenize(F.col(text_col)).alias("toks"))
        .select("doc_id", F.size("toks").alias("doc_len"), F.explode("toks").alias("token"))
    )
    idx = toks.groupBy("token", "doc_id", "doc_len").agg(
        F.count(F.lit(1)).alias("tf")
    )
    return idx.localCheckpoint(eager=True) if materialize else idx


# ---------------------------------------------------------------------------
# Persistent index cache: an inverted index is a write-once /
# query-many artifact (the reference roadmap's FTS5 is a *persistent*
# index), but localCheckpoint blocks die with the session — every new
# session was paying the ~3s explode+groupBy rebuild. The store
# lifecycle is the SHARED cache_util.INDEX; this module owns only the
# index-specific parts: what to build and the _COMPLETE marker's
# corpus-stats payload.
# ---------------------------------------------------------------------------


def _load_index(spark, final: str) -> tuple[DataFrame, int, float, str]:
    """(index, n_docs, avgdl, path) of a published entry — the corpus
    stats ride in its _COMPLETE marker."""
    with open(os.path.join(final, "_COMPLETE")) as f:
        meta = json.load(f)
    index = read_tables(spark, final, ("index",))["index"]
    return index, int(meta["n_docs"]), float(meta["avgdl"]), final


def _index_key(
    src_path: str, id_col: str, text_col: str, append: str = ""
) -> str:
    """THE content key of a text-index entry — one definition shared
    by the build, the append path, and the streaming maintenance
    attach (the _minhash_store_key discipline), so a key-format
    change can never desynchronize a reader from its entry."""
    extra = f"{id_col}|{text_col}"
    if append:
        extra = f"{extra}|append|{append}"
    return content_key(
        "i", src_path, extra=extra, code_files=(__file__,), suffixes=(".parquet",)
    )


def get_text_index(
    spark,
    src_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, int, float]:
    """(index, n_docs, avgdl) for the parquet corpus at ``src_path``,
    built once per CONTENT and persisted.

    The on-disk layout is range-partitioned + sorted on ``token`` so
    a query's ``token IN (...)`` point filters prune row groups from
    the footer min/max stats — cold lookups read the matching slices
    of the index, never the whole thing. Corpus stats (N, avgdl) ride
    in the _COMPLETE marker, so a warm session pays zero jobs before
    the scoring query itself.

    Cache identity covers the INPUT content, the build columns
    (id_col/text_col — an index over different columns is a
    different index), and the build code — both on disk and for the
    in-session memo, so a parquet rewrite or a different-column call
    can never return a stale or wrong index.
    """
    ck = _index_key(src_path, id_col, text_col)

    def _build(tmp: str) -> None:
        docs = spark.read.parquet(src_path)
        idx = build_text_index(
            docs, id_col=id_col, text_col=text_col, materialize=False
        )
        par = spark.sparkContext.defaultParallelism
        (
            idx.repartitionByRange(par, "token")
            .sortWithinPartitions("token")
            .write.mode("overwrite")
            .parquet(f"{tmp}/index")
        )
        # document inventory (EVERY input doc, including token-less
        # ones absent from the index): the append path's new-docs
        # guard reads this instead of scanning the postings
        docs.select(F.col(id_col).alias("doc_id")).distinct().write.mode(
            "overwrite"
        ).parquet(f"{tmp}/doc_ids")
        # store the EXACT integer doc-length sum alongside the doc
        # count (avgdl derives as sum/n): the append path then merges
        # stats with integer arithmetic and reproduces the rebuilt
        # entry's avgdl bit-exactly, instead of reconstructing the
        # sum from a rounded float average
        srow = (
            spark.read.parquet(f"{tmp}/index")
            .select("doc_id", "doc_len")
            .distinct()
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("doc_len").alias("sum_dl"),
            )
            .first()
        )
        n, sum_dl = int(srow["n"]), int(srow["sum_dl"] or 0)
        with open(f"{tmp}/_COMPLETE", "w") as f:
            json.dump(
                {
                    "key": ck,
                    "n_docs": n,
                    "avgdl": (sum_dl / n) if n else 0.0,
                    "sum_dl": sum_dl,
                },
                f,
            )

    return INDEX.get(spark, ck, _build, lambda final: _load_index(spark, final))[:3]


def append_text_index(
    spark,
    src_path: str,
    delta_docs: DataFrame,
    delta_key: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    base_append: str = "",
) -> tuple[DataFrame, int, float, str]:
    """Publish a NEW index entry = the base index for ``src_path``
    plus ``delta_docs``, at O(delta) cost — the FOURTH persistent
    artifact's append path (node-graph / MinHash / components stores
    got theirs in r11/r12; with this every store the engine
    maintains takes snapshot appends).

    The inverted index is per-document rows — (token, doc_id, tf,
    doc_len) is a pure function of each document alone, and per-term
    df is derived at QUERY time from the postings — so the append is
    a hard-link clone plus a delta-only tokenize pass. The delta's
    own token-range partitioning keeps per-file min/max stats tight,
    so point-token row-group pruning keeps working across vintages.
    The two corpus scalars merge with integer arithmetic (N' = N +
    dN, sum_dl' = sum_dl + d_sum; avgdl derives), reproducing a full
    rebuild's stats bit-exactly. Guards reject re-sent or intra-delta
    duplicate doc ids (they would double postings and silently
    inflate tf/df). ``base_append`` CHAINS appends (the dedup store's
    contract): it names the append chain of the entry to append ONTO,
    so per-micro-batch streaming maintenance stacks O(delta) waves —
    chained == one-shot == rebuild stats bit-exactly, pinned by the
    streamed-maintenance test. Returns (index, n_docs, avgdl, path).
    """
    if base_append:
        base_ck = _index_key(src_path, id_col, text_col, append=base_append)
        base_dir = INDEX.require(
            base_ck,
            f"append_text_index: chained base entry (append chain {base_append!r})",
            CHAIN_HINT,
        )
        chain = f"{base_append}+{delta_key}"
    else:
        get_text_index(spark, src_path, id_col=id_col, text_col=text_col)
        base_ck = _index_key(src_path, id_col, text_col)
        base_dir = INDEX.path(base_ck)
        chain = delta_key
    ck = _index_key(src_path, id_col, text_col, append=chain)

    def _build(tmp: str) -> None:
        import shutil as _sh

        link_tree(base_dir, tmp, ("index", "doc_ids"), what="text index")
        delta_docs.write.mode("overwrite").parquet(f"{tmp}/delta_docs")
        dd = spark.read.parquet(f"{tmp}/delta_docs")
        dups = [
            r[id_col]
            for r in dd.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > 1)
            .limit(3)
            .collect()
        ]
        if dups:
            raise ValueError(
                f"append_text_index: delta carries doc ids {dups} more "
                "than once — a double-delivered batch would double their "
                "postings; dedupe the delta first"
            )
        base_ids = spark.read.parquet(f"{base_dir}/doc_ids")
        hits = [
            r["doc_id"]
            for r in dd.select(F.col(id_col).alias("doc_id"))
            .distinct()
            .join(base_ids, "doc_id")
            .limit(3)
            .collect()
        ]
        if hits:
            raise ValueError(
                f"append_text_index: doc ids {hits} already exist in the "
                "base index — appends must carry NEW documents; changed "
                "documents need a rebuild"
            )
        # materialize=True: the delta index has TWO consumers below
        # (the partitioned write and the stats aggregate) — the eager
        # checkpoint runs the tokenize pass once, and it is delta-sized
        didx = build_text_index(dd, id_col=id_col, text_col=text_col)
        par = spark.sparkContext.defaultParallelism
        (
            didx.repartitionByRange(max(2, par // 4), "token")
            .sortWithinPartitions("token")
            .write.mode("append")
            .parquet(f"{tmp}/index")
        )
        dd.select(F.col(id_col).alias("doc_id")).distinct().write.mode(
            "append"
        ).parquet(f"{tmp}/doc_ids")
        # merge the scalar stats: integer arithmetic, bit-exact vs a
        # full rebuild. Re-read ONLY the delta's own aggregate (the
        # appended files are the delta slice of the index dir — but
        # reading by file subset is brittle; the delta index frame is
        # still in scope and cheap)
        dsrow = (
            didx.select("doc_id", "doc_len")
            .distinct()
            .agg(F.count(F.lit(1)).alias("n"), F.sum("doc_len").alias("s"))
            .first()
        )
        with open(os.path.join(base_dir, "_COMPLETE")) as f:
            base_meta = json.load(f)
        if "sum_dl" not in base_meta:
            raise ValueError(
                f"base index at {base_dir} predates the sum_dl stats "
                "layout — rebuild the base before appending"
            )
        n = int(base_meta["n_docs"]) + int(dsrow["n"] or 0)
        sum_dl = int(base_meta["sum_dl"]) + int(dsrow["s"] or 0)
        with open(f"{tmp}/manifest.json", "w") as f:
            json.dump({"kind": "append", "base_key": base_ck, "delta_key": delta_key}, f)
        _sh.rmtree(f"{tmp}/delta_docs", ignore_errors=True)
        with open(f"{tmp}/_COMPLETE", "w") as f:
            json.dump(
                {
                    "key": ck,
                    "n_docs": n,
                    "avgdl": (sum_dl / n) if n else 0.0,
                    "sum_dl": sum_dl,
                },
                f,
            )

    return _load_index(spark, INDEX.publish(ck, _build))


def bm25_search(
    index: DataFrame,
    query: str,
    k: int = 10,
    n_docs: int | None = None,
    avg_len: float | None = None,
) -> DataFrame:
    """Rank documents for a whitespace query with BM25
    (idf = ln((N - df + 0.5)/(df + 0.5) + 1), the Lucene form).

    Corpus stats (N, avgdl): pass precomputed values (at scale:
    compute once at index-build time and store with the index), or
    leave None and they are derived INSIDE the query plan as a
    broadcast 1-row aggregate — either way no driver-side
    ``collect()`` runs before the scoring query."""
    terms = sorted(set(query.lower().split()))
    # the query-term postings are tiny (|terms| x df rows); pin them
    # so the two consumers below (df_per_term, scored) don't rescan
    # the index per branch
    hits = index.filter(F.col("token").isin(terms)).localCheckpoint(eager=True)

    if n_docs is None or avg_len is None:
        stats = (
            index.select("doc_id", "doc_len")
            .distinct()
            .agg(F.count(F.lit(1)).alias("__n"), F.avg("doc_len").alias("__avgdl"))
        )
        hits = hits.crossJoin(F.broadcast(stats))
        n_col, avgdl_col = F.col("__n"), F.col("__avgdl")
    else:
        n_col, avgdl_col = F.lit(float(n_docs)), F.lit(float(avg_len))

    df_per_term = hits.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))

    idf = F.log((n_col - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    tf_norm = (F.col("tf") * (K1 + 1)) / (
        F.col("tf") + K1 * (1 - B + B * F.col("doc_len") / avgdl_col)
    )
    scored = (
        hits.join(F.broadcast(df_per_term.select("token", "df")), "token")
        .withColumn("term_score", idf * tf_norm)
        .groupBy("doc_id")
        .agg(F.round(F.sum("term_score"), 6).alias("bm25"))
    )
    # Distributed top-k: orderBy().limit(k) plans a TakeOrdered (each
    # partition keeps its local k, the driver merges k*parts rows) —
    # never a global single-partition row_number window, which at
    # 100 TB would funnel every scored doc for a common term through
    # ONE task. The rank column is derived AFTER the limit, over k
    # rows only (same shape as node_graph.most_connected).
    top = scored.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(k)
    w = W.orderBy(F.desc("bm25"), F.asc("doc_id"))
    return top.withColumn("rank", F.row_number().over(w)).orderBy("rank")


def rrf_fuse(
    ranked_lists: list[DataFrame],
    k: int = 10,
    c: int = 60,
    id_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al.): combine N ranked
    lists into one by score(d) = sum over lists of 1/(c + rank_d).
    The standard lexical+dense hybrid-search combiner — rank-based,
    so BM25 scores and cosines need no calibration against each
    other.

    Each input must carry (id_col, rank_col) with rank starting at 1.
    The inputs are top-k lists (k*N rows total), so the fusion is
    driver-cheap by construction: a unionByName of tiny frames, one
    k*N-row aggregation, and a TakeOrdered — at 100 TB the expensive
    part is producing the input lists (bm25_search / cosine_topk,
    both distributed), never this combiner.

    Returns (doc_id, rrf, n_lists, rank) — n_lists = how many input
    lists retrieved the doc (agreement signal). Ties break on doc_id
    ascending; rrf rounds to 6dp so the order is engine-portable.
    """
    if not ranked_lists:
        raise ValueError("rrf_fuse needs at least one ranked list")
    tagged = [
        df.select(
            F.col(id_col).alias("doc_id"),
            (F.lit(1.0) / (F.lit(float(c)) + F.col(rank_col))).alias("contrib"),
        )
        for df in ranked_lists
    ]
    u = tagged[0]
    for t in tagged[1:]:
        u = u.unionByName(t)
    scored = u.groupBy("doc_id").agg(
        F.round(F.sum("contrib"), 6).alias("rrf"),
        F.count(F.lit(1)).alias("n_lists"),
    )
    top = scored.orderBy(F.desc("rrf"), F.asc("doc_id")).limit(k)
    w = W.orderBy(F.desc("rrf"), F.asc("doc_id"))
    return top.withColumn("rank", F.row_number().over(w)).orderBy("rank")
