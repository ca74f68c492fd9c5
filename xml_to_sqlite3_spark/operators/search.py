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

from ..cache_util import INDEX, content_key, read_tables

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
) -> DataFrame:
    """Inverted index: (token, doc_id, tf, doc_len). One explode +
    one groupBy, returned LAZY: an index is a write-once/query-many
    artifact (the reference roadmap's FTS5 is a *persistent* index),
    so :func:`get_text_index` writes it once per corpus content. A
    lazy index read by several plan branches is recomputed per branch
    (bench r4: one bm25_search call re-ran the explode+groupBy 3x) —
    query the persisted index, not this frame."""
    par = df.sparkSession.sparkContext.defaultParallelism
    toks = (
        df.repartition(par, id_col)
        .select(F.col(id_col).alias("doc_id"), tokenize(F.col(text_col)).alias("toks"))
        .select("doc_id", F.size("toks").alias("doc_len"), F.explode("toks").alias("token"))
    )
    idx = toks.groupBy("token", "doc_id", "doc_len").agg(
        F.count(F.lit(1)).alias("tf")
    )
    return idx


# ---------------------------------------------------------------------------
# Persistent index cache: an inverted index is a write-once /
# query-many artifact (the reference roadmap's FTS5 is a *persistent*
# index), but localCheckpoint blocks die with the session — every new
# session was paying the ~3s explode+groupBy rebuild. The store
# lifecycle is the SHARED cache_util.INDEX; this module owns only the
# index-specific parts: what to build and the _COMPLETE marker's
# corpus-stats payload.
# ---------------------------------------------------------------------------


def _load_index(spark, final: str) -> tuple[DataFrame, int, float]:
    """(index, n_docs, avgdl) of a published entry — the corpus stats
    ride in its _COMPLETE marker."""
    with open(os.path.join(final, "_COMPLETE")) as f:
        meta = json.load(f)
    index = read_tables(spark, final, ("index",))["index"]
    return index, int(meta["n_docs"]), float(meta["avgdl"])


def _index_key(src_path: str, id_col: str, text_col: str) -> str:
    """THE content key of a text-index entry (the _minhash_store_key
    discipline)."""
    extra = f"{id_col}|{text_col}"
    return content_key("i", src_path, __file__, extra=extra)


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
        idx = build_text_index(docs, id_col=id_col, text_col=text_col)
        par = spark.sparkContext.defaultParallelism
        (
            idx.repartitionByRange(par, "token")
            .sortWithinPartitions("token")
            .write.mode("overwrite")
            .parquet(f"{tmp}/index")
        )
        # avgdl derives from the EXACT integer doc-length sum
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
                },
                f,
            )

    return INDEX.get(spark, ck, _build, lambda final: _load_index(spark, final))


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
