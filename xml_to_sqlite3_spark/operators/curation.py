"""Corpus-curation operators a large-scale training-data pipeline
needs beyond dedup/quality filtering: deterministic sampling and
dataset splits, per-source quota capping, text normalization, PII
redaction, document chunking, vocabulary / TF-IDF statistics, and a
KMV (K-minimum-values) distinct-count sketch.

Every operator here is pure Column expressions (JVM whole-stage
codegen — no Python in the hot path) and every one is deterministic,
so each has an exact DuckDB oracle in plans/curation_q.py.

Scale posture (100 TB):
- Sampling/splits/normalize/redact/chunk are narrow map-side
  transforms: no shuffle at all; filters push down to the scan.
- `source_quota` shuffles once on `source` (a window); skew on a hot
  source is bounded because the window only ranks and filters — at
  extreme skew swap in a two-phase rank (per-partition pre-cap then
  exact re-rank) without changing semantics.
- `vocabulary` / `tf_idf` are explode -> hash-aggregate: map-side
  partial aggregation handles the token long-tail; the final top-k
  is a tiny sorted limit.
- `kmv_distinct` aggregates to K rows total — the canonical
  sketch for "how many distinct X" at any scale.

The hash everywhere is the first 60 bits of md5 interpreted as an
integer — portable (identical in Spark, DuckDB, and Python) and
stable across runs/partitionings, which is what makes the sampling
reproducible: re-running the pipeline on a grown corpus keeps every
previously-selected document selected (per-key decision, no RNG
state).
"""

from __future__ import annotations

from typing import Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# the hash primitive lives in functions/hashing.py (its own module so
# the node-graph store's content key can cover it without keying on
# this whole file — r10 ADVICE); re-exported here because every
# curation operator and oracle builds on it
from ..functions.hashing import (
    HASH_BITS,
    HASH_SPACE,
    stable_hash60,
    stable_hash60_hi,
    stable_unit,
)


def stable_sample(df: DataFrame, key: str, fraction: float) -> DataFrame:
    """Deterministic fractional sample: keep rows whose hashed key
    lands below `fraction`. Unlike `df.sample()`, the decision is a
    pure function of the key — stable across runs, partitionings and
    cluster sizes, and consistent between tables sampled on the same
    key (the join of two stable samples is the stable sample of the
    join). No shuffle; the predicate is a map-side filter.
    """
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0,1], got {fraction}")
    return df.filter(stable_unit(F.col(key)) < fraction)


def train_val_test_split(
    df: DataFrame,
    key: str,
    val_fraction: float = 0.05,
    test_fraction: float = 0.05,
    label_col: str = "split",
) -> DataFrame:
    """Assign each row a deterministic train/val/test label from its
    hashed key. Guarantees: disjoint, exhaustive, stable under
    re-runs and data growth (a key never migrates between splits),
    and leak-safe — all rows with the same key land in the same
    split. Map-side only.
    """
    if val_fraction + test_fraction >= 1.0:
        raise ValueError("val + test fractions must leave room for train")
    u = stable_unit(F.col(key))
    label = (
        F.when(u < test_fraction, F.lit("test"))
        .when(u < test_fraction + val_fraction, F.lit("val"))
        .otherwise(F.lit("train"))
    )
    return df.withColumn(label_col, label)


def source_quota(
    df: DataFrame,
    group_col: str = "source",
    max_per_group: int = 100,
    order_col: str = "doc_id",
) -> DataFrame:
    """Cap documents per source/domain — the anti-over-representation
    step of corpus assembly (a single crawl domain must not dominate
    the training mix). Keeps the first `max_per_group` rows per group
    in ascending `order_col` order.

    One shuffle on `group_col`; the rank-and-filter window does no
    buffering beyond the group. Ties broken by the order column only
    — pass a unique column (or a (score, id) struct) for full
    determinism; the default doc_id is unique.
    """
    w = Window.partitionBy(group_col).orderBy(F.col(order_col).asc())
    return (
        df.withColumn("__rank", F.row_number().over(w))
        .filter(F.col("__rank") <= max_per_group)
        .drop("__rank")
    )


def normalize_text(col: Column) -> Column:
    """Canonical text normalization for dedup/tokenization: strip
    ASCII control characters, collapse all whitespace runs to single
    spaces, trim, lowercase. Pure regexp_replace chain (codegen;
    the regex subset is shared by Java and RE2 so oracles replicate
    it exactly).
    """
    no_ctl = F.regexp_replace(col, r"[\x00-\x1f\x7f]", " ")
    one_ws = F.regexp_replace(no_ctl, r"\s+", " ")
    return F.lower(F.trim(one_ws))


PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\+?\d[\d()\- ]{7,14}\d"


def redact_pii(col: Column) -> Column:
    """Replace emails, IPv4 addresses, and phone-shaped digit runs
    with fixed placeholder tokens. Order matters: emails first (an
    email can contain digit runs), then IPs (dotted digits would
    otherwise match the phone pattern), then phones. The patterns
    are the standard pre-training scrub set (C4/CCNet-style) kept to
    the Java∩RE2 regex subset so the DuckDB oracle is exact.
    """
    out = F.regexp_replace(col, PII_EMAIL, "<EMAIL>")
    out = F.regexp_replace(out, PII_IPV4, "<IP>")
    out = F.regexp_replace(out, PII_PHONE, "<PHONE>")
    return out


def pii_report(
    df: DataFrame,
    text_col: str = "text",
    by: str = "source",
) -> DataFrame:
    """Per-group PII audit (r15): how many email/IPv4/phone matches
    the scrub WILL remove, counted on the normalized text with the
    SAME patterns, same order, same intermediate replacements as
    :func:`redact_pii` — the before/after audit surface a pipeline
    reads to size the scrub and catch a source that leaks PII at an
    anomalous rate. Sharing the module-level pattern constants means
    the audit and the scrub cannot drift apart.

    Sequential counting mirrors the scrub's order-matters semantics:
    emails are counted on the normalized text, IPs on the
    email-redacted text (an email's host would otherwise never be
    IP-shaped, but dotted digit runs inside emails must not double
    count), phones on the email+IP-redacted text (dotted quads are
    phone-shaped). Returns (source, n_docs, emails, ips, phones,
    docs_with_pii, pii_doc_frac) ordered by source — a pure map +
    one map-side-combinable groupBy, no joins, no windows.
    """
    t = normalize_text(F.col(text_col))
    t1 = F.regexp_replace(t, PII_EMAIL, "<EMAIL>")
    t2 = F.regexp_replace(t1, PII_IPV4, "<IP>")
    per = df.select(
        F.col(by).alias("source"),
        F.regexp_count(t, F.lit(PII_EMAIL)).alias("__e"),
        F.regexp_count(t1, F.lit(PII_IPV4)).alias("__i"),
        F.regexp_count(t2, F.lit(PII_PHONE)).alias("__p"),
    )
    n = F.count(F.lit(1))
    hit = F.sum(
        ((F.col("__e") + F.col("__i") + F.col("__p")) > 0).cast("long")
    )
    return (
        per.groupBy("source")
        .agg(
            n.cast("long").alias("n_docs"),
            F.sum("__e").cast("long").alias("emails"),
            F.sum("__i").cast("long").alias("ips"),
            F.sum("__p").cast("long").alias("phones"),
            hit.alias("docs_with_pii"),
            F.round(hit / n.cast("double"), 6).alias("pii_doc_frac"),
        )
        .orderBy("source")
    )


def shard_assignment(
    df: DataFrame,
    n_shards: int = 32,
    id_col: str = "doc_id",
    tag: str = "shard",
) -> DataFrame:
    """Deterministic data-loader sharding (r15): every row gets
    (shard, pos) where shard = stable_hash60(tag|id) mod n_shards and
    pos = the row's 0-based rank within its shard ordered by (hash,
    id) — a reproducible global shuffle + shard layout that is a pure
    function of the ids, so a training run can resume mid-epoch on
    any worker count that divides the same shard set, and re-deriving
    the assignment on different cluster/partitioning produces the
    SAME order (the property ingestion-order-based sharding lacks).
    ``tag`` salts the hash so epoch-distinct shuffles are one string
    away (tag="epoch3|shard").

    Scale shape: the within-shard rank is the pack_training_sequences
    two-phase cumsum, not one window task per shard — phase 1 ranks
    within (shard, hash-bucket) using the hash's TOP bits (so bucket
    order == hash order within a shard), phase 2 computes each
    bucket's offset from bucket-level counts (≤ n_shards × 2¹⁶ rows)
    and broadcasts it back. Returns (id, shard, pos) with the
    original row intact semantics left to the caller (join back on
    id)."""
    if n_shards < 1:
        raise ValueError(f"shard_assignment: n_shards must be >= 1, got {n_shards}")
    h = stable_hash60(
        F.concat(F.lit(f"{tag}|"), F.col(id_col).cast("string"))
    )
    base = df.select(
        F.col(id_col),
        h.alias("__h"),
    ).select(
        id_col,
        "__h",
        (F.col("__h") % n_shards).cast("int").alias("shard"),
        # top 16 of the 60 hash bits: bucket order == hash order
        F.shiftrightunsigned(F.col("__h"), 44).cast("int").alias("__b"),
    )
    w_in = Window.partitionBy("shard", "__b").orderBy("__h", id_col)
    ranked = base.withColumn("__r", F.row_number().over(w_in))
    counts = base.groupBy("shard", "__b").agg(F.count(F.lit(1)).alias("__n"))
    w_off = (
        Window.partitionBy("shard")
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.withColumn(
        "__off", F.coalesce(F.sum("__n").over(w_off), F.lit(0))
    ).select("shard", "__b", "__off")
    return (
        ranked.join(offsets, ["shard", "__b"])
        .select(
            id_col,
            "shard",
            (F.col("__off") + F.col("__r") - 1).cast("long").alias("pos"),
        )
        .orderBy(id_col)
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Split each document into fixed-size whitespace-token windows
    with overlap — the unit-of-work transform before tokenization /
    embedding in a training pipeline. Chunk i covers tokens
    [i*stride, i*stride + chunk_tokens); the last start is
    stride * ceil((n - chunk_tokens) / stride) (floored at 0), the
    smallest stride multiple whose window reaches the final token —
    every token is covered, the tail chunk may be short, and no
    chunk is fully contained in its predecessor (a redundant tail
    would duplicate training text). Emits (doc_id, chunk_id,
    n_chunk_tokens, chunk_text).

    Pure sequence+transform+explode: no shuffle, no Python; output
    rows ~ n_tokens/stride per document, linear in input.
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.size(toks)
    last_start = (
        F.greatest(
            F.lit(0),
            F.ceil((n - F.lit(chunk_tokens)) / F.lit(stride)).cast("int"),
        )
        * F.lit(stride)
    )
    starts = F.sequence(F.lit(0), last_start, F.lit(stride))
    chunks = F.transform(
        starts, lambda s: F.slice(toks, s + F.lit(1), F.lit(chunk_tokens))
    )
    return (
        df.filter(F.length(F.trim(F.col(text_col))) > 0)
        .select(F.col(id_col), F.posexplode(chunks).alias("chunk_id", "__toks"))
        .select(
            id_col,
            "chunk_id",
            F.size("__toks").alias("n_chunk_tokens"),
            F.array_join("__toks", " ").alias("chunk_text"),
        )
    )


def vocabulary(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 100,
) -> DataFrame:
    """Corpus vocabulary: token -> (total count, document frequency),
    top_k by count. Explode -> two-level hash aggregate (map-side
    combine soaks the Zipf head); the top-k is TakeOrdered on k rows
    — no global sort materialization.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("token"),
    )
    agg = (
        toks.filter(F.col("token") != "")
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.countDistinct(id_col).alias("n_docs"),
        )
    )
    return agg.orderBy(F.col("n_total").desc(), F.col("token")).limit(top_k)


def tf_idf(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 1,
) -> DataFrame:
    """Smoothed TF-IDF weights per (document, token):
    idf = ln((N + 1) / (df + 1)) + 1 (sklearn's smooth_idf), weight
    = tf * idf. Two hash aggregates (doc-token tf, token df) and one
    broadcast of the 1-row corpus size — map-side combinable at any
    scale; `min_df` prunes the hapax tail before the join.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("token"),
    ).filter(F.col("token") != "")
    tf = toks.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    if min_df > 1:
        dfreq = dfreq.filter(F.col("df") >= min_df)
    n_docs = df.select(F.countDistinct(id_col).alias("n"))
    return (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            id_col,
            "token",
            "tf",
            "df",
            F.round(
                F.col("tf")
                * (F.log((F.col("n") + 1) / (F.col("df") + 1)) + F.lit(1.0)),
                6,
            ).alias("tf_idf"),
        )
    )


def gopher_quality(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_dup_line_frac: float = 0.30,
    max_top_bigram_frac: float = 0.18,
    min_alpha_word_frac: float = 0.80,
    word_len_range: tuple[float, float] = (3.0, 10.0),
) -> DataFrame:
    """Gopher/MassiveText-style repetition and shape filters: fraction
    of duplicate lines, most-frequent-bigram mass, alphabetic-word
    fraction, mean word length, and the combined pass flag.

    Plan shape (r14): a PURE MAP. All five metrics derive from
    per-document INTEGER counts computed in ONE Arrow UDF per batch
    (line counts, alpha-word count, summed word length, top-bigram
    count via a per-row Counter — O(n_bigrams) per row, not the
    O(n_bigrams²) an array-expression mode would be); every division
    and rounding stays Column-side, so the DuckDB value oracle
    replays unchanged (identical integers → identical IEEE doubles).
    The first cut computed the bigram mode with explode → (doc,
    bigram) count → max/sum → join back — TWO shuffles of
    bigram-sized data that the honest r14 bench priced at the whole
    gate's cost — and built words/lines with interpreted Column
    higher-order lambdas (the dup_spans/doc_fingerprint lesson). At
    100 TB this version is embarrassingly parallel: one scan, no
    exchange at all. Thresholds are the published Gopher rules
    (dup-line ≤0.30, top-2-gram ≤0.18, ≥80% alphabetic words, mean
    word length 3-10).
    """
    norm = normalize_text(F.col(text_col))

    @F.pandas_udf(
        "struct<n_lines: long, n_distinct_lines: long, n_words: long, "
        "n_alpha: long, sum_len: long, top_bigram: long, n_bigrams: long>"
    )
    def counts(raw: pd.Series, norms: pd.Series) -> pd.DataFrame:
        from collections import Counter

        out: dict[str, list] = {
            k: []
            for k in (
                "n_lines",
                "n_distinct_lines",
                "n_words",
                "n_alpha",
                "sum_len",
                "top_bigram",
                "n_bigrams",
            )
        }
        for t, nm in zip(raw, norms):
            if t is None or nm is None:
                for k in out:
                    out[k].append(None)
                continue
            # Spark's trim removes SPACES only — .strip(" ") matches it
            # (and DuckDB's trim), where Python's bare .strip() would
            # also eat tabs and diverge from the oracle
            lines = [
                s for s in (ln.strip(" ") for ln in t.split("\n")) if s != ""
            ]
            w = nm.split(" ")
            out["n_lines"].append(len(lines))
            out["n_distinct_lines"].append(len(set(lines)))
            out["n_words"].append(len(w))
            out["n_alpha"].append(
                sum(1 for x in w if any("a" <= c <= "z" for c in x))
            )
            out["sum_len"].append(sum(len(x) for x in w))
            if len(w) >= 2:
                bc = Counter(zip(w, w[1:]))
                out["top_bigram"].append(max(bc.values()))
                out["n_bigrams"].append(len(w) - 1)
            else:
                out["top_bigram"].append(0)
                out["n_bigrams"].append(0)
        return pd.DataFrame(out)

    lo, hi = word_len_range
    c = df.select(
        F.col(id_col), counts(F.col(text_col), norm).alias("__c")
    ).select(id_col, "__c.*")
    nw = F.greatest(F.col("n_words"), F.lit(1)).cast("double")
    dup = F.when(
        F.col("n_lines") > 0,
        (F.col("n_lines") - F.col("n_distinct_lines"))
        / F.col("n_lines").cast("double"),
    ).otherwise(F.lit(0.0))
    top = F.when(
        F.col("n_bigrams") > 0,
        F.col("top_bigram") / F.col("n_bigrams").cast("double"),
    ).otherwise(F.lit(0.0))
    return (
        c.select(
            id_col,
            F.round(dup, 6).alias("dup_line_frac"),
            F.round(top, 6).alias("top_bigram_frac"),
            F.round(F.col("n_alpha") / nw, 6).alias("alpha_word_frac"),
            F.round(F.col("sum_len") / nw, 6).alias("mean_word_len"),
            (
                (dup <= max_dup_line_frac)
                & (top <= max_top_bigram_frac)
                & (F.col("n_alpha") / nw >= min_alpha_word_frac)
                & (F.col("sum_len") / nw >= lo)
                & (F.col("sum_len") / nw <= hi)
            ).alias("passes_gopher"),
        )
    )


def shingle_hashes(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """(id, shingle) rows: the md5 of each distinct n-token window of
    the normalized text — the shared primitive of decontaminate and
    the Bloom prefilter (one definition so both sides of any overlap
    join hash identically).

    Normalization stays a Column expression (exact regex parity with
    the _NORM_SQL oracles); the window + md5 step is an Arrow-batched
    pandas UDF — Catalyst INTERPRETS higher-order transform/slice
    lambdas (no codegen), and the md5-per-window version measured
    4.6s warm at sf0.1 vs <1s for the UDF (the same trade the
    dup_spans posting build documented in r5)."""
    import hashlib

    @F.pandas_udf("array<string>")
    def _win_md5(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None:
                out.append([])
                continue
            words = t.split(" ")
            if len(words) < n:
                out.append([])
                continue
            grams = {
                hashlib.md5(
                    " ".join(words[i : i + n]).encode("utf-8")
                ).hexdigest(): None
                for i in range(len(words) - (n - 1))
            }
            out.append(list(grams))
        return pd.Series(out)

    return df.select(
        F.col(id_col),
        F.explode(_win_md5(normalize_text(F.col(text_col)))).alias("shingle"),
    )


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """Train/eval decontamination: flag training documents sharing any
    n-token shingle with the evaluation set (the GPT-3/PaLM 13-gram
    rule; n is a parameter because short synthetic docs need smaller
    windows). Returns (doc_id, n_hits, contaminated) per train doc.

    Scale shape: both sides explode to (doc, shingle-hash); the join
    runs on the hash. The eval side of a real pipeline is tiny (a few
    benchmark suites) — Spark's AQE broadcasts it; the train side
    never self-joins. Distinct shingles per doc before the join keep
    hit counts = number of DISTINCT leaked shingles.

    ``shingles_df`` accepts precomputed (doc_id, shingle) window
    postings covering BOTH sides' rows (the persistent dedup store's
    win8 family, dedup.get_window_store) — each side's slice is
    carved out by a doc-id semi-join, so the corpus-scale window
    pass is a build-once artifact instead of a per-consumer cost.
    """

    win_n = getattr(shingles_df, "_win_n", None)
    if win_n is not None and win_n != n:
        raise ValueError(
            f"precomputed shingles built with n={win_n} but decontaminate "
            f"was called with n={n} — window widths must match"
        )

    def shingles(df: DataFrame) -> DataFrame:
        if shingles_df is not None:
            ids = df.select(F.col(id_col).alias("doc_id"))
            return shingles_df.join(ids, "doc_id", "left_semi").select(
                F.col("doc_id").alias(id_col), "shingle"
            )
        return shingle_hashes(df, id_col=id_col, text_col=text_col, n=n)

    eval_shingles = shingles(eval_df).select("shingle").distinct()
    hits = (
        shingles(train)
        .join(eval_shingles, "shingle", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        train.select(id_col)
        .join(hits, id_col, "left")
        .na.fill({"n_hits": 0})
        .select(
            id_col,
            F.col("n_hits").cast("long").alias("n_hits"),
            (F.col("n_hits") > 0).alias("contaminated"),
        )
    )


def kmv_distinct(
    df: DataFrame,
    col: str,
    k: int = 128,
) -> DataFrame:
    """K-minimum-values distinct-count sketch: keep the k smallest
    hash values of the column mapped into [0,1); if fewer than k
    distinct values exist the count is exact, otherwise estimate
    (k-1) / kth_min. Deterministic (md5-based, no RNG) so the whole
    sketch — not just the estimate — is oracle-checkable.

    The aggregate reduces to k rows: partial top-k per partition,
    merge on one reducer. At 100 TB this is THE pattern for distinct
    cardinality without a count-distinct shuffle of the full key set
    (Spark's approx_count_distinct/HLL is the same idea but its
    binary sketch is not replicable outside Spark).
    """
    # NULLs hash to NULL, which would sort first and occupy a k-slot
    # (and count as a distinct value) — exclude them; report nulls
    # via table_profile if needed
    hashed = (
        df.filter(F.col(col).isNotNull())
        .select(stable_unit(F.col(col)).alias("h"))
        .distinct()
    )
    kth = (
        hashed.orderBy("h")
        .limit(k)
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.max("h").alias("kth_min"),
        )
    )
    return kth.select(
        F.col("n_kept").cast("long").alias("n_kept"),
        F.round("kth_min", 9).alias("kth_min"),
        F.round(
            F.when(F.col("n_kept") < k, F.col("n_kept").cast("double")).otherwise(
                (F.lit(k) - 1) / F.col("kth_min")
            ),
            3,
        ).alias("distinct_estimate"),
    )


def hll_registers(df: DataFrame, col: str, m: int = 64) -> DataFrame:
    """Portable HyperLogLog register table for ``col``: (register,
    rho) for ALL ``m`` registers (empty = 0). Flajolet et al. 2007,
    with the trailing-zero rank variant: register = h mod m, rho =
    trailing zeros of (h div m) + 1 — identically geometric for a
    uniform hash and exactly replayable in ANSI SQL (the lowest set
    bit ``w & -w`` is an exact power of two, so log2 of it is exact
    in doubles on every engine; Spark's own approx_count_distinct
    carries an opaque binary sketch no other engine can replay).

    Mergeable: the union's sketch is the per-register MAX of the
    parts' sketches — at 100 TB each partition/day keeps m small
    integers and rollups never touch raw data (same shape as
    kmv_daily's re-min)."""
    if m < 16 or m & (m - 1):
        raise ValueError(f"m must be a power of two >= 16: {m}")
    b = m.bit_length() - 1
    wbits = HASH_BITS - b
    spark = df.sparkSession
    hashed = (
        df.filter(F.col(col).isNotNull())
        .select(stable_hash60(F.col(col)).alias("h"))
        .select(
            (F.col("h") % m).cast("int").alias("register"),
            F.expr(f"h div {m}").alias("w"),
        )
    )
    rho = F.when(F.col("w") == 0, F.lit(wbits + 1)).otherwise(
        (F.log2(F.expr("w & -w")) + 1).cast("int")
    )
    regs = (
        hashed.select("register", rho.alias("rho"))
        .groupBy("register")
        .agg(F.max("rho").alias("rho"))
    )
    return (
        spark.range(m)
        .select(F.col("id").cast("int").alias("register"))
        .join(regs, "register", "left")
        .select("register", F.coalesce("rho", F.lit(0)).alias("rho"))
    )


def hll_alpha_numerator(m: int) -> float:
    """alpha_m * m^2 * 2^(wbits+1) precomputed driver-side — ONE
    double literal shared verbatim by the Spark plan and the SQL
    oracle, so the estimate division is a single identical IEEE op
    on both engines."""
    b = m.bit_length() - 1
    alpha = {16: 0.673, 32: 0.697, 64: 0.709}.get(m, 0.7213 / (1 + 1.079 / m))
    return alpha * m * m * float(1 << (HASH_BITS - b + 1))


def hll_distinct(df: DataFrame, col: str, m: int = 64) -> DataFrame:
    """HyperLogLog cardinality estimate next to its EXACT twin — one
    row: (m, n_zero, hll_estimate, exact_distinct, rel_error).

    Determinism at any cluster size: the harmonic sum runs over
    integer numerators 2^(wbits+1-rho) with the common denominator
    folded into the precomputed alpha numerator, so the only floating
    ops are one division (and the small-range ln correction when more
    than ~60%% of registers are empty) — no order-dependent float
    accumulation. The 60-bit hash space makes the 32-bit large-range
    correction unnecessary (documented omission)."""
    b = m.bit_length() - 1
    wbits = HASH_BITS - b
    regs = hll_registers(df, col, m)
    numer = hll_alpha_numerator(m)
    agg = regs.agg(
        F.sum(F.expr(f"shiftleft(cast(1 as bigint), {wbits + 1} - rho)")).alias(
            "__den"
        ),
        F.sum(F.when(F.col("rho") == 0, 1).otherwise(0)).alias("n_zero"),
    )
    exact = df.filter(F.col(col).isNotNull()).agg(
        F.countDistinct(F.col(col)).alias("exact_distinct")
    )
    raw = F.lit(numer) / F.col("__den")
    est = F.when(
        (raw <= 2.5 * m) & (F.col("n_zero") > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("n_zero")),
    ).otherwise(raw)
    return (
        agg.crossJoin(F.broadcast(exact))
        .select(
            F.lit(m).alias("m"),
            F.col("n_zero").cast("int").alias("n_zero"),
            F.round(est, 4).alias("hll_estimate"),
            F.col("exact_distinct").cast("long").alias("exact_distinct"),
            # guard the empty/all-null column: exact_distinct is 0
            # there and the estimate is also 0 via the linear-counting
            # branch, so rel_error is 0 by definition, not a div-by-0
            F.when(
                F.col("exact_distinct") > 0,
                F.round(
                    F.abs(est - F.col("exact_distinct"))
                    / F.col("exact_distinct"),
                    4,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("rel_error"),
        )
    )


def dsir_select(
    raw: DataFrame,
    target_ids: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1024,
    alpha: float = 0.5,
    k: int = 100,
) -> DataFrame:
    """Data Selection with Importance Resampling (DSIR, Xie et al.
    2023): score every raw document that produced at least one token
    by how target-like its hashed n-gram distribution is, then
    Gumbel-top-k sample proportionally to the importance weights.
    Returns (doc_id, n_grams, log_weight, gumbel_key, selected).
    Token-less documents (empty/whitespace text) carry no n-gram
    evidence and are EXCLUDED from the output by design — they have
    no importance weight under the paper's model (the DuckDB oracle
    replays the same exclusion).

    Features are hashed unigrams+bigrams folded into ``n_buckets``
    (the paper's hashed n-gram model); the bucket log-ratio table
    ln(p_target/p_raw) is model-sized and broadcast; a document's
    log-weight is the sum of its grams' ratios. The resampling is a
    DETERMINISTIC Gumbel-top-k: the Gumbel noise -ln(-ln(u)) is
    derived from the portable md5 hash of the doc id instead of an
    RNG, so selection is reproducible run-to-run, engine-to-engine
    (fully value-oracled), and still distributionally faithful to
    importance resampling.

    The target is a SUBSET of ``raw`` (the DSIR shape — "select raw
    docs that look like my in-domain slice"), given as its ids
    (``target_ids``, an ``id_col`` column): the target's bucket counts
    come from the already-materialized raw postings via one semi-join
    instead of a second tokenize+UDF+explode pass over the target
    text (the target rows' (doc, bucket) postings ARE those raw rows).

    Scale shape: one explode pass and two map-side-combinable
    counts, one broadcast join against the 1024-row model, per-gram log-ratios
    rounded then DECIMAL-summed (order-independent at any cluster
    size), and the top-k cut is a TakeOrdered threshold broadcast —
    no global window over the corpus."""
    from .search import tokenize

    @F.pandas_udf("array<string>")
    def uni_bi(arrs: pd.Series) -> pd.Series:
        # unigrams followed by space-joined bigrams, matching the
        # Column form concat(w, transform(pairs, concat(a,' ',b))) —
        # one Arrow pass instead of two interpreted HOFs; the hashed
        # bucketing stays Column-side so the oracle replays unchanged
        out = []
        for a in arrs:
            if a is None:
                out.append(None)
            else:
                out.append(
                    list(a) + [f"{a[i]} {a[i + 1]}" for i in range(len(a) - 1)]
                )
        return pd.Series(out)

    # raw_b feeds BOTH the model fit and the per-doc scoring —
    # materialize the (doc, bucket) postings once instead of running
    # the tokenize+explode twice (the repo-wide two-consumer rule)
    raw_b = (
        raw.select(
            F.col(id_col).alias("doc_id"),
            F.explode(uni_bi(tokenize(F.col(text_col)))).alias("g"),
        )
        .select("doc_id", (stable_hash60(F.col("g")) % n_buckets).alias("b"))
        .localCheckpoint(eager=True)
    )
    # both bucket-count tables are 1024-row MODELS with two consumers
    # each (the totals aggregate and the log-ratio join) — without
    # the checkpoints the data-sized counting pass (and the target
    # side's whole tokenize+explode) ran twice
    raw_counts = (
        raw_b.groupBy("b")
        .agg(F.count(F.lit(1)).alias("rc"))
        .localCheckpoint(eager=False)
    )
    tgt_b = raw_b.join(
        target_ids.select(F.col(id_col).alias("doc_id")), "doc_id", "left_semi"
    )
    tgt_counts = (
        tgt_b
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("tc"))
        .localCheckpoint(eager=False)
    )
    totals = raw_counts.agg(F.sum("rc").alias("rt")).crossJoin(
        tgt_counts.agg(F.sum("tc").alias("tt"))
    )
    denom = float(alpha) * n_buckets
    lr = (
        raw_counts.join(tgt_counts, "b", "left")
        .na.fill({"tc": 0})
        .crossJoin(F.broadcast(totals))
        .select(
            "b",
            F.round(
                F.log(
                    (F.col("tc").cast("double") + F.lit(float(alpha)))
                    / (F.col("tt").cast("double") + F.lit(denom))
                )
                - F.log(
                    (F.col("rc").cast("double") + F.lit(float(alpha)))
                    / (F.col("rt").cast("double") + F.lit(denom))
                ),
                9,
            )
            .cast("decimal(18,9)")
            .alias("lr"),
        )
    )
    u = (stable_hash60(F.col("doc_id").cast("string")) + 0.5) / F.lit(HASH_SPACE)
    scored = (
        raw_b.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("lr").alias("__lw"),
        )
        .select(
            "doc_id",
            F.col("n_grams").cast("long").alias("n_grams"),
            F.round(F.col("__lw").cast("double"), 6).alias("log_weight"),
            F.round(-F.log(-F.log(u)), 6).alias("gumbel_key"),
        )
        .withColumn(
            "__key", F.round(F.col("log_weight") + F.col("gumbel_key"), 6)
        )
    )
    scored = scored.localCheckpoint(eager=True)  # threshold + output share it
    kth = (
        scored.orderBy(F.desc("__key"), "doc_id")
        .limit(k)
        .agg(F.min("__key").alias("__th"))
    )
    return (
        scored.crossJoin(F.broadcast(kth))
        .select(
            "doc_id",
            "n_grams",
            "log_weight",
            "gumbel_key",
            (F.col("__key") >= F.col("__th")).alias("selected"),
        )
        .orderBy("doc_id")
    )


def _exploded_lines(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, line_idx, line, n_total) — one row per newline-split line,
    empty/whitespace-only lines dropped but still counted in n_total.
    posexplode keeps the original ordinal so documents reassemble in
    order after any per-line decision."""
    lines = F.split(F.col(text_col), "\n")
    return (
        df.select(
            F.col(id_col),
            F.size(lines).alias("__n_total"),
            F.posexplode(lines).alias("line_idx", "line"),
        )
        .filter(F.trim(F.col("line")) != "")
    )


def c4_line_filter(
    df: DataFrame,
    min_words: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """C4-style line-level cleaning: drop lines with fewer than
    ``min_words`` words and lines containing curly braces (leaked
    code/templating). C4's terminal-punctuation rule is not applied:
    unpunctuated text (this corpus's vocabulary has none) would lose
    every line. Returns (id, clean_text, n_lines_kept,
    n_lines_total) with surviving lines rejoined in order; documents
    whose every line is dropped survive with clean_text = ''.

    r15: a PURE MAP — every decision here is a function of one line
    of one document, so the old posexplode → groupBy(doc) →
    collect_list+sort reassembly shuffled every surviving line of the
    corpus for nothing (guide §2.4: remove shuffles outright). The
    lines array never leaves its row: trim, filter, rejoin with
    array HOFs; zero exchanges. Values identical (the keep-predicate
    evaluates the same trimmed line; surviving lines keep original
    order; blank lines drop exactly as _exploded_lines dropped them;
    null/empty-text documents keep the old spine semantics).
    """
    lines = F.split(F.col(text_col), "\n")

    def _keep(ln):
        return (
            (ln != "")
            & (F.size(F.split(ln, r"\s+")) >= min_words)
            & ~ln.contains("{")
            & ~ln.contains("}")
        )

    kept = F.filter(F.transform(lines, F.trim), _keep)
    return df.select(
        F.col(id_col),
        F.concat_ws("\n", kept).alias("clean_text"),
        # greatest(.., 0): size(NULL) is -1 for a NULL text column,
        # where the old spine path reported 0 kept lines
        F.greatest(F.size(kept), F.lit(0)).alias("n_lines_kept"),
        F.size(lines).alias("n_lines_total"),
    )


def line_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-level exact line deduplication (the RefinedWeb /
    CCNet-style pass): every distinct line is kept only at its FIRST
    occurrence — smallest (document id, line index) — and removed
    everywhere else; documents reassemble from their surviving lines.
    Returns (id, text_deduped, n_lines_kept, n_lines_total).

    Shape at scale: one shuffle on the line key to pick winners
    (window row_number over (id, idx) — map-side partial does not
    apply to row_number, but the key space is the distinct-line set,
    and a duplicate-heavy corpus shrinks it), then one shuffle on the
    document id to reassemble. The winner shuffle runs on BOTH
    portable md5 halves of the line — fixed 16 bytes instead of the
    full line text on the hot shuffle, collisions ~n^2/2^121
    (negligible at the 10^12-line scale; one 60-bit half is
    collision-safe only to ~10^8 lines, and a collision silently
    DELETES a distinct line as a duplicate). Results equal the
    full-text DuckDB oracle absent a collision.
    """
    line_key = [stable_hash60(F.col("line")), stable_hash60_hi(F.col("line"))]
    # r15 (guide §8: decide with small rows, move big rows once).
    # The old form shuffled every surviving LINE TEXT twice — once
    # through the winner window on the line key, once through the
    # per-document collect_list reassembly. Every decision here is a
    # function of (line key, doc_id, line_idx) alone, so the window
    # now runs over 16-byte keys + positions, only the (small)
    # REMOVAL index lists travel to the documents, and the surviving
    # text is cut out of the document's own split() array in-row —
    # the line payload never crosses an exchange. Results are
    # byte-identical: the winner is the same minimum (doc_id,
    # line_idx) per key, kept lines rejoin in the same line_idx
    # order, and blank lines drop exactly as _exploded_lines dropped
    # them (same F.trim test, applied in-row).
    removals = (
        _exploded_lines(df, id_col, text_col)
        .select(id_col, "line_idx", *[k.alias(f"__k{i}") for i, k in enumerate(line_key)])
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy(
                    *[F.col(f"__k{i}") for i in range(len(line_key))]
                ).orderBy(id_col, "line_idx")
            ),
        )
        .filter(F.col("__rn") > 1)
        .groupBy(id_col)
        .agg(F.collect_list("line_idx").alias("__rm"))
    )
    lines = F.split(F.col(text_col), "\n")
    rm = F.coalesce(F.col("__rm"), F.array().cast("array<int>"))
    # null text: filter(null) is null — coalesce to [] so a null-text
    # document keeps the old contract ('' deduped, 0 kept; its
    # n_lines_total stays size(split(null)), same as the old spine)
    kept = F.coalesce(
        F.filter(
            lines,
            lambda line, i: (F.trim(line) != "")
            & ~F.array_contains(rm, i.cast("int")),
        ),
        F.array().cast("array<string>"),
    )
    return (
        df.select(F.col(id_col), F.col(text_col))
        .join(removals, id_col, "left")
        .select(
            id_col,
            F.concat_ws("\n", kept).alias("text_deduped"),
            F.size(kept).alias("n_lines_kept"),
            F.size(lines).alias("n_lines_total"),
        )
    )


def pack_training_sequences(
    chunks: DataFrame,
    seq_len: int = 512,
    id_col: str = "doc_id",
    chunk_col: str = "chunk_id",
    tokens_col: str = "n_chunk_tokens",
    bucket_size: int = 1000,
) -> DataFrame:
    """GPT-style sequence packing: lay all chunks end-to-end in
    (doc, chunk) order and cut every ``seq_len`` tokens. Each chunk
    learns which training sequence it starts in, at which offset,
    and whether it straddles a cut. Returns (id, chunk, seq_id,
    start_in_seq, n_tokens, crosses_boundary).

    The global running offset is the whole computation — and a naive
    `Window.orderBy(...)` with no partition key would serialize the
    corpus through ONE task. Instead: two-phase cumulative sum.
    Phase 1 computes per-bucket running sums (bucket = doc_id div
    bucket_size — deterministic pure-column partitioning, unlike
    range-partitioner sampling). Phase 2 computes each bucket's
    starting offset with a window over the per-bucket totals — rows
    = number of buckets, thousands at most, so the single-partition
    window there is over sketch-sized data — and broadcast-joins it
    back. This is the standard scalable cumsum shape: all heavy
    windows stay partitioned.
    """
    # a string id_col would cast to null for every row below,
    # silently collapsing the whole corpus into ONE window partition
    # — the exact single-task serialization this design exists to
    # avoid. Require a numeric id; callers with string ids should
    # derive one (e.g. xxhash64) first.
    id_type = dict(chunks.dtypes)[id_col]
    if id_type not in ("tinyint", "smallint", "int", "bigint", "float", "double") and not id_type.startswith("decimal"):
        raise TypeError(
            f"pack_training_sequences needs a numeric {id_col!r} for "
            f"deterministic bucketing, got {id_type}; derive a numeric "
            "key (e.g. F.xxhash64) first"
        )
    pid = (F.col(id_col) / F.lit(bucket_size)).cast("long").alias("__pid")
    c = chunks.select(id_col, chunk_col, F.col(tokens_col).alias("n_tokens"), pid)

    w_in = (
        Window.partitionBy("__pid")
        .orderBy(id_col, chunk_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    with_local = c.withColumn("__local_end", F.sum("n_tokens").over(w_in))

    per_pid = c.groupBy("__pid").agg(F.sum("n_tokens").alias("__pid_total"))
    w_pid = (
        Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    )
    pid_offsets = per_pid.select(
        "__pid", F.coalesce(F.sum("__pid_total").over(w_pid), F.lit(0)).alias("__pid_off")
    )

    off = F.col("__pid_off") + F.col("__local_end") - F.col("n_tokens")
    seq_id = F.floor(off / F.lit(seq_len))
    end_seq = F.floor((off + F.col("n_tokens") - 1) / F.lit(seq_len))
    return (
        with_local.join(F.broadcast(pid_offsets), "__pid")
        .select(
            id_col,
            chunk_col,
            seq_id.cast("long").alias("seq_id"),
            (off % F.lit(seq_len)).cast("long").alias("start_in_seq"),
            "n_tokens",
            (end_seq > seq_id).alias("crosses_boundary"),
        )
    )


def mix_sources(
    df: DataFrame,
    weights: dict[str, float],
    sample_fraction: float = 1.0,
    source_col: str = "source",
    key_col: str = "doc_id",
) -> DataFrame:
    """Data mixing: deterministically resample so the kept corpus
    approaches the RELATIVE ``weights`` across sources, at overall
    size ~``sample_fraction`` x the input. Per-source keep rate =
    min(1, sample_fraction * N_total * share_s / n_s) where share_s
    is the normalized weight — i.e. each source is hash-thinned
    toward its target share (sources under their target keep
    everything; no upsampling). Sources absent from ``weights`` get
    weight 0 and are dropped.

    The decision is a pure function of the row key (stable_unit), so
    the mix is reproducible across runs, partitionings and cluster
    sizes, and consistent with every other stable_* decision made on
    the same key. Shape: one map-side-combinable per-source count,
    broadcast back as a tiny rate table, one map-side filter — no
    data shuffle at all. Returns the kept rows with a ``keep_rate``
    column for auditability.
    """
    total_w = float(sum(weights.values()))
    if total_w <= 0:
        raise ValueError("mix_sources needs at least one positive weight")
    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("__n_src"))
    totals = counts.agg(F.sum("__n_src").alias("__n_total"))
    share = F.create_map(
        *[F.lit(x) for kv in weights.items() for x in (kv[0], float(kv[1]) / total_w)]
    )
    rates = (
        counts.crossJoin(F.broadcast(totals))
        .select(
            source_col,
            F.round(
                F.least(
                    F.lit(1.0),
                    F.lit(float(sample_fraction))
                    * F.col("__n_total")
                    * F.coalesce(share[F.col(source_col)], F.lit(0.0))
                    / F.col("__n_src"),
                ),
                9,
            ).alias("keep_rate"),
        )
    )
    return (
        df.join(F.broadcast(rates), source_col)
        .filter(stable_unit(F.col(key_col)) < F.col("keep_rate"))
    )


def count_min_sketch(
    df: DataFrame,
    col: str,
    width: int = 256,
    depth: int = 4,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Count-Min sketch of the value frequencies in ``col``:
    ``depth`` independent hash rows of ``width`` counters each.
    Returns (row, bucket, cnt) — only non-zero counters, so the
    sketch is at most depth x width rows regardless of input size.

    Point-estimate guarantee: for any value v,
    ``min_d cnt[d][h_d(v)]`` >= true_count(v), overshooting by more
    than 2N/width with probability <= 2^-depth. Unlike a Misra-Gries
    summary (partition-order-dependent), the CMS is a pure
    function of the value multiset: the hash rows derive from the
    portable 60-bit md5 (stable_hash60 with a per-row tag), so the
    sketch itself is value-oracle-checkable in SQL, mergeable across
    corpus shards by summing matching (row, bucket) cells, and
    identical on 1 or 1000 executors.

    Shape: one explode (xdepth) + one map-side-combinable hash agg;
    output is sketch-sized. No UDF, no driver state.

    ``group_cols`` produces one independent sketch per group (e.g.
    per event-time window) in the same single pass — grouped sketches
    merge across groups by summing matching cells, which is how a
    per-day sketch rolls up to per-week without touching the data.
    """
    v = F.col(col).cast("string")
    cells = [
        F.struct(
            F.lit(d).alias("row"),
            (stable_hash60(F.concat(F.lit(f"cms{d}|"), v)) % width).alias("bucket"),
        )
        for d in range(depth)
    ]
    gcols = list(group_cols)
    return (
        df.select(*gcols, F.explode(F.array(*cells)).alias("__c"))
        .groupBy(
            *gcols, F.col("__c.row").alias("row"), F.col("__c.bucket").alias("bucket")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def merge_upsert(
    base: DataFrame,
    changes: DataFrame,
    key_col: str = "doc_id",
    op_col: str = "op",
) -> DataFrame:
    """CDC MERGE: apply a change set (op in 'upsert' | 'delete') to a
    base table — the lakehouse MERGE INTO expressed as one
    full-precedence join. Change rows win over base rows on the same
    key; 'delete' ops drop the key; unmatched base rows pass through.

    Shape: the change set (usually a tiny fraction of the base)
    broadcasts when small, else one co-partitioned equi-join on the
    key; the base is never reshuffled beyond that join. With multiple
    change rows per key, the tie-break is the full value tuple —
    arbitrary but a PURE FUNCTION OF THE DATA.
    (A monotonically_increasing_id tie-break would encode partition
    layout in its high bits and make the winner depend on file
    assignment — run-to-run nondeterminism.)
    """
    value_cols = [c for c in base.columns if c != key_col]
    ch_cols = set(changes.columns)
    missing = [c for c in value_cols if c not in ch_cols]
    if missing:
        raise ValueError(f"changes missing value columns: {missing}")

    order = [F.col(c).desc_nulls_last() for c in changes.columns if c != key_col]
    w = Window.partitionBy(key_col).orderBy(*order)
    latest = (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    joined = base.alias("b").join(
        latest.alias("c"), F.col(f"b.{key_col}") == F.col(f"c.{key_col}"), "full"
    )
    has_change = F.col(f"c.{key_col}").isNotNull()
    # only a literal (case-insensitive) 'delete' deletes; a NULL or
    # unrecognized op upserts — (NULL != 'delete') evaluates to NULL,
    # which the filter would treat as delete, silently dropping keys
    # from a malformed CDC feed
    is_delete = F.coalesce(
        F.lower(F.col(f"c.{op_col}")) == "delete", F.lit(False)
    )
    keep = ~has_change | ~is_delete
    pick = [
        F.coalesce(F.col(f"c.{key_col}"), F.col(f"b.{key_col}")).alias(key_col)
    ] + [
        F.when(has_change, F.col(f"c.{v}")).otherwise(F.col(f"b.{v}")).alias(v)
        for v in value_cols
    ]
    return joined.filter(keep).select(*pick)


def scd2_build(
    changes: DataFrame,
    key_col: str = "key",
    ts_col: str = "ts",
    value_cols: Sequence[str] = ("value",),
) -> DataFrame:
    """Slowly-changing-dimension Type 2: turn a change log
    (key, ts, values...) into versioned rows with effective ranges —
    (key, values..., valid_from, valid_to, is_current), valid_to =
    next change's ts (NULL while current).

    One window per key ordered by ts (lead for the closing
    timestamp); ties on (key, ts) are resolved deterministically by
    the full value tuple so the build is stable under any partition
    order. This is the standard warehouse dimension-history build —
    one shuffle on the key, nothing else.
    """
    order = [F.col(ts_col)] + [F.col(c) for c in value_cols]
    w = Window.partitionBy(key_col).orderBy(*order)
    return (
        changes.withColumn("valid_from", F.col(ts_col))
        .withColumn("valid_to", F.lead(ts_col).over(w))
        .withColumn("is_current", F.col("valid_to").isNull())
        .select(key_col, *value_cols, "valid_from", "valid_to", "is_current")
    )


def table_profile(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """ANALYZE-style column statistics with NO per-column scans (two
    single-scan aggregates): for each column — row count, null count,
    distinct count, min/max (as strings for a uniform schema). The
    profiling primitive a warehouse runs before choosing join
    strategies and partition keys.

    Two full-scan aggregates (ALL columns' plain stats in one, ALL
    distinct counts in the other — never per-column scans), crossJoined
    as 1-row frames; see the in-body note for why one combined
    aggregate planned as a sorted (not hashed) aggregation. Distinct
    counts are exact (oracle-gated): Catalyst expands N
    count_distincts to N x the scan rows, fine at gate scale.
    """
    cols = list(columns)
    # r15: the stats and the distincts run as TWO aggregates over the
    # scan, crossJoined (both are 1-row, model-sized). Mixing them in
    # one agg put string min/max buffers (immutable — not
    # HashAggregate-eligible) into the SAME aggregate as the
    # countDistinct Expand, so the whole plan fell back to
    # SortAggregate: the expanded rows (n_cols+1 per input row) were
    # SORTED on the 6-part expand key before every partial agg.
    # Split, the min/max agg is a global (grouping-free) pass with no
    # sort at all and the distinct agg's buffers are plain longs, so
    # the Expand aggregates by hash. Same results, same single scan
    # per aggregate, zero Sort nodes.
    base_aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        base_aggs += [
            F.count(c).alias(f"__nn_{c}"),
            F.min(c).cast("string").alias(f"__mn_{c}"),
            F.max(c).cast("string").alias(f"__mx_{c}"),
        ]
    if not cols:
        # columns=[]: one output row per profiled column means zero
        # rows — short-circuit (df.agg(*[]) would raise, and there is
        # nothing worth scanning for)
        return df.sparkSession.createDataFrame(
            [],
            "column string, n_rows bigint, n_nulls bigint, "
            "n_distinct bigint, min_value string, max_value string",
        )
    nd_aggs = [F.countDistinct(c).alias(f"__nd_{c}") for c in cols]
    row = df.agg(*base_aggs).crossJoin(F.broadcast(df.agg(*nd_aggs)))
    parts = [
        F.struct(
            F.lit(c).alias("column"),
            F.col("__n").alias("n_rows"),
            (F.col("__n") - F.col(f"__nn_{c}")).alias("n_nulls"),
            F.col(f"__nd_{c}").alias("n_distinct"),
            F.col(f"__mn_{c}").alias("min_value"),
            F.col(f"__mx_{c}").alias("max_value"),
        )
        for c in cols
    ]
    return row.select(F.explode(F.array(*parts)).alias("s")).select(
        "s.column", "s.n_rows", "s.n_nulls", "s.n_distinct",
        "s.min_value", "s.max_value",
    )


def equi_depth_histogram(
    df: DataFrame,
    col: str,
    n_buckets: int = 10,
    round_to: int = 2,
) -> DataFrame:
    """EXACT equi-depth histogram of a numeric column: ``n_buckets``
    buckets of (as close as discreteness allows) equal row count,
    each reported as (bucket, lo, hi, n_rows). The ANALYZE histogram
    a cost-based optimizer keeps — and the exact-quantile primitive
    (bucket edges ARE exact percentile thresholds, unlike
    approx_percentile's sketch, whose merge is partition-order-
    dependent and so un-oracle-able).

    Scale shape: the data-sized work is ONE map-side-combinable
    count by (rounded) distinct value; everything after operates on
    the distinct-value table, which is model-sized (bounded by the
    value domain at ``round_to`` precision, not by row count) — the
    single-partition cumulative window there is over sketch-sized
    data by construction. A value whose count straddles a boundary
    lands wholly in one bucket (standard discrete equi-depth).
    """
    # NULLs would form a value group that sorts FIRST in the
    # cumulative window, shifting every real bucket and emitting a
    # (lo=NULL, hi=NULL) bucket — a histogram is over values; nulls
    # belong in table_profile's null count
    vals = (
        df.filter(F.col(col).isNotNull())
        .select(F.round(F.col(col), round_to).alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    total = vals.agg(F.sum("cnt").alias("__n"))
    cum = vals.withColumn("cum", F.sum("cnt").over(w)).crossJoin(
        F.broadcast(total)
    )
    # assign by the value group's FIRST row position (cum - cnt):
    # assigning by the last position would push a heavy first value
    # entirely out of bucket 0, leaving it empty
    bucket = F.floor(
        (F.col("cum") - F.col("cnt")) * F.lit(n_buckets) / F.col("__n")
    ).cast("int")
    return (
        cum.select(bucket.alias("bucket"), "v", "cnt")
        .groupBy("bucket")
        .agg(
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
            F.sum("cnt").alias("n_rows"),
        )
        .orderBy("bucket")
    )


# exact_percentiles collects one (group, n) row per group; the bound
# keeps that contract self-enforcing (ANALYZE-style consumers pass
# return flags / strata / sources — a handful to a few thousand)
_MAX_PCT_GROUPS = 100_000


def exact_percentiles(
    df: DataFrame,
    value_col: str,
    ps: Sequence[float],
    group_cols: Sequence[str] = (),
    tags: Sequence[str] | None = None,
    accuracy: int = 10_000,
) -> DataFrame:
    """EXACT linearly-interpolated percentiles (the `percentile` /
    `quantile_cont` definition: rank = p*(n-1) over the sorted
    multiset, threshold = x[floor(rank)] + frac*(x[floor(rank)+1] -
    x[floor(rank)])) per group, WITHOUT Spark's exact `percentile`
    aggregate — whose buffer materializes the group's full value
    multiset in one aggregation state, a memory cliff on a 100 TB
    column. Returns long format: (group_cols..., tag, value), one
    row per (group, requested percentile). BIT-identical to the
    builtin (pinned by test): same rank formula, same
    (1-frac)*lo + frac*hi association.

    Scale shape — the classic SKETCH-THEN-REFINE factorization, in
    exactly TWO data-sized passes (r16 — was three: a count pass, a
    sketch pass whose query fractions were derived from the counts,
    and the refine pass; the count now rides the sketch aggregate):

    1. ONE aggregate yields each group's exact n AND its GK summary
       (`percentile_approx`) queried at n-INDEPENDENT fractions:
       p ± 4/accuracy for every requested percentile, plus 0 and 1.
       Group keys are MODEL-sized for every ANALYZE-style consumer —
       return flags, strata, sources — so collecting the (count,
       sketch) table is the same driver posture as the k-means
       codebook. Driver-side, each (group, percentile) picks its band
       [blo, bhi]: the fixed-fraction bracket when n >= 2*accuracy
       (GK rank error <= n/accuracy, so the +-4/accuracy fractions
       provably bracket the target order statistics j0/j1 with >= 2
       ranks to spare: rank(blo) <= (p-3/accuracy)n + 1 <= j0 and
       symmetrically for bhi), or the whole domain when
       n < 2*accuracy (the "band" is then at most 2*accuracy values —
       still bounded, never data-sized). The sketch buffer is
       O(accuracy log n) — never the multiset.
    2. The band table (groups x percentiles, model-sized) broadcasts
       back; one map-side-combinable pass extracts the exact
       sub-band rank offset (count of v < band-lo) and the band
       members (O(n/accuracy) values per group-percentile — tune
       ``accuracy`` upward as n grows); the exact order statistics
       are picked from the sorted band by absolute position.

    Band edges only ever PRUNE (any bracketing band yields the same
    x[j0]/x[j1] by absolute position), so the r16 fraction change
    cannot move a result by construction — the builtin-equivalence
    pin proves it.

    Trade accepted with the merge: the _MAX_PCT_GROUPS guard now
    raises after one combined count+sketch aggregation rather than
    after a count-only pass, so a high-cardinality MISUSE pays a
    GK-summary aggregate over the full input (bounded
    O(accuracy·log n) state per group, but heavier than a count)
    before failing. The driver-side collect stays capped either way;
    correct callers save a full data pass on every call.

    Nothing sorts or windows data-sized input; the approx sketch is
    only ever a PRUNING device, so its partition-order
    nondeterminism cannot reach the (exact) result. A band miss —
    impossible within the GK bound, but belt-and-braces — surfaces
    as a visible NULL (F.get), never a silently wrong value.

    NULL semantics match the builtin `percentile` / DuckDB
    `quantile_cont`: NULL values are ignored within a group, and a
    group whose values are ALL NULL still appears, with NULL for
    every requested percentile (globally: an all-NULL or empty
    ungrouped input yields one NULL row per tag).
    """
    g = list(group_cols)
    tags = list(tags) if tags is not None else [f"p{p}" for p in ps]
    if len(tags) != len(ps):
        raise ValueError("tags must match ps one-to-one")
    spark = df.sparkSession
    v = F.col(value_col).cast("double")
    data = df.filter(v.isNotNull()).select(*g, v.alias("__v"))
    from pyspark.sql import types as T

    dmap = {f.name: f.dataType for f in data.schema.fields}
    # group counts are MODEL-sized for every ANALYZE-style consumer
    # of this helper (return flags, strata, sources) — the same
    # driver posture as the k-means codebook; n per group is what
    # makes the band positions PROVABLY bracketed below. The guard
    # makes that contract self-enforcing: a high-cardinality caller
    # fails loudly instead of collecting unbounded rows.
    # ONE job serves the guard, the counts AND the GK sketch (r16:
    # the sketch's query fractions are n-independent, so it no
    # longer has to wait for a separate count pass — one full scan
    # saved per call on a 100 TB column): collect at most bound+1
    # rows.
    # counted over the UNFILTERED input with count(value): a group
    # whose values are all NULL stays visible with __n = 0, so it can
    # surface as (group, tag, NULL) like the builtin `percentile` and
    # DuckDB `quantile_cont` keep it — the r9 null-filter-first
    # formulation silently DROPPED such groups, an oracle divergence
    # on any nullable value column (r9 ADVICE)
    qset: list[float] = []

    def _q(x: float) -> int:
        x = min(1.0, max(0.0, x))
        if x not in qset:
            qset.append(x)
        return qset.index(x)

    eps = 1.0 / accuracy
    frac_idx = {p: (_q(p - 4.0 * eps), _q(p + 4.0 * eps)) for p in ps}
    full_idx = (_q(0.0), _q(1.0))
    cnt_rows = (
        df.groupBy(*g)
        .agg(
            F.count(v).alias("__n"),
            F.percentile_approx(v, qset, accuracy).alias("__b"),
        )
        .limit(_MAX_PCT_GROUPS + 1)
        .collect()
    )
    if g and len(cnt_rows) > _MAX_PCT_GROUPS:
        raise ValueError(
            f"exact_percentiles: more than {_MAX_PCT_GROUPS} groups for "
            f"group_cols={g!r} — this helper collects one row per group "
            "driver-side (model-sized groups only); pre-aggregate or "
            "bucket the grouping column first"
        )
    all_counts = {tuple(r[c] for c in g): r["__n"] for r in cnt_rows}
    sketches = {tuple(r[c] for c in g): r["__b"] for r in cnt_rows}
    counts = {key: n for key, n in all_counts.items() if n > 0}
    zero_keys = [key for key, n in all_counts.items() if n == 0]
    out_schema = T.StructType(
        [
            *(T.StructField(c, dmap[c]) for c in g),
            T.StructField("tag", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    # all-NULL (or, globally, empty) groups: one NULL row per tag —
    # builtin/`quantile_cont` parity
    null_part = (
        spark.createDataFrame(
            [(*key, tag, None) for key in zero_keys for tag in tags],
            out_schema,
        )
        if zero_keys
        else None
    )
    if not counts:
        return (
            null_part
            if null_part is not None
            else spark.createDataFrame([], out_schema)
        )
    # per (group, percentile): target 0-indexed positions j0/j1 and
    # the band [blo, bhi] read straight off the collected sketch —
    # the fixed-fraction bracket when n >= 2*accuracy (provable, see
    # docstring), the whole domain otherwise (at most 2*accuracy
    # values, bounded) — all driver-side, model-sized
    band_rows = []
    for key, n in counts.items():
        b = sketches[key]
        for p, tag in zip(ps, tags):
            rank = float(p) * (n - 1)
            j0 = int(rank)
            j1 = min(j0 + 1, n - 1)
            frac = rank - j0
            lo_i, hi_i = frac_idx[p] if n >= 2 * accuracy else full_idx
            band_rows.append((*key, tag, j0, j1, frac, b[lo_i], b[hi_i]))
    band_schema = T.StructType(
        [
            *(T.StructField(f"__g_{c}", dmap[c]) for c in g),
            T.StructField("tag", T.StringType()),
            T.StructField("j0", T.LongType()),
            T.StructField("j1", T.LongType()),
            T.StructField("frac", T.DoubleType()),
            T.StructField("blo", T.DoubleType()),
            T.StructField("bhi", T.DoubleType()),
        ]
    )
    bands = spark.createDataFrame(band_rows, band_schema)
    # NULL-SAFE key equality: a NULL group key with non-null values
    # is a real group (the builtin `percentile` and quantile_cont
    # both emit it); plain == would never match its band row and the
    # group would silently vanish from the refine output (r16 review
    # finding — latent since r8, pinned by test now)
    on = F.lit(True)
    for c in g:
        on = on & F.col(c).eqNullSafe(F.col(f"__g_{c}"))
    tagged = data.join(F.broadcast(bands), on)
    # exact rank offset below the band + the band members, one
    # map-side-combinable pass over the (row x tags) replication
    grp = [*[f"__g_{c}" for c in g], "tag", "j0", "j1", "frac"]
    agg = tagged.groupBy(*grp).agg(
        F.sum(F.when(F.col("__v") < F.col("blo"), 1).otherwise(0)).alias(
            "__lt"
        ),
        # band members leave as a sorted array: O(n/accuracy) values
        # per (group, percentile) — the pruned set, never the multiset
        F.sort_array(
            F.collect_list(
                F.when(
                    (F.col("__v") >= F.col("blo"))
                    & (F.col("__v") <= F.col("bhi")),
                    F.col("__v"),
                )
            )
        ).alias("__band"),
    )
    # absolute position j = __lt + (index within the sorted band);
    # F.get returns NULL on an out-of-band index (provably impossible
    # under the GK bound, but a miss must surface as a visible null,
    # never a silently wrong value or a thrown task)
    v0 = F.get(F.col("__band"), (F.col("j0") - F.col("__lt")).cast("int"))
    v1 = F.get(F.col("__band"), (F.col("j1") - F.col("__lt")).cast("int"))
    frac = F.col("frac")
    out = agg.select(
        *[F.col(f"__g_{c}").alias(c) for c in g],
        "tag",
        F.when(frac == 0.0, v0)
        .otherwise((F.lit(1.0) - frac) * v0 + frac * v1)
        .alias("value"),
    )
    return out.unionByName(null_part) if null_part is not None else out


def bloom_positions(v: Column, m_bits: int = 4096, k: int = 3) -> list[Column]:
    """The k portable Bloom hash positions of a (string-cast) value —
    ONE definition shared by bloom_bits and bloom_filter, so the
    sketch's hash family cannot drift between build and probe."""
    return [
        (stable_hash60(F.concat(F.lit(f"bloom{i}|"), v)) % m_bits).cast("long")
        for i in range(k)
    ]


def bloom_bits(
    df: DataFrame,
    col: str,
    m_bits: int = 4096,
    k: int = 3,
) -> DataFrame:
    """Portable Bloom-filter sketch, represented as the TABLE of set
    bit positions (one row per set bit, <= m_bits rows — model-sized
    state like the CMS/KMV/HLL sketches, and mergeable by plain
    UNION/DISTINCT). The k hash functions are the shared portable
    60-bit md5 under per-function tags, so the whole sketch — not
    just its answers — is deterministic and SQL-replayable on any
    engine (completes the sketch matrix: CMS / KMV / HLL / MG /
    Bloom).

    100 TB posture: build is one explode(k) + distinct over the
    column's distinct values; the result broadcasts anywhere a
    membership prefilter is needed (the classic use: thin a huge
    probe side BEFORE an expensive join — no false negatives, FPR ~
    (1 - e^(-kn/m))^k, tunable)."""
    v = F.col(col).cast("string")
    pos = F.array_distinct(F.array(*bloom_positions(v, m_bits, k)))
    return (
        df.filter(v.isNotNull())
        .select(F.explode(pos).alias("bit"))
        .distinct()
    )


def bloom_filter(
    df: DataFrame,
    col: str,
    bits: DataFrame,
    m_bits: int = 4096,
    k: int = 3,
) -> DataFrame:
    """The rows of ``df`` whose ``col`` the Bloom filter ``bits`` (from
    bloom_bits with the SAME m_bits/k) may contain — i.e. ALL k of
    the value's bit positions are set. No false negatives; a NULL
    value never passes.

    Scale shape: each of the k hash positions probes the broadcast
    model-sized bit table with its own broadcast LEFT-SEMI join —
    "all positions set" is the conjunction of k map-side hash probes,
    so the probe side never exchanges."""
    out = df
    for pos in bloom_positions(F.col(col).cast("string"), m_bits, k):
        out = out.join(F.broadcast(bits), pos == F.col("bit"), "left_semi")
    return out


def length_bucketed_batches(
    df: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    batch_size: int = 8,
    bucket_width: int = 64,
) -> DataFrame:
    """Dynamic-batching layout: group documents into fixed-size
    training batches of SIMILAR token length so per-batch padding
    (to the batch max) is minimized — the standard length-bucketing
    pass before sequence-model training. Returns one row per doc:
    (id, n_tokens, bucket, batch_id, batch_n, batch_max_tokens,
    padding_frac) where batch_id is globally unique and
    deterministic.

    Scale shape: every window is PARTITIONED by the length bucket
    (floor(n_tokens / bucket_width)) — thousands of independent
    partitions, never a global order-everything window; within a
    bucket docs rank by (n_tokens desc, id) and cut into batches of
    ``batch_size``. The per-batch stats are a second window over the
    same partitioning (no extra shuffle). Bucket skew is bounded by
    the corpus length distribution; a pathological single-length
    corpus degrades to one bucket — pick bucket_width accordingly."""
    from pyspark.sql import Window as W

    t = F.col(tokens_col).cast("long")
    bucket = F.floor(t / bucket_width).alias("bucket")
    ranked = df.select(F.col(id_col), t.alias("n_tokens"), bucket).withColumn(
        "__rk",
        F.row_number().over(
            W.partitionBy("bucket").orderBy(F.desc("n_tokens"), id_col)
        ),
    )
    batched = ranked.select(
        id_col,
        "n_tokens",
        "bucket",
        F.concat_ws(
            "_",
            F.col("bucket").cast("string"),
            F.floor((F.col("__rk") - 1) / batch_size).cast("string"),
        ).alias("batch_id"),
    )
    wb = W.partitionBy("bucket", "batch_id")
    return batched.select(
        id_col,
        "n_tokens",
        "bucket",
        "batch_id",
        F.count(F.lit(1)).over(wb).alias("batch_n"),
        F.max("n_tokens").over(wb).alias("batch_max_tokens"),
        F.round(
            F.lit(1.0)
            - F.sum("n_tokens").over(wb)
            / (F.count(F.lit(1)).over(wb) * F.max("n_tokens").over(wb)),
            6,
        ).alias("padding_frac"),
    )


def source_overlap(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Cross-source duplication matrix — the dedup-telemetry view a
    multi-source corpus needs BEFORE choosing a dedup order: for
    every pair of sources, how many distinct (normalized) texts
    appear in both, and the Jaccard overlap of their text sets.
    Returns (source_a, source_b, n_a, n_b, n_shared, jaccard) with
    source_a < source_b; pairs sharing zero texts are kept (left
    join + fill), so the matrix is complete.

    Scale shape: each source's text set collapses once to distinct
    (source, hash) rows (map-side-combinable hash agg on the
    portable 60-bit md5 — whole texts never shuffle); per-source
    sizes are one count; the pair counts come from the (hash,
    source-list) self-join on the hash key, bounded per hash by
    n_sources^2, never by corpus size. All-integer counts + one
    rounded division, so the whole matrix SQL-replays exactly.
    """
    sh = (
        df.select(
            F.col(source_col).alias("s"),
            stable_hash60(normalize_text(F.col(text_col))).alias("h"),
        )
        .distinct()
        .localCheckpoint(eager=True)  # feeds sizes AND the pair join
    )
    sizes = sh.groupBy("s").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("s").alias("source_a"), "h")
    b = sh.select(F.col("s").alias("source_b"), "h")
    shared = (
        a.join(b, "h")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    pairs = (
        sizes.select(F.col("s").alias("source_a"), F.col("n").alias("n_a"))
        .join(
            sizes.select(F.col("s").alias("source_b"), F.col("n").alias("n_b")),
            F.col("source_a") < F.col("source_b"),
        )
        .join(shared, ["source_a", "source_b"], "left")
        .na.fill({"n_shared": 0})
    )
    return pairs.select(
        "source_a",
        "source_b",
        "n_a",
        "n_b",
        F.col("n_shared").cast("long").alias("n_shared"),
        F.round(
            F.col("n_shared")
            / (F.col("n_a") + F.col("n_b") - F.col("n_shared")),
            6,
        ).alias("jaccard"),
    ).orderBy("source_a", "source_b")


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    key_col: str = "doc_id",
    target_per_stratum: int = 100,
    n_strata: int = 4,
) -> DataFrame:
    """Quantile-bucketed stratified sampling: bucket rows into
    ``n_strata`` strata by the exact quantiles of ``strata_col``,
    then take a deterministic ~``target_per_stratum`` hash-sample
    from EACH stratum — equal representation across the value range
    (a uniform sample of a long-tailed corpus is dominated by the
    short head; stratified sampling is how an eval set covers the
    tail). Returns the sampled rows as (key, strata value, stratum).

    Scale shape: the quantile thresholds come from
    exact_percentiles (SKETCH-THEN-REFINE: a percentile_approx band
    that provably brackets the target order statistics, then one
    exact pass over only the in-band values — not Spark's exact
    `percentile`, whose single aggregation buffer materializes the
    full value multiset), collapsed to a model-sized array and
    broadcast back; stratum assignment and the keep-decision are
    pure map-side expressions (the per-stratum fraction comes from a
    broadcast n_strata-row size table), and the hash decision is the
    same stable_unit coordinate as stable_sample — deterministic per
    key, stable under corpus growth, no global sort or window over
    the data.
    """
    if n_strata < 2:
        raise ValueError("n_strata must be >= 2")
    ps = [i / n_strata for i in range(1, n_strata)]
    # quantiles are monotone in p, so sorting the collected values
    # reconstructs threshold order without carrying the tag through
    th = exact_percentiles(df, strata_col, ps).agg(
        F.array_sort(F.collect_list("value")).alias("__th")
    )
    strat = (
        df.crossJoin(F.broadcast(th))
        .withColumn(
            "stratum",
            F.size(F.filter(F.col("__th"), lambda t: F.col(strata_col) > t)),
        )
        .drop("__th")
    )
    sizes = strat.groupBy("stratum").agg(F.count(F.lit(1)).alias("__n"))
    frac = F.least(
        F.lit(1.0), F.lit(float(target_per_stratum)) / F.col("__n")
    )
    return (
        strat.join(F.broadcast(sizes), "stratum")
        .filter(stable_unit(F.col(key_col)) < frac)
        .select(F.col(key_col), F.col(strata_col), F.col("stratum"))
    )


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    group_col: str,
    key: str = "doc_id",
) -> DataFrame:
    """Efraimidis–Spirakis weighted sampling without replacement:
    sample_key = ln(w) + Gumbel(u) with the Gumbel noise derived
    DETERMINISTICALLY from the stable 60-bit hash of the row key
    (u = (h + 0.5) / 2^60 — never 0 or 1, same construction as
    dsir_selection); taking the k LARGEST keys is distributed exactly
    as k successive weight-proportional draws without replacement.
    The weight-proportional complement of stable_sample (uniform) and
    stratified_sample (quantile strata) — the mixing primitive for
    "sample documents proportional to length/quality within each
    source".

    Top-k PER GROUP of ``group_col`` via a group-partitioned window
    (groups are model-sized: sources, languages).

    Non-positive or NULL weights get a NULL sample_key and are never
    selected. Returns (group_col, key, weight_col, sample_key,
    selected) ordered by key — deterministic, fully SQL-replayable.
    """
    w = F.col(weight_col).cast("double")
    u = (stable_hash60(F.col(key)) + 0.5) / F.lit(HASH_SPACE)
    skey = F.when(w > 0, F.round(F.log(w) - F.log(-F.log(u)), 6))
    cols = [group_col, key, weight_col]
    scored = df.select(*cols, skey.alias("sample_key"))
    win = Window.partitionBy(group_col).orderBy(F.desc("sample_key"), F.asc(key))
    ranked = (
        scored.filter(F.col("sample_key").isNotNull())
        .withColumn("__rk", F.row_number().over(win))
        .select(key, (F.col("__rk") <= k).alias("__sel"))
    )
    out = scored.join(ranked, key, "left")
    return out.select(
        *cols,
        "sample_key",
        F.coalesce(F.col("__sel"), F.lit(False)).alias("selected"),
    ).orderBy(key)


def temperature_mix(
    df: DataFrame,
    weight_col: str,
    alpha: float = 0.7,
    source_col: str = "source",
) -> DataFrame:
    """Temperature-scaled source mixing (the GPT-3/PaLM multilingual
    recipe): sampling share p_s ∝ n_s^alpha, where n_s is the
    source's size (the sum of ``weight_col`` — e.g. chars/tokens)
    and alpha < 1 flattens the head so
    low-resource sources are up-sampled. Returns one row per source:
    (source, n, raw_share, temp_share, boost) with boost =
    temp_share / raw_share — the per-source up/down-sampling factor a
    mixer feeds to weighted/stable sampling.

    One map-side-combinable groupBy to source-level rows, then a
    1-row broadcast total — model-sized everywhere after the first
    aggregate, so the operator costs one scan at any corpus size.
    """
    n = F.sum(F.col(weight_col).cast("double"))
    per = df.groupBy(F.col(source_col).alias("source")).agg(n.alias("n"))
    totals = per.agg(
        F.sum("n").alias("__tot"),
        F.sum(F.pow(F.col("n"), F.lit(float(alpha)))).alias("__tot_a"),
    )
    return (
        per.crossJoin(F.broadcast(totals))
        .select(
            "source",
            F.col("n").cast("double").alias("n"),
            F.round(F.col("n") / F.col("__tot"), 6).alias("raw_share"),
            F.round(
                F.pow(F.col("n"), F.lit(float(alpha))) / F.col("__tot_a"), 6
            ).alias("temp_share"),
            # n = 0 (a source whose weights sum to zero — empty docs)
            # would divide 0/0 under ANSI mode; NULL boost instead,
            # matching SQL division semantics on an undefined rate
            F.round(
                F.when(
                    F.col("n") > 0,
                    (F.pow(F.col("n"), F.lit(float(alpha))) / F.col("__tot_a"))
                    / (F.col("n") / F.col("__tot")),
                ),
                6,
            ).alias("boost"),
        )
        .orderBy("source")
    )


def psi_drift(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str = "value",
    bins: int = 10,
    eps: float = 1e-6,
) -> DataFrame:
    """Population Stability Index between a reference window and a
    current window of a numeric column — the standard production
    drift monitor for a training-data pipeline (a feed whose value
    distribution shifts needs re-weighting or investigation BEFORE it
    contaminates a training mix; the usual reading is <0.1 stable,
    0.1-0.25 moderate, >0.25 major drift).

    Deterministic and fully SQL-replayable by construction: bin edges
    are equi-width over the REFERENCE min/max (one 1-row aggregate,
    broadcast into both binning passes — values outside the reference
    range clamp into the edge bins, which is exactly what makes new
    out-of-range mass visible), fractions are eps-floored before the
    log so empty bins contribute a finite, monotone penalty, and
    every output float rounds at 6dp.

    Plan shape: two map-side-combinable groupBys (one per window) +
    a bins-sized sequence frame — nothing all-pairs, nothing
    iterative, the windows are never joined row-to-row. At 100 TB
    each window is one scan with partial aggregation.

    Returns one row per bin: (bin, ref_frac, cur_frac, psi_term,
    psi_total) with psi_total repeated (the scalar a monitor alerts
    on), ordered by bin.

    NOTE the empty-window guard is EAGER (the hard_negative_topk
    contract): CALLING this function runs two 1-row count jobs before
    any result is consumed — the returned frame is otherwise lazy as
    usual.
    """
    r = ref.select(F.col(value_col).cast("double").alias("x"))
    c = cur.select(F.col(value_col).cast("double").alias("x"))
    # the 1-row reference stats feed THREE subplans (both binning
    # passes + the bins grid) — pin them so the reference scan behind
    # them runs once, not three times
    st = r.agg(
        F.min("x").alias("mn"),
        F.max("x").alias("mx"),
        F.count(F.lit(1)).cast("double").alias("nr"),
    ).localCheckpoint(eager=False)
    # an EMPTY window would make the fractions 0/0 = NaN, and
    # greatest(NaN, eps) stays NaN in Spark — a monitor would read a
    # silent NaN psi_total instead of an alert. Fail loudly instead
    # (the max_block / max_cluster_size policy); the two 1-row
    # aggregates are driver-side scalars, not a hot-path collect.
    n_cur = c.agg(F.count(F.lit(1)).cast("double").alias("nc")).localCheckpoint(
        eager=False
    )
    if not st.head()["nr"]:
        raise ValueError(
            "psi_drift: reference window has zero rows (after casting "
            f"{value_col!r} to double); PSI fractions would be NaN — "
            "fix the window predicate or the upstream feed"
        )
    if not n_cur.head()["nc"]:
        raise ValueError(
            "psi_drift: current window has zero rows (after casting "
            f"{value_col!r} to double); PSI fractions would be NaN — "
            "fix the window predicate or the upstream feed"
        )
    width = F.greatest(
        (F.col("mx") - F.col("mn")) / F.lit(float(bins)), F.lit(eps)
    )
    bin_expr = F.least(
        F.lit(bins - 1),
        F.greatest(
            F.lit(0),
            F.floor((F.col("x") - F.col("mn")) / width).cast("int"),
        ),
    ).alias("bin")

    def _binned(df: DataFrame) -> DataFrame:
        return (
            df.crossJoin(F.broadcast(st))
            .select(bin_expr)
            .groupBy("bin")
            .agg(F.count(F.lit(1)).cast("double").alias("n"))
        )

    grid = st.select(
        F.explode(F.sequence(F.lit(0), F.lit(bins - 1))).alias("bin"), "nr"
    ).crossJoin(F.broadcast(n_cur))
    rf = F.greatest(F.coalesce(F.col("rn"), F.lit(0.0)) / F.col("nr"), F.lit(eps))
    cf = F.greatest(F.coalesce(F.col("cn"), F.lit(0.0)) / F.col("nc"), F.lit(eps))
    terms = (
        grid.join(_binned(r).withColumnRenamed("n", "rn"), "bin", "left")
        .join(_binned(c).withColumnRenamed("n", "cn"), "bin", "left")
        .select(
            "bin",
            rf.alias("__rf"),
            cf.alias("__cf"),
            ((cf - rf) * (F.log(cf) - F.log(rf))).alias("__term"),
        )
    ).localCheckpoint(eager=False)  # two consumers: total + projection
    total = terms.agg(F.round(F.sum("__term"), 6).alias("psi_total"))
    return (
        terms.crossJoin(F.broadcast(total))
        .select(
            "bin",
            F.round("__rf", 6).alias("ref_frac"),
            F.round("__cf", 6).alias("cur_frac"),
            F.round("__term", 6).alias("psi_term"),
            "psi_total",
        )
        .orderBy("bin")
    )


def ks_drift(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str = "value",
    buckets: int = 1024,
) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic between a
    reference and a current window — PSI's nonparametric sibling
    (psi_drift needs a bin count and reads mass shifts; KS is
    bin-free and reads the WORST single point of CDF divergence, so
    the pair covers both "how much moved" and "where it tears").

    Exact and SQL-replayable: the supremum of |F_ref - F_cur| is
    attained at sample points, both empirical CDFs are integer
    counts divided by integer totals (bit-identical IEEE division in
    any engine), and the scan/aggregate shapes are deterministic.

    Scale shape: one tagged union + ONE map-side-combinable groupBy
    collapses the corpus to DISTINCT values, then the cumulative
    count uses the pack_training_sequences two-phase cumsum —
    per-range-bucket windows (bucket = equi-width slot from a 1-row
    min/max aggregate) plus a buckets-sized offset window — so no
    window ever serializes the corpus through one task. At 100 TB
    each window is a scan with partial aggregation; everything after
    the groupBy is distinct-value-sized.

    Fail-loud on an empty window (the psi_drift contract): an empty
    side has no CDF and a silent 0/NaN would defeat the monitor.
    NOTE the guard is EAGER (the hard_negative_topk contract):
    CALLING this function runs a 1-row stats job before any result is
    consumed — the returned frame is otherwise lazy as usual.

    Returns ONE row: (ks_stat, at_value, n_ref, n_cur) — the
    statistic (6dp), the smallest value attaining it, and the two
    window sizes.
    """
    r = ref.select(F.col(value_col).cast("double").alias("x")).filter(
        F.col("x").isNotNull()
    )
    c = cur.select(F.col(value_col).cast("double").alias("x")).filter(
        F.col("x").isNotNull()
    )
    u = r.select("x", F.lit(1).alias("__r"), F.lit(0).alias("__c")).unionByName(
        c.select("x", F.lit(0).alias("__r"), F.lit(1).alias("__c"))
    )
    g = u.groupBy("x").agg(
        F.sum("__r").alias("rn"), F.sum("__c").alias("cn")
    ).localCheckpoint(eager=False)  # consumers: stats + both cum passes
    st = g.agg(
        F.sum("rn").alias("n_ref"),
        F.sum("cn").alias("n_cur"),
        F.min("x").alias("mn"),
        F.max("x").alias("mx"),
    ).localCheckpoint(eager=False)
    srow = st.head()
    if not srow["n_ref"]:
        raise ValueError(
            "ks_drift: reference window has zero non-null rows (after "
            f"casting {value_col!r} to double) — no CDF to compare; fix "
            "the window predicate or the upstream feed"
        )
    if not srow["n_cur"]:
        raise ValueError(
            "ks_drift: current window has zero non-null rows (after "
            f"casting {value_col!r} to double) — no CDF to compare; fix "
            "the window predicate or the upstream feed"
        )
    width = F.greatest(
        (F.col("mx") - F.col("mn")) / F.lit(float(buckets)), F.lit(1e-12)
    )
    b = g.crossJoin(F.broadcast(st)).select(
        "x",
        "rn",
        "cn",
        F.least(
            F.lit(buckets - 1),
            F.greatest(
                F.lit(0), F.floor((F.col("x") - F.col("mn")) / width).cast("int")
            ),
        ).alias("__bk"),
    )
    w_in = (
        Window.partitionBy("__bk")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = b.select(
        "x",
        "__bk",
        F.sum("rn").over(w_in).alias("__lr"),
        F.sum("cn").over(w_in).alias("__lc"),
    )
    per_bk = b.groupBy("__bk").agg(
        F.sum("rn").alias("__tr"), F.sum("cn").alias("__tc")
    )
    w_bk = Window.orderBy("__bk").rowsBetween(Window.unboundedPreceding, -1)
    offsets = per_bk.select(
        "__bk",
        F.coalesce(F.sum("__tr").over(w_bk), F.lit(0)).alias("__or"),
        F.coalesce(F.sum("__tc").over(w_bk), F.lit(0)).alias("__oc"),
    )
    d = F.abs(
        (F.col("__or") + F.col("__lr")) / F.col("n_ref")
        - (F.col("__oc") + F.col("__lc")) / F.col("n_cur")
    )
    return (
        local.join(F.broadcast(offsets), "__bk")
        .crossJoin(F.broadcast(st.select("n_ref", "n_cur")))
        .select(d.alias("__d"), "x", "n_ref", "n_cur")
        .orderBy(F.desc("__d"), F.asc("x"))
        .limit(1)
        .select(
            F.round("__d", 6).alias("ks_stat"),
            F.col("x").alias("at_value"),
            F.col("n_ref").cast("long").alias("n_ref"),
            F.col("n_cur").cast("long").alias("n_cur"),
        )
    )
