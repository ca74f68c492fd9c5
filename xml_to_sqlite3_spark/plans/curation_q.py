"""Gate queries + DuckDB oracles for the corpus-curation operators
(operators/curation.py). Everything here is deterministic — the
shared primitive is the first 60 bits of md5 as an int64, which
DuckDB reproduces exactly via ('0x' || substr(md5(x),1,15))::BIGINT
— so every operator gets a full value-hash oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io_util import load
from ..operators import curation as C

# DuckDB equivalent of curation.stable_unit(col)
_UNIT = "(('0x' || substr(md5(CAST({c} AS VARCHAR)), 1, 15))::BIGINT / 1152921504606846976.0)"


def stable_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10% deterministic sample of documents keyed on doc_id."""
    docs = load(spark, sf_dir, "documents")
    return (
        C.stable_sample(docs, "doc_id", 0.10)
        .select("doc_id", "source", F.round(C.stable_unit(F.col("doc_id")), 9).alias("u"))
        .orderBy("doc_id")
    )


STABLE_SAMPLE_ORACLE = f"""
SELECT doc_id, source, round({_UNIT.format(c='doc_id')}, 9) AS u
FROM documents
WHERE {_UNIT.format(c='doc_id')} < 0.10
ORDER BY doc_id
"""


def dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test labels (5% / 5%) with per-split
    counts — the leak-safe split a training pipeline stamps on every
    document."""
    docs = load(spark, sf_dir, "documents")
    return (
        C.train_val_test_split(docs, "doc_id", val_fraction=0.05, test_fraction=0.05)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("split")
    )


DATASET_SPLIT_ORACLE = f"""
SELECT CASE WHEN {_UNIT.format(c='doc_id')} < 0.05 THEN 'test'
            WHEN {_UNIT.format(c='doc_id')} < 0.10 THEN 'val'
            ELSE 'train' END AS split,
       count(*) AS n_docs, min(doc_id) AS min_doc, max(doc_id) AS max_doc
FROM documents GROUP BY 1 ORDER BY split
"""


def source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cap at 15 docs per source (first by doc_id): the
    anti-over-representation step of corpus assembly."""
    docs = load(spark, sf_dir, "documents")
    return (
        C.source_quota(docs, "source", max_per_group=15, order_col="doc_id")
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


SOURCE_QUOTA_ORACLE = """
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents
) WHERE rn <= 15 ORDER BY doc_id
"""


def normalize_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization + PII redaction composed, as a pipeline would
    run them; emits the md5 of the scrubbed text so the gate checks
    the full string without shipping it."""
    docs = load(spark, sf_dir, "documents")
    clean = C.redact_pii(C.normalize_text(F.col("text")))
    return docs.select(
        "doc_id",
        F.md5(clean).alias("clean_md5"),
        F.length(clean).alias("clean_len"),
    ).orderBy("doc_id")


NORMALIZE_REDACT_ORACLE = r"""
WITH norm AS (
  SELECT doc_id,
         lower(trim(regexp_replace(
           regexp_replace(text, '[\x00-\x1f\x7f]', ' ', 'g'),
           '\s+', ' ', 'g'))) AS t
  FROM documents
), redacted AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(
             regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
           '\+?\d[\d()\- ]{7,14}\d', '<PHONE>', 'g') AS t
  FROM norm
)
SELECT doc_id, md5(t) AS clean_md5, length(t) AS clean_len
FROM redacted ORDER BY doc_id
"""


def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-token chunks with 16-token overlap over the first 200
    documents (bounded so gate output stays proportional across
    scale factors; the operator itself is linear in corpus size)."""
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return (
        C.chunk_documents(docs, chunk_tokens=64, overlap=16)
        .select("doc_id", "chunk_id", "n_chunk_tokens", F.md5("chunk_text").alias("chunk_md5"))
        .orderBy("doc_id", "chunk_id")
    )


CHUNK_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
  FROM documents WHERE doc_id < 200 AND length(trim(text)) > 0
), chunks AS (
  SELECT doc_id,
         CAST(s // 48 AS INT) AS chunk_id,
         w[CAST(s AS INT) + 1 : CAST(s AS INT) + 64] AS c
  FROM toks,
       unnest(range(0,
                    greatest(0, CAST(ceil((len(w) - 64) / 48.0) AS BIGINT)) * 48 + 1,
                    48)) AS t(s)
)
SELECT doc_id, chunk_id, len(c) AS n_chunk_tokens,
       md5(array_to_string(c, ' ')) AS chunk_md5
FROM chunks ORDER BY doc_id, chunk_id
"""


def vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 corpus vocabulary by total token count."""
    docs = load(spark, sf_dir, "documents")
    return C.vocabulary(docs, top_k=50).orderBy(F.col("n_total").desc(), "token")


VOCABULARY_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(
    lower(trim(regexp_replace(
      regexp_replace(text, '[\x00-\x1f\x7f]', ' ', 'g'), '\s+', ' ', 'g'))), ' ')) AS token
  FROM documents
)
SELECT token, count(*) AS n_total, count(DISTINCT doc_id) AS n_docs
FROM toks WHERE token <> ''
GROUP BY token ORDER BY n_total DESC, token LIMIT 50
"""


def tf_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed TF-IDF weights for the first 50 documents (bounded
    output; the aggregates themselves run corpus-wide)."""
    docs = load(spark, sf_dir, "documents")
    return (
        C.tf_idf(docs, min_df=1)
        .filter(F.col("doc_id") < 50)
        .orderBy("doc_id", "token")
    )


TF_IDF_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(
    lower(trim(regexp_replace(
      regexp_replace(text, '[\x00-\x1f\x7f]', ' ', 'g'), '\s+', ' ', 'g'))), ' ')) AS token
  FROM documents
), tf AS (
  SELECT doc_id, token, count(*) AS tf FROM toks WHERE token <> '' GROUP BY 1, 2
), dfreq AS (
  SELECT token, count(*) AS df FROM tf GROUP BY 1
), n AS (
  SELECT count(DISTINCT doc_id) AS n FROM documents
)
SELECT tf.doc_id, tf.token, tf.tf, dfreq.df,
       round(tf.tf * (ln((n.n + 1.0) / (dfreq.df + 1.0)) + 1.0), 6) AS tf_idf
FROM tf JOIN dfreq USING (token) CROSS JOIN n
WHERE tf.doc_id < 50
ORDER BY doc_id, token
"""


def kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketch of events.user_id (k=128): the
    shuffle-free cardinality estimator; deterministic md5 hashing
    makes the whole sketch oracle-checkable."""
    events = load(spark, sf_dir, "events")
    return C.kmv_distinct(events, "user_id", k=128)


KMV_ORACLE = f"""
WITH h AS (
  SELECT DISTINCT {_UNIT.format(c='user_id')} AS h FROM events WHERE user_id IS NOT NULL
), kmin AS (
  SELECT h FROM h ORDER BY h LIMIT 128
), agg AS (
  SELECT count(*) AS n_kept, max(h) AS kth_min FROM kmin
)
SELECT CAST(n_kept AS BIGINT) AS n_kept,
       round(kth_min, 9) AS kth_min,
       round(CASE WHEN n_kept < 128 THEN CAST(n_kept AS DOUBLE)
                  ELSE 127.0 / kth_min END, 3) AS distinct_estimate
FROM agg
"""


def gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition/shape filters with the published thresholds."""
    docs = load(spark, sf_dir, "documents")
    return C.gopher_quality(docs).orderBy("doc_id")


_NORM_SQL = r"""lower(trim(regexp_replace(
      regexp_replace({c}, '[\x00-\x1f\x7f]', ' ', 'g'), '\s+', ' ', 'g')))"""

GOPHER_ORACLE = rf"""
WITH base AS (
  SELECT doc_id,
         string_split({_NORM_SQL.format(c='text')}, ' ') AS w,
         list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
                     l -> l <> '') AS lines
  FROM documents
), m AS (
  SELECT doc_id, w,
         CASE WHEN len(lines) > 0
              THEN (len(lines) - len(list_distinct(lines))) / CAST(len(lines) AS DOUBLE)
              ELSE 0.0 END AS dup_line_frac,
         len(list_filter(w, x -> regexp_matches(x, '[a-z]')))
           / CAST(greatest(len(w), 1) AS DOUBLE) AS alpha_word_frac,
         list_sum(list_transform(w, x -> length(x)))
           / CAST(greatest(len(w), 1) AS DOUBLE) AS mean_word_len
  FROM base
), bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(w) - 1, 0) + 1),
                               i -> w[i] || ' ' || w[i+1])) AS bigram
  FROM base
), top AS (
  SELECT doc_id, max(c) / CAST(sum(c) AS DOUBLE) AS top_bigram_frac
  FROM (SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY 1, 2)
  GROUP BY 1
), j AS (
  SELECT m.doc_id, m.dup_line_frac,
         coalesce(top.top_bigram_frac, 0.0) AS top_bigram_frac,
         m.alpha_word_frac, m.mean_word_len
  FROM m LEFT JOIN top USING (doc_id)
)
SELECT doc_id,
       round(dup_line_frac, 6) AS dup_line_frac,
       round(top_bigram_frac, 6) AS top_bigram_frac,
       round(alpha_word_frac, 6) AS alpha_word_frac,
       round(mean_word_len, 6) AS mean_word_len,
       (dup_line_frac <= 0.30 AND top_bigram_frac <= 0.18
        AND alpha_word_frac >= 0.80
        AND mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS passes_gopher
FROM j ORDER BY doc_id
"""


def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination: docs 0-9 act as the held-out eval
    set; every training doc sharing an 8-token shingle is flagged.
    The window postings come from the persistent dedup store's win8
    family (built once per content key; this gate and bloom_prefilter
    stop re-shingling the training corpus per query)."""
    import os

    from ..operators.dedup import get_window_store

    docs = load(spark, sf_dir, "documents")
    win8 = get_window_store(spark, os.path.join(sf_dir, "documents.parquet"))
    return C.decontaminate(
        docs.filter(F.col("doc_id") >= 10),
        docs.filter(F.col("doc_id") < 10),
        n=8,
        shingles_df=win8,
    ).orderBy("doc_id")


DECONTAMINATE_ORACLE = rf"""
WITH tok AS (
  SELECT doc_id, string_split({_NORM_SQL.format(c='text')}, ' ') AS w
  FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(w) - 7, 0) + 1),
           i -> md5(array_to_string(w[i:i+7], ' ')))) AS s
  FROM tok
), eval_sh AS (
  SELECT DISTINCT unnest(s) AS shingle FROM sh WHERE doc_id < 10
), train_hits AS (
  SELECT t.doc_id, count(*) AS n_hits
  FROM (SELECT doc_id, unnest(s) AS shingle FROM sh WHERE doc_id >= 10) t
  JOIN eval_sh USING (shingle)
  GROUP BY 1
)
SELECT d.doc_id,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       coalesce(h.n_hits, 0) > 0 AS contaminated
FROM (SELECT doc_id FROM documents WHERE doc_id >= 10) d
LEFT JOIN train_hits h USING (doc_id)
ORDER BY doc_id
"""


QUERIES = {
    "stable_sample": stable_sample,
    "dataset_split": dataset_split,
    "source_quota": source_quota,
    "normalize_redact": normalize_redact,
    "chunk_documents": chunk_documents,
    "vocabulary_topk": vocabulary,
    "tf_idf": tf_idf,
    "kmv_distinct": kmv_distinct,
    "gopher_quality": gopher_quality,
    "decontaminate": decontaminate,
}

ORACLES = {
    "stable_sample": STABLE_SAMPLE_ORACLE,
    "dataset_split": DATASET_SPLIT_ORACLE,
    "source_quota": SOURCE_QUOTA_ORACLE,
    "normalize_redact": NORMALIZE_REDACT_ORACLE,
    "chunk_documents": CHUNK_ORACLE,
    "vocabulary_topk": VOCABULARY_ORACLE,
    "tf_idf": TF_IDF_ORACLE,
    "kmv_distinct": KMV_ORACLE,
    "gopher_quality": GOPHER_ORACLE,
    "decontaminate": DECONTAMINATE_ORACLE,
}


def _wrapped_docs(spark: SparkSession, sf_dir: str, words_per_line: int = 12) -> DataFrame:
    """The driver's synthetic documents are single-line; wrap each
    into deterministic 12-word lines so the line-level operators have
    real multi-line structure to work on in the gate."""
    docs = load(spark, sf_dir, "documents")
    w = F.split(F.trim(F.col("text")), r"\s+")
    n = F.size(w)
    lines = F.transform(
        F.sequence(F.lit(0), F.ceil(n / F.lit(words_per_line)).cast("int") - 1),
        lambda i: F.concat_ws(
            " ", F.slice(w, i * words_per_line + F.lit(1), F.lit(words_per_line))
        ),
    )
    return docs.select("doc_id", F.concat_ws("\n", lines).alias("text"))


# DuckDB twin of _wrapped_docs (12-word lines joined by \n)
_WRAPPED_SQL = r"""
wrapped AS (
  SELECT doc_id,
         array_to_string(
           list_transform(range(1, CAST(ceil(len(w) / 12.0) AS BIGINT) + 1),
                          i -> array_to_string(w[(i-1)*12+1 : (i-1)*12+12], ' ')),
           chr(10)) AS text
  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents)
)
"""


def line_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level exact line dedup over the wrapped documents:
    every repeated 12-word line survives only at its first
    (doc_id, line_idx) occurrence."""
    return (
        C.line_dedup(_wrapped_docs(spark, sf_dir))
        .select(
            "doc_id",
            F.md5("text_deduped").alias("text_md5"),
            "n_lines_kept",
            "n_lines_total",
        )
        .orderBy("doc_id")
    )


LINE_DEDUP_ORACLE = rf"""
WITH {_WRAPPED_SQL.strip()},
lines AS (
  SELECT doc_id, i AS line_idx, l[CAST(i AS INT)] AS line, len(l) AS n_total
  FROM (SELECT doc_id, string_split(text, chr(10)) AS l FROM wrapped),
       unnest(range(1, len(l) + 1)) AS t(i)
  WHERE trim(l[CAST(i AS INT)]) <> ''
), flagged AS (
  SELECT doc_id, line_idx, line, n_total,
         ROW_NUMBER() OVER (PARTITION BY line ORDER BY doc_id, line_idx) = 1 AS first_here
  FROM lines
)
, per_doc AS (
  SELECT doc_id,
         md5(coalesce(string_agg(CASE WHEN first_here THEN line END, chr(10)
                                 ORDER BY line_idx), '')) AS text_md5,
         count(*) FILTER (WHERE first_here) AS n_lines_kept,
         any_value(n_total) AS n_lines_total
  FROM flagged
  GROUP BY doc_id
)
-- all-blank documents have no surviving lines (the lines CTE drops
-- blanks) but must still appear, with the empty text's md5
SELECT w.doc_id,
       coalesce(p.text_md5, md5('')) AS text_md5,
       coalesce(p.n_lines_kept, 0) AS n_lines_kept,
       coalesce(p.n_lines_total, len(string_split(w.text, chr(10)))) AS n_lines_total
FROM wrapped w LEFT JOIN per_doc p USING (doc_id)
ORDER BY w.doc_id
"""


def c4_line_filter_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line filter over the wrapped documents. The synthetic
    vocabulary has no braces, so the gate exercises the min-words
    rule (drops each document's short tail line); the brace rule is
    exercised on fixtures in tests/test_curation.py."""
    return (
        C.c4_line_filter(_wrapped_docs(spark, sf_dir), min_words=12)
        .select(
            "doc_id",
            F.md5("clean_text").alias("text_md5"),
            "n_lines_kept",
            "n_lines_total",
        )
        .orderBy("doc_id")
    )


C4_LINE_FILTER_ORACLE = rf"""
WITH {_WRAPPED_SQL.strip()},
lines AS (
  SELECT doc_id, i AS line_idx, trim(l[CAST(i AS INT)]) AS line, len(l) AS n_total
  FROM (SELECT doc_id, string_split(text, chr(10)) AS l FROM wrapped),
       unnest(range(1, len(l) + 1)) AS t(i)
  WHERE trim(l[CAST(i AS INT)]) <> ''
), flagged AS (
  SELECT doc_id, line_idx, line, n_total,
         len(string_split_regex(line, '\s+')) >= 12
           AND NOT contains(line, '{{') AND NOT contains(line, '}}') AS keep
  FROM lines
), agg AS (
  SELECT doc_id,
         md5(coalesce(string_agg(CASE WHEN keep THEN line END, chr(10)
                                 ORDER BY line_idx), '')) AS text_md5,
         count(*) FILTER (WHERE keep) AS n_lines_kept,
         any_value(n_total) AS n_lines_total
  FROM flagged
  GROUP BY doc_id
)
-- all-blank documents have no `lines` rows; the spine join keeps
-- them alive with clean_text = '' (mirrors the operator)
SELECT w.doc_id,
       coalesce(a.text_md5, md5('')) AS text_md5,
       coalesce(a.n_lines_kept, 0) AS n_lines_kept,
       coalesce(a.n_lines_total,
                len(string_split(w.text, chr(10)))) AS n_lines_total
FROM wrapped w LEFT JOIN agg a USING (doc_id)
ORDER BY doc_id
"""


QUERIES["line_dedup"] = line_dedup_q
QUERIES["c4_line_filter"] = c4_line_filter_q
ORACLES["line_dedup"] = LINE_DEDUP_ORACLE
ORACLES["c4_line_filter"] = C4_LINE_FILTER_ORACLE


def pack_sequences_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack the chunk stream of the first 200 documents into 512-token
    training sequences (two-phase distributed cumsum; the oracle is
    the single plain window cumsum the semantics define)."""
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    chunks = C.chunk_documents(docs, chunk_tokens=64, overlap=16)
    return (
        C.pack_training_sequences(chunks, seq_len=512, bucket_size=50)
        .orderBy("doc_id", "chunk_id")
    )


PACK_SEQUENCES_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
  FROM documents WHERE doc_id < 200 AND length(trim(text)) > 0
), chunks AS (
  SELECT doc_id,
         CAST(s // 48 AS INT) AS chunk_id,
         len(w[CAST(s AS INT) + 1 : CAST(s AS INT) + 64]) AS n_tokens
  FROM toks,
       unnest(range(0,
                    greatest(0, CAST(ceil((len(w) - 64) / 48.0) AS BIGINT)) * 48 + 1,
                    48)) AS t(s)
), laid AS (
  SELECT doc_id, chunk_id, n_tokens,
         sum(n_tokens) OVER (ORDER BY doc_id, chunk_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - n_tokens AS off
  FROM chunks
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(chunk_id AS INTEGER) AS chunk_id,
       -- the window SUM widens to HUGEINT in DuckDB; Spark emits
       -- BIGINT, and INT128 serializes differently through the
       -- driver's hasher even when values are identical (same bug
       -- class as commit e1680c1) — cast every sum-derived column
       -- back to the exact Spark dtype
       CAST(off // 512 AS BIGINT) AS seq_id,
       CAST(off % 512 AS BIGINT) AS start_in_seq,
       CAST(n_tokens AS INTEGER) AS n_tokens,
       (off + n_tokens - 1) // 512 > off // 512 AS crosses_boundary
FROM laid ORDER BY doc_id, chunk_id
"""


QUERIES["pack_sequences"] = pack_sequences_q
ORACLES["pack_sequences"] = PACK_SEQUENCES_ORACLE


def mix_sources_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data mixing toward target source proportions (operators/
    curation.py mix_sources): weights 5/3/1/1 over four sources at
    overall fraction 0.4 — src0 saturates (rate capped at 1), the
    others thin fractionally, unlisted sources drop."""
    out = C.mix_sources(
        load(spark, sf_dir, "documents"),
        weights={"src0": 5.0, "src1": 3.0, "src2": 1.0, "src3": 1.0},
        sample_fraction=0.4,
    )
    return out.select("doc_id", "source", "keep_rate").orderBy("doc_id")


MIX_SOURCES_ORACLE = r"""
WITH counts AS (
  SELECT source, count(*) AS n FROM documents GROUP BY source
), tot AS (
  SELECT sum(n) AS n_total FROM counts
), rates AS (
  SELECT source,
         round(least(1.0,
                     0.4 * t.n_total
                     * CASE source WHEN 'src0' THEN 0.5
                                   WHEN 'src1' THEN 0.3
                                   WHEN 'src2' THEN 0.1
                                   WHEN 'src3' THEN 0.1
                                   ELSE 0.0 END
                     / n),
               9) AS keep_rate
  FROM counts, tot t
)
SELECT d.doc_id, d.source, r.keep_rate
FROM documents d JOIN rates r USING (source)
WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
      / 1152921504606846976.0 < r.keep_rate
ORDER BY d.doc_id
"""


QUERIES["mix_sources"] = mix_sources_q
ORACLES["mix_sources"] = MIX_SOURCES_ORACLE


def cms_sketch_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (depth 4 x width 64) of event user_id
    frequencies — every non-zero counter cell. The sketch is a pure
    function of the value multiset (portable md5 hash rows), so the
    cells themselves are value-oracled; estimate/merge guarantees
    are property-tested in tests/test_curation.py."""
    ev = load(spark, sf_dir, "events")
    return C.count_min_sketch(ev, "user_id", width=64, depth=4).orderBy(
        "row", "bucket"
    )


CMS_SKETCH_ORACLE = """
WITH cells AS (
  SELECT CAST(d.r AS INTEGER) AS row,
         ('0x' || substr(md5('cms' || d.r || '|' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 64 AS bucket
  FROM events, (SELECT unnest(range(4)) AS r) d
)
SELECT row, bucket, count(*) AS cnt
FROM cells
GROUP BY row, bucket
ORDER BY row, bucket
"""


QUERIES["cms_sketch"] = cms_sketch_q
ORACLES["cms_sketch"] = CMS_SKETCH_ORACLE


def cms_daily_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day Count-Min sketches of event-type frequencies (grouped
    form of cms_sketch: one independent sketch per event-time day in
    a single pass; days roll up to weeks by summing matching cells)."""
    ev = load(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", F.col("ts")).cast("date")
    )
    return C.count_min_sketch(
        ev, "event_type", width=16, depth=3, group_cols=("day",)
    ).orderBy("day", "row", "bucket")


CMS_DAILY_ORACLE = """
WITH cells AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(d.r AS INTEGER) AS row,
         ('0x' || substr(md5('cms' || d.r || '|' || event_type), 1, 15))::BIGINT % 16 AS bucket
  FROM events, (SELECT unnest(range(3)) AS r) d
)
SELECT day, row, bucket, count(*) AS cnt
FROM cells
GROUP BY day, row, bucket
ORDER BY day, row, bucket
"""


QUERIES["cms_daily"] = cms_daily_q
ORACLES["cms_daily"] = CMS_DAILY_ORACLE


def hll_distinct_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable HyperLogLog distinct-user estimate NEXT TO its exact
    twin (operators/curation.py hll_distinct) — the approx-vs-exact
    benchmark row. The register arithmetic is integer-exact and the
    alpha numerator is one shared double literal, so the estimate
    itself is value-oracled, not just the exact column."""
    ev = load(spark, sf_dir, "events")
    return C.hll_distinct(ev, "user_id", m=64)


_HLL_NUMER = repr(C.hll_alpha_numerator(64))

HLL_DISTINCT_ORACLE = f"""
WITH h AS (
  SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM events WHERE user_id IS NOT NULL
), br AS (
  SELECT CAST(h % 64 AS INTEGER) AS register, h // 64 AS w FROM h
), rho_t AS (
  SELECT register,
         CASE WHEN w = 0 THEN 55
              ELSE CAST(log2(w & -w) + 1 AS INTEGER) END AS rho
  FROM br
), regs AS (
  SELECT r.register, coalesce(max(rho_t.rho), 0) AS rho
  FROM (SELECT unnest(range(64)) AS register) r
  LEFT JOIN rho_t ON rho_t.register = r.register
  GROUP BY r.register
), agg AS (
  SELECT sum(CAST(1 AS BIGINT) << (55 - rho)) AS den,
         sum(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS n_zero
  FROM regs
), ex AS (
  SELECT count(DISTINCT user_id) AS exact_distinct
  FROM events WHERE user_id IS NOT NULL
), est_t AS (
  SELECT n_zero, exact_distinct,
         CASE WHEN ({_HLL_NUMER} / den) <= 160.0 AND n_zero > 0
              THEN 64.0 * ln(64.0 / n_zero)
              ELSE {_HLL_NUMER} / den END AS est
  FROM agg CROSS JOIN ex
)
SELECT 64 AS m,
       CAST(n_zero AS INTEGER) AS n_zero,
       round(est, 4) AS hll_estimate,
       CAST(exact_distinct AS BIGINT) AS exact_distinct,
       round(abs(est - exact_distinct) / exact_distinct, 4) AS rel_error
FROM est_t
"""


QUERIES["hll_distinct"] = hll_distinct_q
ORACLES["hll_distinct"] = HLL_DISTINCT_ORACLE


def dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (operators/curation.py dsir_select):
    raw corpus = all documents, target = the English subset; hashed
    unigram+bigram log-ratio weights + deterministic md5-derived
    Gumbel-top-100. Fully value-oracled including the selection."""
    docs = load(spark, sf_dir, "documents")
    target = docs.filter(F.col("lang") == "en")
    # target ⊆ raw, so pass the id slice: the operator reuses the raw
    # postings for the target counts instead of re-tokenizing (r15)
    return C.dsir_select(
        docs, target.select("doc_id"), n_buckets=1024, alpha=0.5, k=100
    )


DSIR_ORACLE = r"""
WITH raw_toks AS (
  SELECT doc_id,
         list_filter(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '),
                     x -> x <> '') AS w
  FROM documents
), raw_grams AS (
  SELECT doc_id,
         unnest(list_concat(w,
           list_transform(range(1, greatest(len(w) - 1, 0) + 1),
                          i -> w[i] || ' ' || w[i+1]))) AS g
  FROM raw_toks
), raw_b AS (
  SELECT doc_id, ('0x' || substr(md5(g), 1, 15))::BIGINT % 1024 AS b FROM raw_grams
), tgt_b AS (
  SELECT ('0x' || substr(md5(g), 1, 15))::BIGINT % 1024 AS b FROM (
    SELECT unnest(list_concat(w,
             list_transform(range(1, greatest(len(w) - 1, 0) + 1),
                            i -> w[i] || ' ' || w[i+1]))) AS g
    FROM (SELECT list_filter(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '),
                             x -> x <> '') AS w
          FROM documents WHERE lang = 'en')
  )
), rc_t AS (SELECT b, count(*) AS rc FROM raw_b GROUP BY b),
tc_t AS (SELECT b, count(*) AS tc FROM tgt_b GROUP BY b),
tot AS (SELECT (SELECT sum(rc) FROM rc_t) AS rt, (SELECT sum(tc) FROM tc_t) AS tt),
lr_t AS (
  SELECT rc_t.b,
         CAST(round(ln((CAST(coalesce(tc, 0) AS DOUBLE) + 0.5) / (CAST(tt AS DOUBLE) + 512.0))
                    - ln((CAST(rc AS DOUBLE) + 0.5) / (CAST(rt AS DOUBLE) + 512.0)),
                    9) AS DECIMAL(18,9)) AS lr
  FROM rc_t LEFT JOIN tc_t ON rc_t.b = tc_t.b CROSS JOIN tot
), scored AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         round(CAST(sum(lr) AS DOUBLE), 6) AS log_weight,
         round(-ln(-ln(
           ((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT + 0.5)
            / 1152921504606846976.0))), 6) AS gumbel_key
  FROM raw_b JOIN lr_t USING (b)
  GROUP BY doc_id
), keyed AS (
  SELECT *, round(log_weight + gumbel_key, 6) AS key FROM scored
), th AS (
  SELECT min(key) AS th
  FROM (SELECT key FROM keyed ORDER BY key DESC, doc_id LIMIT 100)
)
SELECT doc_id, n_grams, log_weight, gumbel_key, (key >= th) AS selected
FROM keyed CROSS JOIN th
ORDER BY doc_id
"""


QUERIES["dsir_selection"] = dsir_selection
ORACLES["dsir_selection"] = DSIR_ORACLE


def bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination PREFILTER next to its exact twin:
    docs 0-9 are the eval set; a 4096-bit / 3-hash Bloom sketch of
    their 8-token shingles prefilters the training side, and each
    train doc reports (bloom_candidate, exact_contaminated) — every
    exact hit must be a bloom candidate (no false negatives), and
    the visible difference IS the measured false-positive surface.
    The sketch hashes are the portable md5, so the entire filter —
    bits, candidates, and flags — replays in SQL."""
    import os

    from ..operators.dedup import get_window_store

    docs = load(spark, sf_dir, "documents")
    tr = docs.filter(F.col("doc_id") >= 10)
    # window postings from the persistent store's win8 family. r15:
    # the eval/train split is a pure doc_id range predicate, so it
    # pushes straight into the store's parquet scan (PushedFilters)
    # instead of the old semi-joins against the documents table —
    # two joins gone, and the store is read with the filter applied
    # (guide §2.4/§6). The eval slice keeps its checkpoint (two
    # consumers, ~10 docs).
    win8 = get_window_store(spark, os.path.join(sf_dir, "documents.parquet"))
    esh = win8.filter(F.col("doc_id") < 10).localCheckpoint(eager=True)
    tsh = win8.filter(F.col("doc_id") >= 10)
    bits = C.bloom_bits(esh, "shingle", m_bits=4096, k=3)
    # per-ROW Bloom membership: each train posting probes the
    # broadcast bit table once per hash function, so no shingle-keyed
    # exchange is needed to find the candidates
    cand = C.bloom_filter(tsh, "shingle", bits, m_bits=4096, k=3)
    bloom_docs = (
        cand.select("doc_id").distinct()
        .withColumn("bloom_candidate", F.lit(True))
    )
    exact_docs = (
        tsh.join(esh.select("shingle").distinct(), "shingle", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("exact_contaminated", F.lit(True))
    )
    return (
        tr.select("doc_id")
        .join(bloom_docs, "doc_id", "left")
        .join(exact_docs, "doc_id", "left")
        .na.fill({"bloom_candidate": False, "exact_contaminated": False})
        .orderBy("doc_id")
    )


_BLOOM_HASH = "(('0x' || substr(md5('bloom{i}|' || shingle), 1, 15))::BIGINT % 4096)"

BLOOM_PREFILTER_ORACLE = rf"""
WITH tok AS (
  SELECT doc_id, string_split({_NORM_SQL.format(c='text')}, ' ') AS w
  FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(w) - 7, 0) + 1),
           i -> md5(array_to_string(w[i:i+7], ' ')))) AS s
  FROM tok
), eval_sh AS (
  SELECT DISTINCT unnest(s) AS shingle FROM sh WHERE doc_id < 10
), bits AS (
  SELECT DISTINCT bit FROM (
    SELECT {_BLOOM_HASH.format(i=0)} AS bit FROM eval_sh
    UNION ALL SELECT {_BLOOM_HASH.format(i=1)} FROM eval_sh
    UNION ALL SELECT {_BLOOM_HASH.format(i=2)} FROM eval_sh
  )
), train_sh AS (
  SELECT DISTINCT doc_id, unnest(s) AS shingle FROM sh WHERE doc_id >= 10
), member AS (
  SELECT shingle FROM (SELECT DISTINCT shingle FROM train_sh)
  WHERE {_BLOOM_HASH.format(i=0)} IN (SELECT bit FROM bits)
    AND {_BLOOM_HASH.format(i=1)} IN (SELECT bit FROM bits)
    AND {_BLOOM_HASH.format(i=2)} IN (SELECT bit FROM bits)
), bloom_docs AS (
  SELECT DISTINCT doc_id FROM train_sh JOIN member USING (shingle)
), exact_docs AS (
  SELECT DISTINCT doc_id FROM train_sh
  WHERE shingle IN (SELECT shingle FROM eval_sh)
)
SELECT d.doc_id,
       (b.doc_id IS NOT NULL) AS bloom_candidate,
       (e.doc_id IS NOT NULL) AS exact_contaminated
FROM (SELECT doc_id FROM documents WHERE doc_id >= 10) d
LEFT JOIN bloom_docs b USING (doc_id)
LEFT JOIN exact_docs e USING (doc_id)
ORDER BY doc_id
"""


def length_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed dynamic batching over the documents corpus:
    whitespace token counts bucket into width-32 length classes,
    each class cuts into batches of 8 by (tokens desc, doc_id), and
    every doc reports its batch plus the batch's padding fraction."""
    from ..operators.text import ws_token_count

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", ws_token_count(F.col("text")).alias("n_tokens")
    )
    return C.length_bucketed_batches(
        docs, batch_size=8, bucket_width=32
    ).orderBy("bucket", "batch_id", F.desc("n_tokens"), "doc_id")


LENGTH_BATCHES_ORACLE = r"""
WITH toks AS (
  SELECT doc_id,
         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
  FROM documents
), ranked AS (
  SELECT doc_id, n_tokens, CAST(floor(n_tokens / 32) AS BIGINT) AS bucket,
         row_number() OVER (PARTITION BY floor(n_tokens / 32)
                            ORDER BY n_tokens DESC, doc_id) AS rk
  FROM toks
), batched AS (
  SELECT doc_id, n_tokens, bucket,
         CAST(bucket AS VARCHAR) || '_' ||
         CAST(CAST(floor((rk - 1) / 8) AS BIGINT) AS VARCHAR) AS batch_id
  FROM ranked
)
SELECT doc_id, n_tokens, bucket, batch_id,
       CAST(count(*) OVER w AS BIGINT) AS batch_n,
       max(n_tokens) OVER w AS batch_max_tokens,
       round(1.0 - CAST(sum(n_tokens) OVER w AS DOUBLE)
                   / (count(*) OVER w * max(n_tokens) OVER w), 6) AS padding_frac
FROM batched
WINDOW w AS (PARTITION BY bucket, batch_id)
ORDER BY bucket, batch_id, n_tokens DESC, doc_id
"""


QUERIES["bloom_prefilter"] = bloom_prefilter
ORACLES["bloom_prefilter"] = BLOOM_PREFILTER_ORACLE
QUERIES["length_batches"] = length_batches
ORACLES["length_batches"] = LENGTH_BATCHES_ORACLE


def source_overlap_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix over the documents corpus
    (operators/curation.py source_overlap): distinct normalized-text
    hash sets per source, pairwise shared counts + Jaccard."""
    return C.source_overlap(load(spark, sf_dir, "documents"))


SOURCE_OVERLAP_ORACLE = rf"""
WITH sh AS (
  SELECT DISTINCT source AS s,
         ('0x' || substr(md5({_NORM_SQL.format(c='text')}), 1, 15))::BIGINT AS h
  FROM documents
), sizes AS (
  SELECT s, count(*) AS n FROM sh GROUP BY s
), shared AS (
  SELECT a.s AS source_a, b.s AS source_b, count(*) AS n_shared
  FROM sh a JOIN sh b ON a.h = b.h AND a.s < b.s
  GROUP BY 1, 2
)
SELECT sa.s AS source_a, sb.s AS source_b,
       sa.n AS n_a, sb.n AS n_b,
       CAST(coalesce(sh2.n_shared, 0) AS BIGINT) AS n_shared,
       round(coalesce(sh2.n_shared, 0)
             / (sa.n + sb.n - coalesce(sh2.n_shared, 0)), 6) AS jaccard
FROM sizes sa
JOIN sizes sb ON sa.s < sb.s
LEFT JOIN shared sh2 ON sh2.source_a = sa.s AND sh2.source_b = sb.s
ORDER BY source_a, source_b
"""


QUERIES["source_overlap"] = source_overlap_q
ORACLES["source_overlap"] = SOURCE_OVERLAP_ORACLE


def stratified_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-stratified deterministic sample of documents: four
    n_chars strata (exact quartile thresholds), ~100 docs hash-
    sampled from each (operators/curation.py stratified_sample) —
    tail-length documents represented equally with the short head."""
    return (
        C.stratified_sample(
            load(spark, sf_dir, "documents"),
            strata_col="n_chars",
            key_col="doc_id",
            target_per_stratum=100,
            n_strata=4,
        )
        .orderBy("doc_id")
    )


STRATIFIED_SAMPLE_ORACLE = f"""
WITH th AS (
  SELECT quantile_cont(n_chars, 0.25) AS t1,
         quantile_cont(n_chars, 0.5)  AS t2,
         quantile_cont(n_chars, 0.75) AS t3
  FROM documents
), strat AS (
  SELECT doc_id, n_chars,
         (CASE WHEN n_chars > t1 THEN 1 ELSE 0 END
          + CASE WHEN n_chars > t2 THEN 1 ELSE 0 END
          + CASE WHEN n_chars > t3 THEN 1 ELSE 0 END) AS stratum
  FROM documents CROSS JOIN th
), sizes AS (
  SELECT stratum, count(*) AS n FROM strat GROUP BY stratum
)
SELECT s.doc_id, s.n_chars, CAST(s.stratum AS INT) AS stratum
FROM strat s JOIN sizes z USING (stratum)
WHERE {_UNIT.format(c='s.doc_id')} < least(1.0, 100.0 / z.n)
ORDER BY s.doc_id
"""


QUERIES["stratified_sample"] = stratified_sample_q
ORACLES["stratified_sample"] = STRATIFIED_SAMPLE_ORACLE


def weighted_source_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis-Spirakis weighted top-5 per source, weight =
    n_chars (longer documents proportionally likelier) — the
    weight-proportional mixing primitive
    (operators/curation.weighted_sample)."""
    docs = load(spark, sf_dir, "documents")
    return C.weighted_sample(
        docs, weight_col="n_chars", k=5, key="doc_id", group_col="source"
    )


WEIGHTED_SAMPLE_ORACLE = f"""
WITH scored AS (
  SELECT doc_id, source, n_chars,
         CASE WHEN n_chars > 0 THEN
           round(ln(CAST(n_chars AS DOUBLE))
                 - ln(-ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT + 0.5)
                          / 1152921504606846976.0)), 6)
         END AS sample_key
  FROM documents
), ranked AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY sample_key DESC, doc_id) AS rk
  FROM scored WHERE sample_key IS NOT NULL
)
SELECT s.doc_id, s.source, s.n_chars, s.sample_key,
       coalesce(r.rk <= 5, FALSE) AS selected
FROM scored s LEFT JOIN ranked r USING (doc_id)
ORDER BY s.doc_id
"""

QUERIES["weighted_source_sample"] = weighted_source_sample
ORACLES["weighted_source_sample"] = WEIGHTED_SAMPLE_ORACLE


def temperature_mix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-0.7 source mixing shares over the documents table,
    sized by characters (operators/curation.temperature_mix)."""
    docs = load(spark, sf_dir, "documents")
    return C.temperature_mix(docs, alpha=0.7, weight_col="n_chars")


TEMPERATURE_MIX_ORACLE = """
WITH per AS (
  SELECT source, CAST(sum(n_chars) AS DOUBLE) AS n
  FROM documents GROUP BY 1
), tot AS (
  SELECT sum(n) AS t, sum(pow(n, 0.7)) AS ta FROM per
)
SELECT source, n,
       round(n / t, 6) AS raw_share,
       round(pow(n, 0.7) / ta, 6) AS temp_share,
       CASE WHEN n > 0
            THEN round((pow(n, 0.7) / ta) / (n / t), 6) END AS boost
FROM per CROSS JOIN tot ORDER BY source
"""

QUERIES["temperature_mix"] = temperature_mix_q
ORACLES["temperature_mix"] = TEMPERATURE_MIX_ORACLE


def pii_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source PII audit over the documents table
    (operators/curation.pii_report): match counts for the exact
    scrub patterns, counted in the scrub's own order on the
    normalized text — the sizing/anomaly surface read before and
    after redaction."""
    return C.pii_report(load(spark, sf_dir, "documents"))


# the OPERATOR's own pattern constants, interpolated — the oracle
# shares the exact strings, so a pattern tweak in curation.py cannot
# leave this replay matching the old scrub (the pii_report docstring's
# cannot-drift claim holds for the oracle too)
_PII_EMAIL_SQL = C.PII_EMAIL
_PII_IPV4_SQL = C.PII_IPV4
_PII_PHONE_SQL = C.PII_PHONE

PII_REPORT_ORACLE = rf"""
WITH norm AS (
  SELECT source, {_NORM_SQL.format(c='text')} AS t FROM documents
), counted AS (
  SELECT source,
         len(regexp_extract_all(t, '{_PII_EMAIL_SQL}')) AS e,
         len(regexp_extract_all(
           regexp_replace(t, '{_PII_EMAIL_SQL}', '<EMAIL>', 'g'),
           '{_PII_IPV4_SQL}')) AS i,
         len(regexp_extract_all(
           regexp_replace(
             regexp_replace(t, '{_PII_EMAIL_SQL}', '<EMAIL>', 'g'),
             '{_PII_IPV4_SQL}', '<IP>', 'g'),
           '{_PII_PHONE_SQL}')) AS p
  FROM norm
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(e) AS BIGINT) AS emails,
       CAST(sum(i) AS BIGINT) AS ips,
       CAST(sum(p) AS BIGINT) AS phones,
       CAST(sum(CASE WHEN e + i + p > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS docs_with_pii,
       round(CAST(sum(CASE WHEN e + i + p > 0 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS pii_doc_frac
FROM counted GROUP BY source ORDER BY source
"""

QUERIES["pii_report"] = pii_report_q
ORACLES["pii_report"] = PII_REPORT_ORACLE


def shard_assignment_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic data-loader sharding of the documents table
    (operators/curation.shard_assignment): shard = stable hash mod
    32, pos = rank within shard by (hash, id) — reproducible
    training order independent of ingestion/partitioning."""
    return C.shard_assignment(load(spark, sf_dir, "documents"), n_shards=32)


SHARD_ASSIGNMENT_ORACLE = """
WITH h AS (
  SELECT doc_id,
         ('0x' || substr(md5('shard|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM documents
)
SELECT doc_id,
       CAST(h % 32 AS INTEGER) AS shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY h % 32 ORDER BY h, doc_id) - 1
            AS BIGINT) AS pos
FROM h ORDER BY doc_id
"""

QUERIES["shard_assignment"] = shard_assignment_q
ORACLES["shard_assignment"] = SHARD_ASSIGNMENT_ORACLE
