"""Gate queries for the LLM-training-data pipeline operators, over
the driver's documents/embeddings tables, with DuckDB oracles where
the computation is SQL-expressible. Every hash in the dedup path
(shingle hash, MinHash permutations, SimHash word hash) is
md5-derived and engine-portable, so MinHash and SimHash are fully
value-oracled; only the genuinely iterative/float-order-dependent
ops (hyperplane LSH buckets, k-means IVF at reduced probe,
curate_corpus's MinHash stage) stay rows-only with unit-test proof.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io_util import load
from ..operators import dedup as D
from ..operators import similarity as S
from ..operators import text as T


def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.ws_token_count(F.col("text")).alias("n_ws_tokens"),
        T.bpe_ish_token_count(F.col("text")).alias("n_bpe_tokens"),
    ).orderBy("doc_id")


TOKEN_COUNT_ORACLE = r"""
SELECT doc_id,
       len(string_split_regex(trim(text), '\s+')) AS n_ws_tokens,
       len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]')) AS n_bpe_tokens
FROM documents ORDER BY doc_id
"""


def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.quality_features(load(spark, sf_dir, "documents")).orderBy("doc_id")


_SW_EN = "'" + "', '".join(T.STOPWORDS_EN) + "'"
QUALITY_ORACLE = rf"""
WITH base AS (
  SELECT doc_id, text,
         length(text) AS n_chars,
         len(string_split_regex(trim(text), '\s+')) AS n_tokens,
         length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct,
         len(list_filter(string_split_regex(trim(text), '\s+'),
                         w -> w IN ({_SW_EN}))) AS n_stop
  FROM documents
), ratios AS (
  SELECT doc_id, n_chars, n_tokens,
         CAST(n_punct AS DOUBLE) / greatest(n_chars, 1) AS punct_ratio,
         CAST(n_stop AS DOUBLE) / greatest(n_tokens, 1) AS stop_ratio
  FROM base
)
SELECT doc_id, n_chars, n_tokens,
       round(punct_ratio, 6) AS punct_ratio,
       round(stop_ratio, 6) AS stopword_ratio,
       round(least(n_chars / 2000.0, 1.0) * 0.3
             + (1.0 - least(punct_ratio * 4, 1.0)) * 0.3
             + least(stop_ratio * 2, 1.0) * 0.4, 6) AS quality_score
FROM ratios ORDER BY doc_id
"""


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.language_id(load(spark, sf_dir, "documents")).orderBy("doc_id")


def _sw(words):
    return "'" + "', '".join(words) + "'"


LANG_ID_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id, text, string_split_regex(trim(lower(text)), '\s+') AS w
  FROM documents
), hits AS (
  SELECT doc_id, text,
         len(list_filter(w, x -> x IN ({_sw(T.STOPWORDS_EN)}))) AS hits_en,
         len(list_filter(w, x -> x IN ({_sw(T.STOPWORDS_ES)}))) AS hits_es,
         len(list_filter(w, x -> x IN ({_sw(T.STOPWORDS_FR)}))) AS hits_fr,
         len(list_filter(w, x -> x IN ({_sw(T.STOPWORDS_DE)}))) AS hits_de
  FROM toks
)
SELECT doc_id,
       CASE WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
            WHEN hits_en + hits_es + hits_fr + hits_de = 0 THEN 'und'
            WHEN hits_en >= hits_es AND hits_en >= hits_fr AND hits_en >= hits_de THEN 'en'
            WHEN hits_es >= hits_fr AND hits_es >= hits_de THEN 'es'
            WHEN hits_fr >= hits_de THEN 'fr'
            ELSE 'de' END AS predicted_lang,
       hits_en, hits_es, hits_fr, hits_de
FROM hits ORDER BY doc_id
"""


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.doc_fingerprint(load(spark, sf_dir, "documents")).orderBy("doc_id")


FINGERPRINT_ORACLE = r"""
WITH norm AS (
  SELECT doc_id, lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS t
  FROM documents
), words AS (
  SELECT doc_id, t, string_split(t, ' ') AS w FROM norm
), shingled AS (
  SELECT doc_id, t,
         list_transform(range(1, greatest(len(w) - 2, 1) + 1),
                        i -> array_to_string(w[i:i+2], ' ')) AS sh
  FROM words
)
SELECT doc_id, md5(t) AS full_md5,
       list_aggregate(list_transform(sh, s -> md5(s)), 'min') AS min_shingle_md5
FROM shingled ORDER BY doc_id
"""


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_duplicates(load(spark, sf_dir, "documents")).orderBy("doc_id")


DEDUP_EXACT_ORACLE = """
SELECT doc_id, md5(text) AS text_md5,
       count(*) OVER (PARTITION BY md5(text)) AS group_size,
       doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS is_keeper
FROM documents ORDER BY doc_id
"""


def ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise n-gram Jaccard (inverted index in Spark,
    brute-force in the oracle — same answer, different plan). Reads
    the persistent store's postings (n_sh re-derived by one
    count+join)."""
    tokens, _ = _minhash_store(spark, sf_dir)
    return (
        D.ngram_jaccard_pairs(
            load(spark, sf_dir, "documents"), threshold=0.01, n=3, tokens=tokens
        )
        .orderBy("doc_a", "doc_b")
    )


NGRAM_JACCARD_ORACLE = r"""
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(w) - 2, 1) + 1),
           i -> array_to_string(w[i:i+2], ' '))) AS s
  FROM (SELECT doc_id,
               string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS w
        FROM documents)
  WHERE len(w) > 0
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         len(list_intersect(a.s, b.s)) AS inter,
         len(a.s) AS n_a, len(b.s) AS n_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       round(CAST(inter AS DOUBLE) / (n_a + n_b - inter), 6) AS jaccard
FROM pairs
WHERE round(CAST(inter AS DOUBLE) / (n_a + n_b - inter), 6) >= 0.01
ORDER BY doc_a, doc_b
"""


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for the first 10 vectors as queries."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return S.cosine_topk(queries, emb, k=5)


ANN_ORACLE = """
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), q AS (
  SELECT vec_id AS query_id, e AS qv FROM v WHERE vec_id < 10
), scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         round(
           list_sum(list_transform(range(1, len(q.qv) + 1), i -> q.qv[i] * c.e[i]))
           / (sqrt(list_sum(list_transform(range(1, len(q.qv) + 1), i -> q.qv[i] * q.qv[i])))
              * sqrt(list_sum(list_transform(range(1, len(c.e) + 1), i -> c.e[i] * c.e[i]))))
         , 6) AS cosine
  FROM q, v c WHERE c.vec_id <> q.query_id
), ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked
WHERE rank <= 5 ORDER BY query_id, rank
"""


def _minhash_store(spark: SparkSession, sf_dir: str):
    """The shared persistent (tokens, sigs) store for the documents
    corpus at the operator family's default (n=3, k=64)."""
    import os

    return D.get_minhash_store(
        spark, os.path.join(sf_dir, "documents.parquet"), n=3, k=64
    )


def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs. Fully oracle-checked: the
    signatures are k universal-hash permutations of the portable
    60-bit md5 shingle hash (dedup._signatures_from_tokens — pure
    mod-arithmetic), so the oracle recomputes the SAME signatures
    from the SAME perm_coeffs in SQL, replays the banding as
    per-band signature-slice equality (bucket md5s collide with
    their inputs' equality), and verifies exact Jaccard brute-force
    (fine at gate scale; the Spark side stays banded). Postings +
    signatures come from the persistent content-keyed store
    (dedup.get_minhash_store) shared by every MinHash consumer."""
    tokens, sigs = _minhash_store(spark, sf_dir)
    return D.minhash_lsh_pairs(
        load(spark, sf_dir, "documents"), threshold=0.2, tokens=tokens, sigs=sigs
    )


# --- MinHash oracle: generated from the very coefficients the Spark
# operator uses, so any drift in the hash pipeline flips the gate.
_MINHASH_K, _MINHASH_BANDS, _MINHASH_ROWS = 64, 16, 4
_P31 = 2147483647
_MINHASH_SIG_COLS = ",\n         ".join(
    f"min(({a} * hm + {b}) % {_P31}) AS m{i}"
    for i, (a, b) in enumerate(D.perm_coeffs(_MINHASH_K))
)
_MINHASH_BAND_MATCH = "\n     OR ".join(
    "("
    + " AND ".join(
        f"a.m{b * _MINHASH_ROWS + r} = b.m{b * _MINHASH_ROWS + r}"
        for r in range(_MINHASH_ROWS)
    )
    + ")"
    for b in range(_MINHASH_BANDS)
)
_MINHASH_EST = (
    "("
    + " + ".join(f"(a.m{i} = b.m{i})::INT" for i in range(_MINHASH_K))
    + ") / 64.0"
)

MINHASH_ORACLE = rf"""
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(w) - 2, 1) + 1),
           i -> array_to_string(w[i:i+2], ' '))) AS s
  FROM (SELECT doc_id,
               string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS w
        FROM documents)
  WHERE len(w) > 0
), tok AS (
  SELECT doc_id, ('0x' || substr(md5(t.g), 1, 15))::BIGINT AS h
  FROM sh, unnest(sh.s) AS t(g)
), sigs AS (
  SELECT doc_id,
         {_MINHASH_SIG_COLS}
  FROM (SELECT doc_id, h % {_P31} AS hm FROM tok)
  GROUP BY doc_id
), hsets AS (
  SELECT doc_id, list(h) AS hs, count(*) AS n_sh FROM tok GROUP BY doc_id
), cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         round({_MINHASH_EST}, 6) AS est_jaccard
  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
  WHERE {_MINHASH_BAND_MATCH}
), verified AS (
  SELECT c.doc_a, c.doc_b, c.est_jaccard,
         len(list_intersect(x.hs, y.hs)) AS inter,
         x.n_sh AS n_a, y.n_sh AS n_b
  FROM cand c
  JOIN hsets x ON c.doc_a = x.doc_id
  JOIN hsets y ON c.doc_b = y.doc_id
)
SELECT doc_a, doc_b,
       round(CAST(inter AS DOUBLE) / (n_a + n_b - inter), 6) AS jaccard,
       est_jaccard
FROM verified
WHERE round(CAST(inter AS DOUBLE) / (n_a + n_b - inter), 6) >= 0.2
  AND est_jaccard >= 0.0
"""


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash banded near-dup pairs. Fully oracle-checked: the
    md5-based word hashes are engine-portable, and because the
    max_hamming+1 banding is pigeonhole-COMPLETE, the operator's
    output is exactly the set of pairs with hamming <= max_hamming —
    which the oracle computes brute-force (O(n^2) is fine at gate
    scale; the Spark side stays banded). Signatures come from the
    shared persistent store."""
    import os

    sigs = D.get_simhash_store(
        spark, os.path.join(sf_dir, "documents.parquet"), n=3, k=64
    )
    return D.simhash_pairs(
        load(spark, sf_dir, "documents"), max_hamming=10, sigs=sigs
    )


SIMHASH_ORACLE = r"""
WITH words AS (
  SELECT doc_id,
         unnest(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS w
  FROM documents
), hw AS (
  SELECT doc_id, ('0x' || substr(md5(w), 1, 16))::UBIGINT AS h FROM words
), votes AS (
  SELECT doc_id, b, sum(CASE WHEN (h >> CAST(b AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM hw, unnest(range(0, 64)) AS t(b)
  GROUP BY 1, 2
), sigs AS (
  SELECT doc_id,
         bit_or(CASE WHEN v > 0 THEN 1::UBIGINT << CAST(b AS INT) ELSE 0::UBIGINT END) AS sig
  FROM votes GROUP BY 1
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sig, b.sig)) <= 10
"""


def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs at the exhaustive setting:
    n_planes=0 collapses the hyperplane LSH to a single bucket, so
    candidate generation is complete (every pair verified) and the
    output is exactly the set of pairs with cosine >= threshold —
    value-checked against a brute-force SQL oracle. Bounded to the
    first 500 vectors so the all-pairs verify stays gate-sized; the
    multi-table bucketed configuration (the scale path) keeps its
    recall proof in tests/test_similarity.py.

    The synthetic embeddings are near-orthogonal (nearest-neighbor
    cosines peak ~0.51), so the threshold sits where the operator
    surfaces the genuinely-closest pairs rather than returning an
    empty set."""
    emb = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 500)
    return (
        S.embedding_near_duplicates(emb, threshold=0.45, n_planes=0, n_tables=1)
        .orderBy("id_a", "id_b")
    )


DEDUP_EMBEDDING_ORACLE = """
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
  FROM embeddings WHERE vec_id < 500
), pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(
           list_sum(list_transform(range(1, len(a.e) + 1), i -> a.e[i] * b.e[i]))
           / (sqrt(list_sum(list_transform(range(1, len(a.e) + 1), i -> a.e[i] * a.e[i])))
              * sqrt(list_sum(list_transform(range(1, len(b.e) + 1), i -> b.e[i] * b.e[i]))))
         , 6) AS cosine
  FROM v a JOIN v b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, cosine FROM pairs
WHERE cosine >= 0.45
ORDER BY id_a, id_b
"""


def curate_corpus_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation (operators/pipeline.py): exact dedup
    -> quality/lang filter -> MinHash near-dup over survivors, one
    keep/drop decision per document. Value-oracled since round 5: the
    MinHash stage is deterministic (fixed perm_coeffs replayed in
    CURATE_CORPUS_ORACLE), so the whole funnel hash-checks. The
    MinHash stage reads the persistent store, survivor-filtered by
    semi-join — the funnel never re-shingles text."""
    from ..operators.pipeline import curate_corpus

    tokens, sigs = _minhash_store(spark, sf_dir)
    return curate_corpus(
        load(spark, sf_dir, "documents"),
        min_quality=0.3,
        allowed_langs=("en", "es", "fr", "de", "zh", "und"),
        near_dup_threshold=0.5,
        tokens=tokens,
        sigs=sigs,
    ).orderBy("doc_id")


def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs canonicalized into duplicate GROUPS via
    distributed connected components (min-label propagation,
    operators/graph.py) — the keep/drop decision a dedup pipeline
    needs when similarity is transitive (A~B, B~C). r11: served from
    the PERSISTENT content-keyed components store
    (dedup.get_components_store — the closure is a pure function of
    (documents, threshold, n, build code), the classic build-once
    artifact; the live Jaccard+propagation build runs once per
    content key). The oracle mirrors the closure with a recursive
    CTE, so any drift in the persisted artifact flips the gate."""
    import os

    return D.get_components_store(
        spark, os.path.join(sf_dir, "documents.parquet"), threshold=0.3, n=3
    ).orderBy("doc_id")


# shared duplicate-closure CTE chain (exact jaccard pairs -> recursive
# reachability); DEDUP_COMPONENTS and NEAR_DEDUP tails both build on it
_DUP_REACH_CTES = r"""
WITH RECURSIVE sh AS MATERIALIZED (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(w) - 2, 1) + 1),
           i -> array_to_string(w[i:i+2], ' '))) AS s
  FROM (SELECT doc_id,
               string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS w
        FROM documents)
  WHERE len(w) > 0
), pairs AS MATERIALIZED (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
              / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) >= 0.3
), und AS MATERIALIZED (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
), reach (src, dst) AS (
  SELECT u, v FROM und
  UNION
  SELECT r.src, e.v FROM reach r JOIN und e ON r.dst = e.u
)
"""

DEDUP_COMPONENTS_ORACLE = _DUP_REACH_CTES + """
SELECT src AS doc_id,
       least(src, min(dst)) AS component,
       src = least(src, min(dst)) AS is_keeper
FROM reach GROUP BY src ORDER BY doc_id
"""


def dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection: within each near-duplicate
    component (the same Jaccard-0.3 connected components
    dedup_components gates), keep the HIGHEST-QUALITY member instead
    of the lowest id — the policy real pipelines want (the shortest
    boilerplate-stripped copy often has the lowest id but the worst
    text). Singletons are their own canonical. Output (doc_id,
    component, quality_score, is_canonical); per-component argmax by
    (quality_score desc, doc_id) — deterministic and value-oracled
    end to end (closure via recursive CTE, quality formula replayed
    in SQL)."""
    import os

    from pyspark.sql import Window as W

    docs = load(spark, sf_dir, "documents")
    groups = D.get_components_store(
        spark, os.path.join(sf_dir, "documents.parquet"), threshold=0.3, n=3
    ).select("doc_id", "component")
    q = T.quality_features(docs).select("doc_id", "quality_score")
    full = q.join(groups, "doc_id", "left").withColumn(
        "component", F.coalesce(F.col("component"), F.col("doc_id"))
    )
    w = W.partitionBy("component").orderBy(
        F.desc("quality_score"), F.asc("doc_id")
    )
    return (
        full.withColumn("__rk", F.row_number().over(w))
        .select(
            "doc_id",
            "component",
            "quality_score",
            (F.col("__rk") == 1).alias("is_canonical"),
        )
        .orderBy("doc_id")
    )


DEDUP_CANONICAL_ORACLE = _DUP_REACH_CTES + rf"""
, comp AS (
  SELECT src AS doc_id, least(src, min(dst)) AS component
  FROM reach GROUP BY src
), qbase AS (
  SELECT doc_id,
         length(text) AS n_chars,
         len(string_split_regex(trim(text), '\s+')) AS n_tokens,
         length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct,
         len(list_filter(string_split_regex(trim(text), '\s+'),
                         w -> w IN ({_SW_EN}))) AS n_stop
  FROM documents
), quality AS (
  SELECT doc_id,
         round(least(n_chars / 2000.0, 1.0) * 0.3
               + (1.0 - least(CAST(n_punct AS DOUBLE) / greatest(n_chars, 1) * 4, 1.0)) * 0.3
               + least(CAST(n_stop AS DOUBLE) / greatest(n_tokens, 1) * 2, 1.0) * 0.4,
               6) AS quality_score
  FROM qbase
), allq AS (
  SELECT q.doc_id, coalesce(c.component, q.doc_id) AS component,
         q.quality_score
  FROM quality q LEFT JOIN comp c USING (doc_id)
), ranked AS (
  SELECT doc_id, component, quality_score,
         ROW_NUMBER() OVER (PARTITION BY component
                            ORDER BY quality_score DESC, doc_id) AS rk
  FROM allq
)
SELECT doc_id, component, quality_score, rk = 1 AS is_canonical
FROM ranked ORDER BY doc_id
"""


def curate_cheap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation funnel's SQL-expressible stages (exact dedup +
    quality + language), oracle-checked end to end; only the
    hash-dependent MinHash stage stays rows-only (curate_corpus)."""
    from ..operators.pipeline import curate_corpus

    return curate_corpus(
        load(spark, sf_dir, "documents"),
        min_quality=0.3,
        allowed_langs=("en",),
        near_dup_threshold=None,
    ).orderBy("doc_id")


CURATE_CHEAP_ORACLE = rf"""
WITH exact AS (
  SELECT doc_id, doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS is_keeper
  FROM documents
), qbase AS (
  SELECT doc_id,
         length(text) AS n_chars,
         len(string_split_regex(trim(text), '\s+')) AS n_tokens,
         length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct,
         len(list_filter(string_split_regex(trim(text), '\s+'),
                         w -> w IN ({_SW_EN}))) AS n_stop
  FROM documents
), quality AS (
  SELECT doc_id,
         round(least(n_chars / 2000.0, 1.0) * 0.3
               + (1.0 - least(CAST(n_punct AS DOUBLE) / greatest(n_chars, 1) * 4, 1.0)) * 0.3
               + least(CAST(n_stop AS DOUBLE) / greatest(n_tokens, 1) * 2, 1.0) * 0.4,
               6) AS quality_score
  FROM qbase
), lang AS (
  SELECT doc_id,
         CASE WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
              WHEN hits_en + hits_es + hits_fr + hits_de = 0 THEN 'und'
              WHEN hits_en >= hits_es AND hits_en >= hits_fr AND hits_en >= hits_de THEN 'en'
              WHEN hits_es >= hits_fr AND hits_es >= hits_de THEN 'es'
              WHEN hits_fr >= hits_de THEN 'fr'
              ELSE 'de' END AS predicted_lang
  FROM (
    SELECT doc_id, text,
           len(list_filter(w, x -> x IN ({_sw(T.STOPWORDS_EN)}))) AS hits_en,
           len(list_filter(w, x -> x IN ({_sw(T.STOPWORDS_ES)}))) AS hits_es,
           len(list_filter(w, x -> x IN ({_sw(T.STOPWORDS_FR)}))) AS hits_fr,
           len(list_filter(w, x -> x IN ({_sw(T.STOPWORDS_DE)}))) AS hits_de
    FROM (SELECT doc_id, text, string_split_regex(trim(lower(text)), '\s+') AS w
          FROM documents)
  )
), decided AS (
  SELECT e.doc_id,
         CASE WHEN NOT e.is_keeper THEN 'exact_dup'
              WHEN q.quality_score < 0.3 THEN 'low_quality'
              WHEN l.predicted_lang <> 'en' THEN 'wrong_lang'
              END AS reason,
         q.quality_score, l.predicted_lang
  FROM exact e JOIN quality q ON e.doc_id = q.doc_id
  JOIN lang l ON e.doc_id = l.doc_id
)
SELECT doc_id, reason IS NULL AS keep, reason, quality_score, predicted_lang
FROM decided ORDER BY doc_id
"""


# --- Full-funnel oracle: the cheap stages (exact dedup + quality +
# lang, with every producible lang allowed so the funnel's near-dup
# stage actually sees survivors) composed with the SAME deterministic
# MinHash replay MINHASH_ORACLE uses, at curate_corpus's production
# thresholds (jaccard >= 0.5 after an est >= 0.5 - 0.2 screen), and
# the pipeline's drop rule (higher doc_id of each verified pair).
CURATE_CORPUS_ORACLE = rf"""
WITH exact AS (
  SELECT doc_id, doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS is_keeper
  FROM documents
), qbase AS (
  SELECT doc_id,
         length(text) AS n_chars,
         len(string_split_regex(trim(text), '\s+')) AS n_tokens,
         length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct,
         len(list_filter(string_split_regex(trim(text), '\s+'),
                         w -> w IN ({_SW_EN}))) AS n_stop
  FROM documents
), quality AS (
  SELECT doc_id,
         round(least(n_chars / 2000.0, 1.0) * 0.3
               + (1.0 - least(CAST(n_punct AS DOUBLE) / greatest(n_chars, 1) * 4, 1.0)) * 0.3
               + least(CAST(n_stop AS DOUBLE) / greatest(n_tokens, 1) * 2, 1.0) * 0.4,
               6) AS quality_score
  FROM qbase
), lang AS (
  SELECT doc_id,
         CASE WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
              WHEN hits_en + hits_es + hits_fr + hits_de = 0 THEN 'und'
              WHEN hits_en >= hits_es AND hits_en >= hits_fr AND hits_en >= hits_de THEN 'en'
              WHEN hits_es >= hits_fr AND hits_es >= hits_de THEN 'es'
              WHEN hits_fr >= hits_de THEN 'fr'
              ELSE 'de' END AS predicted_lang
  FROM (
    SELECT doc_id, text,
           len(list_filter(w, x -> x IN ({_sw(T.STOPWORDS_EN)}))) AS hits_en,
           len(list_filter(w, x -> x IN ({_sw(T.STOPWORDS_ES)}))) AS hits_es,
           len(list_filter(w, x -> x IN ({_sw(T.STOPWORDS_FR)}))) AS hits_fr,
           len(list_filter(w, x -> x IN ({_sw(T.STOPWORDS_DE)}))) AS hits_de
    FROM (SELECT doc_id, text, string_split_regex(trim(lower(text)), '\s+') AS w
          FROM documents)
  )
), cheap AS (
  SELECT e.doc_id,
         CASE WHEN NOT e.is_keeper THEN 'exact_dup'
              WHEN q.quality_score < 0.3 THEN 'low_quality'
              WHEN l.predicted_lang NOT IN ('en','es','fr','de','zh','und')
                THEN 'wrong_lang'
              END AS cheap_reason,
         q.quality_score, l.predicted_lang
  FROM exact e JOIN quality q ON e.doc_id = q.doc_id
  JOIN lang l ON e.doc_id = l.doc_id
), survivors AS (
  SELECT doc_id FROM cheap WHERE cheap_reason IS NULL
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(w) - 2, 1) + 1),
           i -> array_to_string(w[i:i+2], ' '))) AS s
  FROM (SELECT doc_id,
               string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS w
        FROM documents SEMI JOIN survivors USING (doc_id))
  WHERE len(w) > 0
), tok AS (
  SELECT doc_id, ('0x' || substr(md5(t.g), 1, 15))::BIGINT AS h
  FROM sh, unnest(sh.s) AS t(g)
), sigs AS (
  SELECT doc_id,
         {_MINHASH_SIG_COLS}
  FROM (SELECT doc_id, h % {_P31} AS hm FROM tok)
  GROUP BY doc_id
), hsets AS (
  SELECT doc_id, list(h) AS hs, count(*) AS n_sh FROM tok GROUP BY doc_id
), cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         round({_MINHASH_EST}, 6) AS est_jaccard
  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
  WHERE {_MINHASH_BAND_MATCH}
), near AS (
  SELECT DISTINCT c.doc_b AS doc_id
  FROM cand c
  JOIN hsets x ON c.doc_a = x.doc_id
  JOIN hsets y ON c.doc_b = y.doc_id
  WHERE c.est_jaccard >= 0.3
    AND round(CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE)
              / (x.n_sh + y.n_sh - len(list_intersect(x.hs, y.hs))), 6) >= 0.5
), decided AS (
  SELECT ch.doc_id,
         coalesce(ch.cheap_reason,
                  CASE WHEN n.doc_id IS NOT NULL THEN 'near_dup' END) AS reason,
         ch.quality_score, ch.predicted_lang
  FROM cheap ch LEFT JOIN near n ON ch.doc_id = n.doc_id
)
SELECT doc_id, reason IS NULL AS keep, reason, quality_score, predicted_lang
FROM decided ORDER BY doc_id
"""


def dup_spans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplication spans (operators/dedup.py
    duplicated_spans): maximal merged runs of 8-token windows whose
    text repeats 2+ times corpus-wide."""
    return D.duplicated_spans(
        load(spark, sf_dir, "documents"), window_tokens=8, min_count=2
    ).orderBy("doc_id", "span_start")


DUP_SPANS_ORACLE = r"""
WITH words AS (
  SELECT doc_id,
         string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS w
  FROM documents
), postings AS (
  SELECT doc_id, CAST(t.i AS INT) AS pos,
         ('0x' || substr(md5(array_to_string(w[CAST(t.i AS INT) + 1
                                               : CAST(t.i AS INT) + 8], ' ')),
                 1, 15))::BIGINT AS h
  FROM words, unnest(range(0, greatest(len(w) - 8 + 1, 0))) AS t(i)
), dup AS (
  SELECT doc_id, pos FROM postings
  WHERE h IN (SELECT h FROM postings GROUP BY h HAVING count(*) >= 2)
), islanded AS (
  SELECT doc_id, pos,
         CASE WHEN max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
              OR pos > max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_island
  FROM dup
), grouped AS (
  SELECT doc_id, pos,
         sum(new_island) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM islanded
)
SELECT doc_id,
       CAST(min(pos) AS INT) AS span_start,
       CAST(max(pos) + 8 AS INT) AS span_end,
       CAST(max(pos) + 8 - min(pos) AS INT) AS span_tokens,
       CAST(count(*) AS BIGINT) AS n_windows
FROM grouped
GROUP BY doc_id, island
ORDER BY doc_id, span_start
"""


def dedup_spans_apply_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-dedup REMOVAL pass (operators/dedup.py
    remove_duplicated_spans): corpus-wide, repeated 8-token windows
    keep only their first (doc, pos) occurrence; covered tokens are
    dropped elsewhere and documents reassemble. Text is md5'd to keep
    the gate row compact."""
    return (
        D.remove_duplicated_spans(
            load(spark, sf_dir, "documents"), window_tokens=8, min_count=2
        )
        .select(
            "doc_id",
            F.md5("text_deduped").alias("text_md5"),
            "n_tokens_kept",
            "n_tokens_total",
        )
        .orderBy("doc_id")
    )


DEDUP_SPANS_APPLY_ORACLE = r"""
WITH words AS (
  SELECT doc_id,
         string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS w
  FROM documents
), postings AS (
  SELECT doc_id, CAST(t.i AS INT) AS pos,
         ('0x' || substr(md5(array_to_string(w[CAST(t.i AS INT) + 1
                                               : CAST(t.i AS INT) + 8], ' ')),
                 1, 15))::BIGINT AS h
  FROM words, unnest(range(0, greatest(len(w) - 8 + 1, 0))) AS t(i)
), marked AS (
  SELECT doc_id, pos,
         count(*) OVER (PARTITION BY h) AS n,
         row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
  FROM postings
), non_first AS (
  SELECT doc_id, pos FROM marked WHERE n >= 2 AND rn > 1
), removed AS (
  SELECT DISTINCT doc_id, CAST(pos + t.j AS INT) AS tok_idx
  FROM non_first, unnest(range(0, 8)) AS t(j)
), toks AS (
  SELECT doc_id, CAST(t.i AS INT) - 1 AS tok_idx, w[CAST(t.i AS INT)] AS tok,
         len(w) AS n_total
  FROM words, unnest(range(1, len(w) + 1)) AS t(i)
), kept AS (
  SELECT k.doc_id, k.tok_idx, k.tok, k.n_total
  FROM toks k ANTI JOIN removed r
    ON k.doc_id = r.doc_id AND k.tok_idx = r.tok_idx
), agg AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY tok_idx) AS text_deduped,
         count(*) AS n_kept, any_value(n_total) AS n_total
  FROM kept GROUP BY doc_id
)
SELECT w.doc_id,
       md5(coalesce(a.text_deduped, '')) AS text_md5,
       CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_tokens_kept,
       CAST(coalesce(a.n_total, len(w.w)) AS INT) AS n_tokens_total
FROM words w LEFT JOIN agg a USING (doc_id)
ORDER BY w.doc_id
"""


def content_similar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic content-similarity adapter (semantic_adapter.rb:52-85)
    driven over the documents corpus as single-document nodes: word-set
    Jaccard >= 0.95 pairs, confidence = similarity * 0.5. Bounded to the
    first 500 docs so the inverted-index hot-word fan-out stays flat
    across scale factors (the adapter itself is exercised unbounded on
    XML corpora in unit tests)."""
    from ..operators import relationships as R

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    nodes = docs.select(
        F.col("doc_id").cast("string").alias("id"),
        F.lit("doc").alias("node_type"),
        F.lit("corpus").alias("document_id"),
        F.lit(None).cast("string").alias("parent_id"),
        F.lit(0).alias("position"),
        F.col("text").alias("content"),
        F.lit(None).cast("string").alias("xpath"),
    )
    return R.content_similarity_relationships(nodes, threshold=0.95).orderBy(
        "source_node_id", "target_node_id"
    )


CONTENT_SIMILAR_ORACLE = r"""
WITH base AS (
  SELECT CAST(doc_id AS VARCHAR) AS id,
         list_distinct(regexp_extract_all(lower(text), '\w+')) AS words
  FROM documents
  WHERE doc_id < 500 AND text IS NOT NULL AND text <> ''
), sized AS (
  SELECT id, words, len(words) AS n FROM base WHERE len(words) > 0
), pairs AS (
  SELECT a.id AS source_node_id, b.id AS target_node_id,
         len(list_intersect(a.words, b.words)) AS inter, a.n AS n_a, b.n AS n_b
  FROM sized a JOIN sized b ON a.id <> b.id
)
SELECT source_node_id, target_node_id,
       'content_similar' AS reference_type,
       CAST(NULL AS VARCHAR) AS attribute_name,
       CAST(inter AS DOUBLE) / (n_a + n_b - inter) * 0.5 AS confidence,
       'corpus' AS document_id
FROM pairs
WHERE CAST(inter AS DOUBLE) / (n_a + n_b - inter) >= 0.95
ORDER BY source_node_id, target_node_id
"""


def ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed top-k at the exhaustive-probe setting: with
    n_planes=1 the one-bit-flip multi-probe covers BOTH buckets of
    the single table, so candidate generation is complete and the
    result provably equals exact brute-force top-k — which the
    exact-cosine oracle checks value-for-value. The bucketed
    reduced-probe path (more planes/tables, partial probing) is the
    scale configuration and keeps its recall proof in
    tests/test_similarity.py."""
    emb = load(spark, sf_dir, "embeddings")
    return S.lsh_topk(emb.filter(F.col("vec_id") < 10), emb, k=5, n_planes=1, n_tables=1)


def multimodal_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end multimodal path with REAL rasters (rows-only): each
    document's text bytes render into an 8x8 image — cycling raw PPM,
    COMPRESSED PNG (zlib deflate) and baseline JPEG (Huffman + DCT)
    by doc_id — which then flows through the real decode (inflate +
    unfilter for PNG, entropy-decode + IDCT for JPEG; true dimensions
    + channel means from pixels in every case). Exercises codecs.py /
    jpeg.py + mapInPandas batch plumbing in the gate, not just unit
    tests."""
    from ..operators import multimodal as M

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)

    def to_media(batches):
        import numpy as np
        import pandas as pd

        from ..operators.codecs import encode_png, encode_ppm
        from ..operators.jpeg import encode_jpeg

        encoders = {"ppm": encode_ppm, "png": encode_png, "jpeg": encode_jpeg}

        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                raw = (text or "").encode("utf-8")[: 8 * 8 * 3]
                raw = raw + b"\x00" * (8 * 8 * 3 - len(raw))
                arr = np.frombuffer(raw, dtype=np.uint8).reshape(8, 8, 3)
                fmt = ("ppm", "png", "jpeg")[doc_id % 3]
                data = encoders[fmt](arr)
                rows.append(
                    (
                        int(doc_id),
                        "image",
                        data,
                        {
                            "width": 8,
                            "height": 8,
                            "sample_rate": None,
                            "duration_ms": None,
                            "format": fmt,
                        },
                    )
                )
            yield pd.DataFrame(rows, columns=["media_id", "kind", "data", "meta"])

    media = docs.mapInPandas(to_media, schema=M.MEDIA_SCHEMA)
    return (
        M.decode_image(media)
        .select(
            "media_id",
            "width",
            "height",
            F.round("mean_r", 6).alias("mean_r"),
            F.round("mean_g", 6).alias("mean_g"),
            F.round("mean_b", 6).alias("mean_b"),
        )
        .orderBy("media_id")
    )


def image_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate pairs over the synthesized raster corpus
    (multimodal_pipeline's text->image rendering): perceptual dHash
    signatures through the threshold-complete Hamming banding
    (operators/multimodal.image_near_dup_pairs). Rows-only by
    declared design — the signatures come from REAL codec decodes
    (PNG inflate, JPEG IDCT), which have no SQL replay; the operator
    is value-proven on planted re-encoded/noised images in
    tests/test_multimodal.py. Exact-duplicate documents render to
    identical images, so every text dup group resurfaces here as a
    hamming-0 image pair."""
    from ..operators import multimodal as M

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 1000)

    def to_media(batches):
        import numpy as np
        import pandas as pd

        from ..operators.codecs import encode_ppm

        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                raw = (text or "").encode("utf-8")[: 8 * 8 * 3]
                raw = raw + b"\x00" * (8 * 8 * 3 - len(raw))
                arr = np.frombuffer(raw, dtype=np.uint8).reshape(8, 8, 3)
                rows.append(
                    (
                        int(doc_id),
                        "image",
                        encode_ppm(arr),
                        {
                            "width": 8,
                            "height": 8,
                            "sample_rate": None,
                            "duration_ms": None,
                            "format": "ppm",
                        },
                    )
                )
            yield pd.DataFrame(rows, columns=["media_id", "kind", "data", "meta"])

    media = docs.mapInPandas(to_media, schema=M.MEDIA_SCHEMA)
    return M.image_near_dup_pairs(media, max_hamming=4).orderBy("doc_a", "doc_b")


def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k at the exhaustive-probe setting: n_probe ==
    n_centroids means every query scans every inverted list, so the
    result equals exact brute-force top-k regardless of where the
    k-means codebook converged — value-checked by the exact-cosine
    oracle. The reduced-probe configuration (n_probe << n_centroids,
    the actual scale path) keeps its recall/equivalence proof in
    tests/test_similarity.py. The codebook comes from the persistent
    content-keyed cache (get_codebook) — train once, attach in every
    later session, the IVF model-artifact contract."""
    import os

    emb = load(spark, sf_dir, "embeddings")
    cents = S.get_codebook(
        spark, os.path.join(sf_dir, "embeddings.parquet"), k=16, n_iter=5
    )
    return S.ivf_topk(
        emb.filter(F.col("vec_id") < 10),
        emb,
        k=5,
        n_centroids=16,
        n_probe=16,
        centroids=cents,
        # the query side is 10 ids BY CONSTRUCTION (vec_id < 10), so
        # the operator's eager broadcast-size guard would only add a
        # count job + checkpoint to every gate run (measured ~+0.9s
        # at sf0.1); external callers keep the fail-loud default
        max_query_rows=None,
    )


def bm25_search_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-text BM25 top-10 for a fixed two-term query over the
    PERSISTENT inverted index (operators/search.py): content-keyed
    on-disk parquet, token-sorted so the query's term lookups prune
    row groups — cold sessions attach instead of rebuilding."""
    import os

    from ..operators.search import bm25_search, get_text_index

    idx, n_docs, avg_len = get_text_index(
        spark, os.path.join(sf_dir, "documents.parquet")
    )
    return bm25_search(idx, "data query", k=10, n_docs=n_docs, avg_len=avg_len)


BM25_ORACLE = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '),
                     x -> x <> '') AS t
  FROM documents
), exploded AS (
  SELECT doc_id, len(t) AS doc_len, unnest(t) AS token FROM toks
), idx AS (
  SELECT token, doc_id, doc_len, count(*) AS tf FROM exploded GROUP BY 1, 2, 3
), stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n, avg(doc_len) AS avgdl
  FROM (SELECT DISTINCT doc_id, doc_len FROM idx)
), hits AS (
  SELECT * FROM idx WHERE token IN ('data', 'query')
), dfs AS (
  SELECT token, count(DISTINCT doc_id) AS df FROM hits GROUP BY 1
), scored AS (
  SELECT h.doc_id,
         round(sum(
           ln((s.n - d.df + 0.5) / (d.df + 0.5) + 1.0)
           * (h.tf * (1.2 + 1)) / (h.tf + 1.2 * (1 - 0.75 + 0.75 * h.doc_len / s.avgdl))
         ), 6) AS bm25
  FROM hits h JOIN dfs d USING (token) CROSS JOIN stats s
  GROUP BY h.doc_id
)
SELECT doc_id, bm25,
       ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rank
FROM scored
QUALIFY rank <= 10
ORDER BY rank
"""


def hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical+dense hybrid retrieval with reciprocal-rank fusion:
    BM25 top-50 for the fixed two-term query (persistent inverted
    index) fused with cosine top-50 around the vec_id=0 embedding
    (doc_id and vec_id are aligned in the corpus). Rank-based RRF
    needs no score calibration between the two retrievers; both
    input lists and the fusion are fully deterministic, so the whole
    hybrid stack is value-oracled."""
    import os

    from ..operators.search import bm25_search, get_text_index, rrf_fuse

    idx, n_docs, avg_len = get_text_index(
        spark, os.path.join(sf_dir, "documents.parquet")
    )
    lex = bm25_search(idx, "data query", k=50, n_docs=n_docs, avg_len=avg_len)
    emb = load(spark, sf_dir, "embeddings")
    dense = S.cosine_topk(emb.filter(F.col("vec_id") == 0), emb, k=50).select(
        F.col("neighbor_id").alias("doc_id"), "rank"
    )
    return rrf_fuse([lex.select("doc_id", "rank"), dense], k=10)


_COSINE_SQL = """round(
           list_sum(list_transform(range(1, len(q.qv) + 1), i -> q.qv[i] * c.e[i]))
           / (sqrt(list_sum(list_transform(range(1, len(q.qv) + 1), i -> q.qv[i] * q.qv[i])))
              * sqrt(list_sum(list_transform(range(1, len(c.e) + 1), i -> c.e[i] * c.e[i]))))
         , 6)"""

HYBRID_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '),
                     x -> x <> '') AS t
  FROM documents
), exploded AS (
  SELECT doc_id, len(t) AS doc_len, unnest(t) AS token FROM toks
), idx AS (
  SELECT token, doc_id, doc_len, count(*) AS tf FROM exploded GROUP BY 1, 2, 3
), stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n, avg(doc_len) AS avgdl
  FROM (SELECT DISTINCT doc_id, doc_len FROM idx)
), hits AS (
  SELECT * FROM idx WHERE token IN ('data', 'query')
), dfs AS (
  SELECT token, count(DISTINCT doc_id) AS df FROM hits GROUP BY 1
), bm25_scored AS (
  SELECT h.doc_id,
         round(sum(
           ln((s.n - d.df + 0.5) / (d.df + 0.5) + 1.0)
           * (h.tf * (1.2 + 1)) / (h.tf + 1.2 * (1 - 0.75 + 0.75 * h.doc_len / s.avgdl))
         ), 6) AS bm25
  FROM hits h JOIN dfs d USING (token) CROSS JOIN stats s
  GROUP BY h.doc_id
), lex AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rank
  FROM bm25_scored QUALIFY rank <= 50
), v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), q AS (
  SELECT e AS qv FROM v WHERE vec_id = 0
), dense_scored AS (
  SELECT c.vec_id AS doc_id, {_COSINE_SQL} AS cosine
  FROM v c CROSS JOIN q WHERE c.vec_id <> 0
), dense AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id) AS rank
  FROM dense_scored QUALIFY rank <= 50
), unioned AS (
  SELECT doc_id, 1.0 / (60.0 + rank) AS contrib FROM lex
  UNION ALL
  SELECT doc_id, 1.0 / (60.0 + rank) AS contrib FROM dense
), fused AS (
  SELECT doc_id, round(sum(contrib), 6) AS rrf, count(*) AS n_lists
  FROM unioned GROUP BY 1
), final AS (
  SELECT doc_id, rrf, n_lists,
         ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS rank
  FROM fused
)
SELECT doc_id, rrf, n_lists, rank FROM final WHERE rank <= 10 ORDER BY rank
"""


def hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining: for the first 10 vectors, the top-5
    most-similar corpus vectors with a DIFFERENT class label —
    contrastive-training pair construction over the embeddings
    table (operators/similarity.hard_negative_topk)."""
    emb = load(spark, sf_dir, "embeddings")
    return S.hard_negative_topk(emb.filter(F.col("vec_id") < 10), emb, k=5)


HARD_NEG_ORACLE = f"""
WITH v AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), q AS (
  SELECT vec_id AS query_id, label AS q_label, e AS qv FROM v WHERE vec_id < 10
), scored AS (
  SELECT q.query_id, q.q_label, c.vec_id AS neighbor_id, c.label AS n_label,
         {_COSINE_SQL} AS cosine
  FROM q, v c WHERE c.vec_id <> q.query_id AND c.label <> q.q_label
), ranked AS (
  SELECT query_id, q_label, neighbor_id, n_label, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, q_label, neighbor_id, n_label, cosine, rank FROM ranked
WHERE rank <= 5 ORDER BY query_id, rank
"""


def nb_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language classifier, trained on the
    doc_id % 5 != 0 split and scored on the held-out fifth
    (operators/classify.py — training is one groupBy, scoring is a
    broadcast model join; fully value-oracled including Laplace
    smoothing and OOV handling). The curation story: a fastText-style
    router (domain/language/quality) whose train AND apply steps run
    as declarative Spark plans over the full corpus."""
    from ..operators import classify as CL

    docs = load(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 5 != 0)
    test = docs.filter(F.col("doc_id") % 5 == 0)
    fitted = CL.nb_train(train, label_col="lang")
    preds = CL.nb_score(test, fitted)
    return (
        preds.join(test.select("doc_id", "lang"), "doc_id")
        .select("doc_id", "lang", "predicted", "score")
        .orderBy("doc_id")
    )


NB_CLASSIFY_ORACLE = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '),
                     x -> x <> '') AS t
  FROM documents
), tok_counts AS (
  SELECT doc_id, token, count(*) AS cnt
  FROM (SELECT doc_id, unnest(t) AS token FROM toks)
  GROUP BY 1, 2
), train_counts AS (
  SELECT tc.doc_id, tc.token, tc.cnt, d.lang AS label
  FROM tok_counts tc JOIN documents d USING (doc_id)
  WHERE tc.doc_id % 5 <> 0
), model_tf AS (
  SELECT token, label, sum(cnt) AS tf FROM train_counts GROUP BY 1, 2
), vocab AS (
  SELECT DISTINCT token FROM model_tf
), vsize AS (
  SELECT CAST(count(*) AS DOUBLE) AS v FROM vocab
), class_tot AS (
  SELECT label, CAST(sum(tf) AS DOUBLE) AS tot FROM model_tf GROUP BY 1
), class_docs AS (
  SELECT lang AS label, CAST(count(*) AS DOUBLE) AS nd
  FROM documents WHERE doc_id % 5 <> 0 GROUP BY 1
), n_train AS (
  SELECT CAST(count(*) AS DOUBLE) AS n FROM documents WHERE doc_id % 5 <> 0
), class_stats AS (
  SELECT cd.label,
         ln(cd.nd) - ln(nt.n) AS prior_ln,
         ln(1.0) - ln(coalesce(ct.tot, 0.0) + 1.0 * vs.v) AS default_ln
  FROM class_docs cd LEFT JOIN class_tot ct USING (label)
  CROSS JOIN vsize vs CROSS JOIN n_train nt
), adj AS (
  SELECT token, label, ln(tf + 1.0) - ln(1.0) AS adj_ln FROM model_tf
), iv AS (
  SELECT doc_id, token, cnt FROM tok_counts
  WHERE doc_id % 5 = 0 AND token IN (SELECT token FROM vocab)
), n_iv AS (
  SELECT doc_id, CAST(sum(cnt) AS DOUBLE) AS niv FROM iv GROUP BY 1
), adj_sums AS (
  SELECT i.doc_id, a.label, sum(i.cnt * a.adj_ln) AS adj_sum
  FROM iv i JOIN adj a USING (token) GROUP BY 1, 2
), grid AS (
  SELECT d.doc_id, d.lang, cs.label, cs.prior_ln, cs.default_ln
  FROM documents d CROSS JOIN class_stats cs WHERE d.doc_id % 5 = 0
), scored AS (
  SELECT g.doc_id, g.lang, g.label,
         round(g.prior_ln + coalesce(n.niv, 0) * g.default_ln
               + coalesce(s.adj_sum, 0), 6) AS score
  FROM grid g
  LEFT JOIN n_iv n ON g.doc_id = n.doc_id
  LEFT JOIN adj_sums s ON g.doc_id = s.doc_id AND g.label = s.label
), ranked AS (
  SELECT doc_id, lang, label, score,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, label) AS rk
  FROM scored
)
SELECT doc_id, lang, label AS predicted, score FROM ranked
WHERE rk = 1 ORDER BY doc_id
"""


def repetition_topngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2-gram repetition fraction per document — the half of the
    Gopher repetition suite gopher_quality's duplicate-LINE metric
    does not cover (operators/text.top_ngram_repetition)."""
    return T.top_ngram_repetition(load(spark, sf_dir, "documents"))


REPETITION_ORACLE = r"""
WITH norm AS (
  SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS nt
  FROM documents
), toks AS (
  SELECT doc_id, length(nt) AS n_chars,
         list_filter(string_split(nt, ' '), x -> x <> '') AS w
  FROM norm
), grams AS (
  SELECT doc_id, n_chars,
         unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS gram
  FROM toks WHERE len(w) >= 2
), counts AS (
  SELECT doc_id, n_chars, gram, count(*) AS cnt FROM grams GROUP BY 1, 2, 3
), top AS (
  SELECT doc_id, gram, cnt, n_chars,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram) AS rk
  FROM counts
)
SELECT d.doc_id,
       t.gram AS top_gram,
       CAST(coalesce(t.cnt, 0) AS BIGINT) AS top_cnt,
       least(coalesce(round(t.cnt * length(t.gram) / CAST(t.n_chars AS DOUBLE), 6),
                      0.0), 1.0) AS top_frac,
       least(coalesce(round(t.cnt * length(t.gram) / CAST(t.n_chars AS DOUBLE), 6),
                      0.0), 1.0) <= 0.20 AS keep
FROM documents d
LEFT JOIN (SELECT * FROM top WHERE rk = 1) t USING (doc_id)
ORDER BY d.doc_id
"""


def shingle_novelty_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document first-occurrence novelty over the corpus's 3-gram
    shingle space, served from the persistent MinHash store's
    postings — no re-shingling (operators/dedup.shingle_novelty)."""
    tokens, _ = _minhash_store(spark, sf_dir)
    return D.shingle_novelty(
        load(spark, sf_dir, "documents"), n=3, tokens=tokens
    )


SHINGLE_NOVELTY_ORACLE = r"""
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(w) - 2, 1) + 1),
           i -> array_to_string(w[i:i+2], ' '))) AS s
  FROM (SELECT doc_id,
               string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS w
        FROM documents)
  WHERE len(w) > 0
), postings AS (
  SELECT doc_id, unnest(s) AS shingle FROM sh
), firsts AS (
  SELECT shingle, min(doc_id) AS first_doc FROM postings GROUP BY 1
)
SELECT p.doc_id,
       count(*) AS n_shingles,
       CAST(sum(CASE WHEN f.first_doc = p.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS novel,
       round(CAST(sum(CASE WHEN f.first_doc = p.doc_id THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*), 6) AS novel_frac
FROM postings p JOIN firsts f USING (shingle)
GROUP BY p.doc_id ORDER BY p.doc_id
"""


def semdedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings table, clusters from the
    persistent IVF codebook (k=16 at gate scale; the centroid count
    is the quadratic-bound knob at 100 TB). Gate threshold 0.4 sits
    INSIDE the synthetic corpus's within-cluster cosine range (max
    ~0.51, p99 ~0.35 — near-random vectors have no true semantic
    dups), so the drop path executes at the gate; real corpora run
    0.95+. Rows-only by declared design: keep/cluster values depend
    on the float k-means codebook, which SQL cannot re-derive — the
    operator is pinned by brute-force-replica unit tests
    (tests/test_similarity.py) instead."""
    import os

    emb = load(spark, sf_dir, "embeddings")
    cents = S.get_codebook(
        spark, os.path.join(sf_dir, "embeddings.parquet"), k=16, n_iter=5
    )
    return S.semdedup(emb, cents, threshold=0.4)


def nb_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the NB language router on the held-out
    fifth — the evaluation surface a curation pipeline checks before
    trusting the classifier's routing decisions: (lang, predicted,
    n) for every truth/prediction pair that occurs, plus the same
    end-to-end oracle as nb_classify with one extra aggregation."""
    return (
        nb_classify(spark, sf_dir)
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "predicted")
    )


_NB_RANKED_SQL = NB_CLASSIFY_ORACLE.rsplit("SELECT doc_id", 1)[0]

NB_CONFUSION_ORACLE = _NB_RANKED_SQL + """SELECT lang, label AS predicted, count(*) AS n
FROM ranked WHERE rk = 1
GROUP BY lang, label ORDER BY lang, predicted
"""


def _nb_en_labeled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, prob, label) on the held-out fifth: softmax P(en)
    from the same fitted NB model as nb_classify, label = lang=='en'
    — the shared input of the nb_auc and nb_calibration gates."""
    from ..operators import classify as CL

    docs = load(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 5 != 0)
    test = docs.filter(F.col("doc_id") % 5 == 0)
    fitted = CL.nb_train(train, label_col="lang")
    probs = CL.nb_score_proba(test, fitted, target="en")
    return probs.join(
        test.select(
            "doc_id", (F.col("lang") == "en").cast("int").alias("label")
        ),
        "doc_id",
    )


def nb_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of the NB router as an en-vs-rest probabilistic
    classifier (operators/classify.binary_auc — Mann-Whitney rank
    statistic with tie handling, integer arithmetic until the one
    final division): the threshold-free evaluation a pipeline reads
    before trusting P(quality)-gated curation. Value-oracled end to
    end INCLUDING the softmax (exp terms decimal-summed)."""
    from ..operators import classify as CL

    return CL.binary_auc(
        _nb_en_labeled(spark, sf_dir), label_col="label", score_col="prob"
    )


def nb_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram bins of the NB router's P(en)
    (operators/classify.calibration_bins): per-decile count, mean
    predicted probability, observed positive fraction — whether the
    router's probabilities can gate thresholds directly or need
    recalibration. Pure map + one combinable groupBy."""
    from ..operators import classify as CL

    return CL.calibration_bins(
        _nb_en_labeled(spark, sf_dir), label_col="label", prob_col="prob"
    )


# the NB CTE chain up to the full (doc, label) score grid
_NB_SCORED_SQL = NB_CLASSIFY_ORACLE.rsplit(", ranked AS", 1)[0]

# softmax P(en) per held-out doc with the decimal-summed exp terms
# (order-independent reduction; exp argument is built from the SAME
# 6dp-rounded scores both engines compute)
_NB_PROB_SQL = _NB_SCORED_SQL + """, mx AS (
  SELECT doc_id, max(score) AS mx FROM scored GROUP BY doc_id
), ex AS (
  SELECT s.doc_id, s.label,
         CAST(round(exp(s.score - m.mx), 9) AS DECIMAL(18,9)) AS e
  FROM scored s JOIN mx m USING (doc_id)
), prob AS (
  SELECT doc_id,
         round(CAST(max(CASE WHEN label = 'en' THEN e END) AS DOUBLE)
               / CAST(sum(e) AS DOUBLE), 6) AS prob
  FROM ex GROUP BY doc_id
), lab AS (
  -- NULL lang rows are EXCLUDED, replaying binary_auc's null-label
  -- contract (Spark's (lang=='en')::int is NULL there and the
  -- operator drops the row)
  SELECT p.doc_id, p.prob,
         CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
  FROM prob p JOIN documents d USING (doc_id)
  WHERE d.lang IS NOT NULL
)
"""

NB_AUC_ORACLE = _NB_PROB_SQL + """, grp AS (
  SELECT prob AS s, count(*) AS n, sum(y) AS pos FROM lab GROUP BY prob
), cum AS (
  SELECT s, n, pos, n - pos AS neg,
         coalesce(sum(n - pos) OVER (ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumneg
  FROM grp
)
SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
       CAST(sum(neg) AS BIGINT) AS n_neg,
       round(CAST(2 * sum(pos * cumneg) + sum(pos * neg) AS DOUBLE)
             / CAST(2 * sum(pos) * sum(neg) AS DOUBLE), 6) AS auc
FROM cum
"""

NB_CALIBRATION_ORACLE = _NB_PROB_SQL + """SELECT
  CAST(least(floor(prob * 10), 9) AS INTEGER) AS bin,
  CAST(count(*) AS BIGINT) AS n,
  round(CAST(sum(CAST(round(prob, 9) AS DECIMAL(18,9))) AS DOUBLE)
        / count(*), 6) AS mean_prob,
  round(CAST(sum(y) AS DOUBLE) / count(*), 6) AS frac_pos
FROM lab GROUP BY 1 ORDER BY bin
"""


QUERIES = {
    "bm25_search": bm25_search_q,
    "token_count": token_count,
    "quality_score": quality_score,
    "lang_id": lang_id,
    "doc_fingerprint": doc_fingerprint,
    "dedup_exact": dedup_exact,
    "ngram_jaccard": ngram_jaccard,
    "ann_cosine_topk": ann_cosine_topk,
    "dedup_minhash": dedup_minhash,
    "dedup_simhash": dedup_simhash,
    "dedup_embedding": dedup_embedding,
    "ann_lsh": ann_lsh,
    "ann_ivf": ann_ivf,
    "multimodal_pipeline": multimodal_pipeline,
    "image_dedup": image_dedup,
    "curate_corpus": curate_corpus_q,
    "curate_cheap": curate_cheap,
    "content_similarity": content_similar,
    "dedup_components": dedup_components,
    "dup_spans": dup_spans_q,
    "dedup_spans_apply": dedup_spans_apply_q,
    "hybrid_search": hybrid_search,
    "hard_negatives": hard_negatives,
    "nb_classify": nb_classify,
    "nb_confusion": nb_confusion,
    "nb_auc": nb_auc,
    "nb_calibration": nb_calibration,
    "repetition_topngram": repetition_topngram,
    "shingle_novelty": shingle_novelty_q,
    "semdedup": semdedup_q,
    "dedup_canonical": dedup_canonical,
}

ORACLES = {
    "bm25_search": BM25_ORACLE,
    "token_count": TOKEN_COUNT_ORACLE,
    "quality_score": QUALITY_ORACLE,
    "lang_id": LANG_ID_ORACLE,
    "doc_fingerprint": FINGERPRINT_ORACLE,
    "dedup_exact": DEDUP_EXACT_ORACLE,
    "ngram_jaccard": NGRAM_JACCARD_ORACLE,
    "ann_cosine_topk": ANN_ORACLE,
    # exhaustive-probe configs provably equal exact top-k -> same oracle
    "ann_lsh": ANN_ORACLE,
    "ann_ivf": ANN_ORACLE,
    "dedup_embedding": DEDUP_EMBEDDING_ORACLE,
    "dedup_minhash": MINHASH_ORACLE,
    "dedup_simhash": SIMHASH_ORACLE,
    "curate_cheap": CURATE_CHEAP_ORACLE,
    "content_similarity": CONTENT_SIMILAR_ORACLE,
    "dedup_components": DEDUP_COMPONENTS_ORACLE,
    "curate_corpus": CURATE_CORPUS_ORACLE,
    "dup_spans": DUP_SPANS_ORACLE,
    "dedup_spans_apply": DEDUP_SPANS_APPLY_ORACLE,
    "hybrid_search": HYBRID_ORACLE,
    "hard_negatives": HARD_NEG_ORACLE,
    "nb_classify": NB_CLASSIFY_ORACLE,
    "nb_confusion": NB_CONFUSION_ORACLE,
    "nb_auc": NB_AUC_ORACLE,
    "nb_calibration": NB_CALIBRATION_ORACLE,
    "repetition_topngram": REPETITION_ORACLE,
    "shingle_novelty": SHINGLE_NOVELTY_ORACLE,
    "dedup_canonical": DEDUP_CANONICAL_ORACLE,
}


def random_projection_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL sign-projection of the embeddings to 16 dims
    (operators/similarity.py random_sign_projection), long form."""
    emb = load(spark, sf_dir, "embeddings")
    return S.random_sign_projection(emb, out_dims=16, in_dims=64).orderBy(
        "vec_id", "dim"
    )


RANDOM_PROJECTION_ORACLE = """
WITH sig AS (
  SELECT CAST(j.j AS INTEGER) AS j, CAST(i.i AS INTEGER) AS i,
         CASE WHEN ('0x' || substr(md5('rp' || j.j || '|' || i.i), 1, 15))::BIGINT % 2 = 0
              THEN 1 ELSE -1 END AS s
  FROM (SELECT unnest(range(16)) AS j) j, (SELECT unnest(range(64)) AS i) i
), comps AS (
  SELECT em.vec_id, sig.j AS dim,
         CAST(sum(CAST(CAST(em.embedding[sig.i + 1] AS DOUBLE) AS DECIMAL(18,9)) * sig.s) AS DOUBLE) AS component
  FROM embeddings em CROSS JOIN sig
  GROUP BY em.vec_id, sig.j
)
SELECT vec_id, dim, component FROM comps ORDER BY vec_id, dim
"""


QUERIES["random_projection"] = random_projection_q
ORACLES["random_projection"] = RANDOM_PROJECTION_ORACLE


def bpe_merges_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge table learned from the documents corpus
    (operators/text.py train_bpe). Rows-only by declared design: the
    merge sequence is deterministic (exact integer pair counts,
    lexicographic tie-break) but inherently iterative — each merge
    reshapes the next round's pair counts — so there is no SQL
    replay; tests/test_text_bpe.py proves the sequence against an
    independent pure-python reference implementation."""
    docs = load(spark, sf_dir, "documents")
    return T.train_bpe(docs, n_merges=12).orderBy("rank")


QUERIES["bpe_merges"] = bpe_merges_q


def dedup_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-generation quality audit: what fraction of TRUE
    near-duplicate pairs (exact 3-gram Jaccard >= 0.05, inverted-index
    brute-force) does MinHash(16 bands x 4 rows) banding + verify
    actually recover? One row: (n_exact, n_caught, recall).

    At threshold 0.05 the (16,4) S-curve is far from saturation, so
    recall is a real measurement, not 1.0 by construction — this is
    the query a pipeline owner runs on a sample before trusting
    banded dedup at 100 TB (both sides here are banded/indexed joins;
    nothing all-pairs at corpus scale except the oracle's replay)."""
    docs = load(spark, sf_dir, "documents")
    tokens, sigs = _minhash_store(spark, sf_dir)
    # two consumers (the hit join and the n_exact count) — without
    # the checkpoint the inverted-index Jaccard join runs twice
    exact = (
        D.ngram_jaccard_pairs(docs, threshold=0.05, n=3, tokens=tokens)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=False)
    )
    caught = D.minhash_lsh_pairs(
        docs, threshold=0.05, tokens=tokens, sigs=sigs
    ).select("doc_a", "doc_b")
    hit = caught.join(exact, ["doc_a", "doc_b"])
    n_e = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    n_c = hit.agg(F.count(F.lit(1)).alias("n_caught"))
    return n_e.crossJoin(n_c).select(
        "n_exact",
        "n_caught",
        F.when(
            F.col("n_exact") > 0,
            F.round(F.col("n_caught") / F.col("n_exact"), 6),
        ).alias("recall"),
    )


DEDUP_RECALL_ORACLE = rf"""
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(w) - 2, 1) + 1),
           i -> array_to_string(w[i:i+2], ' '))) AS s
  FROM (SELECT doc_id,
               string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS w
        FROM documents)
  WHERE len(w) > 0
), exact AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
              / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) >= 0.05
), tok AS (
  SELECT doc_id, ('0x' || substr(md5(t.g), 1, 15))::BIGINT AS h
  FROM sh, unnest(sh.s) AS t(g)
), sigs AS (
  SELECT doc_id,
         {_MINHASH_SIG_COLS}
  FROM (SELECT doc_id, h % {_P31} AS hm FROM tok)
  GROUP BY doc_id
), hsets AS (
  SELECT doc_id, list(h) AS hs, count(*) AS n_sh FROM tok GROUP BY doc_id
), cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
  WHERE {_MINHASH_BAND_MATCH}
), caught AS (
  SELECT c.doc_a, c.doc_b
  FROM cand c
  JOIN hsets x ON c.doc_a = x.doc_id
  JOIN hsets y ON c.doc_b = y.doc_id
  WHERE round(CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE)
              / (x.n_sh + y.n_sh - len(list_intersect(x.hs, y.hs))), 6) >= 0.05
), hit AS (
  SELECT * FROM caught INTERSECT SELECT * FROM exact
)
SELECT (SELECT count(*) FROM exact) AS n_exact,
       (SELECT count(*) FROM hit) AS n_caught,
       CASE WHEN (SELECT count(*) FROM exact) > 0
            THEN round(CAST((SELECT count(*) FROM hit) AS DOUBLE)
                       / (SELECT count(*) FROM exact), 6)
            END AS recall
"""


QUERIES["dedup_recall_audit"] = dedup_recall_audit
ORACLES["dedup_recall_audit"] = DEDUP_RECALL_ORACLE


def near_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END of the near-dedup story: the corpus that survives.
    Transitive duplicate groups (connected components over exact
    Jaccard>=0.3 pairs) keep only their minimum doc_id; everything
    else passes through untouched. One anti-join against the
    (tiny) drop-list — at 100 TB the corpus is only ever filtered,
    never reshuffled.

    r15: the drop-list comes from the PERSISTENT components store
    (the exact (threshold=0.3, n=3) closure dedup_components and
    dedup_canonical already read) instead of re-running the
    inverted-index Jaccard join + iterative min-label propagation
    per query — the store IS that computation, materialized once per
    content key; same oracle, same rows."""
    import os

    docs = load(spark, sf_dir, "documents")
    drop = (
        D.get_components_store(
            spark, os.path.join(sf_dir, "documents.parquet"), threshold=0.3, n=3
        )
        .filter(~F.col("is_keeper"))
        .select("doc_id")
    )
    return (
        docs.join(drop, "doc_id", "left_anti")
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    )


NEAR_DEDUP_CORPUS_ORACLE = _DUP_REACH_CTES + """
SELECT d.doc_id, d.source, d.n_chars
FROM documents d
WHERE d.doc_id NOT IN (
  SELECT src FROM reach GROUP BY src
  HAVING src <> least(src, min(dst)))
ORDER BY d.doc_id
"""


QUERIES["near_dedup_corpus"] = near_dedup_corpus
ORACLES["near_dedup_corpus"] = NEAR_DEDUP_CORPUS_ORACLE


def phrase_pmi_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 bigram collocations by PMI over the documents corpus
    (operators/text.py phrase_pmi, min pair count 5)."""
    return T.phrase_pmi(load(spark, sf_dir, "documents"), min_count=5, top=50)


PHRASE_PMI_ORACLE = r"""
WITH toks AS (
  SELECT string_split_regex(trim(lower(text)), '\s+') AS w FROM documents
), uni AS (
  SELECT u.x AS w, count(*) AS cnt
  FROM toks, unnest(toks.w) AS u(x) WHERE u.x <> '' GROUP BY u.x
), n_uni AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS n_words FROM uni
), all_bi AS (
  SELECT w[CAST(i.i AS INT)] AS a, w[CAST(i.i AS INT) + 1] AS b, count(*) AS pair_cnt
  FROM toks, unnest(range(1, len(toks.w))) AS i(i)
  WHERE w[CAST(i.i AS INT)] <> '' AND w[CAST(i.i AS INT) + 1] <> ''
  GROUP BY 1, 2
), n_bi AS (
  -- normalize by ALL adjacent pairs, not just the min_count survivors
  SELECT CAST(sum(pair_cnt) AS BIGINT) AS n_pairs FROM all_bi
), bi AS (
  SELECT * FROM all_bi WHERE pair_cnt >= 5
)
SELECT bi.a, bi.b, bi.pair_cnt,
       round(ln((bi.pair_cnt / CAST(n_pairs AS DOUBLE))
                / ((ua.cnt / CAST(n_words AS DOUBLE))
                   * (ub.cnt / CAST(n_words AS DOUBLE)))), 6) AS pmi
FROM bi
JOIN uni ua ON bi.a = ua.w
JOIN uni ub ON bi.b = ub.w
CROSS JOIN n_uni CROSS JOIN n_bi
ORDER BY pmi DESC, a, b
LIMIT 50
"""


QUERIES["phrase_pmi"] = phrase_pmi_q
ORACLES["phrase_pmi"] = PHRASE_PMI_ORACLE


def unicode_quality_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-health signals (operators/text.py unicode_quality)."""
    return T.unicode_quality(load(spark, sf_dir, "documents")).orderBy("doc_id")


UNICODE_QUALITY_ORACLE = r"""
SELECT doc_id,
       length(text) AS n_chars,
       round((length(text) - length(regexp_replace(text, '[^\x00-\x7f]', '', 'g')))
             / CAST(greatest(length(text), 1) AS DOUBLE), 6) AS non_ascii_ratio,
       length(text) - length(regexp_replace(text, '�', '', 'g')) AS replacement_chars,
       length(text) - length(regexp_replace(text, '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', '', 'g')) AS control_chars,
       (length(text) - length(regexp_replace(text, '�', '', 'g'))) = 0
         AND (length(text) - length(regexp_replace(text, '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', '', 'g'))) = 0
         AS encoding_clean
FROM documents ORDER BY doc_id
"""


QUERIES["unicode_quality"] = unicode_quality_q
ORACLES["unicode_quality"] = UNICODE_QUALITY_ORACLE


def lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality scoring over the documents corpus
    (operators/text.py unigram_logprob) — the perplexity-proxy
    curation signal, trained and scored in two passes with a
    broadcast vocabulary."""
    from ..operators.text import unigram_logprob

    return unigram_logprob(load(spark, sf_dir, "documents"))


LM_QUALITY_ORACLE = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '),
                            x -> x <> '')) AS token
  FROM documents
), counts AS (
  SELECT token, count(*) AS cnt FROM toks GROUP BY 1
), tot AS (
  SELECT sum(cnt) AS total, count(*) AS v FROM counts
), scored AS (
  SELECT doc_id,
         CAST(round(ln((CAST(cnt AS DOUBLE) + 0.5)
                       / (CAST(total AS DOUBLE) + 0.5 * (v + 1))), 9)
              AS DECIMAL(18,9)) AS lp
  FROM toks JOIN counts USING (token) CROSS JOIN tot
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       round(CAST(sum(lp) AS DOUBLE) / count(*), 6) AS avg_logprob
FROM scored
GROUP BY doc_id
ORDER BY doc_id
"""


QUERIES["lm_quality"] = lm_quality
ORACLES["lm_quality"] = LM_QUALITY_ORACLE


def lm_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality scoring over the documents corpus
    (operators/text.py bigram_logprob) — the conditional complement
    of lm_quality: impossible word ORDER scores low here even when
    every word is common."""
    from ..operators.text import bigram_logprob

    return bigram_logprob(load(spark, sf_dir, "documents"))


LM_BIGRAM_ORACLE = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '),
                     x -> x <> '') AS t
  FROM documents
), pairs AS (
  SELECT doc_id, t[i] AS a, t[i + 1] AS b
  FROM toks, UNNEST(range(1, len(t))) AS r(i)
  WHERE len(t) >= 2
), bi AS (
  SELECT a, b, count(*) AS c_ab FROM pairs GROUP BY 1, 2
), prev AS (
  SELECT a, sum(c_ab) AS c_a FROM bi GROUP BY 1
), voc AS (
  SELECT count(DISTINCT b) AS v FROM bi
), scored AS (
  SELECT doc_id,
         CAST(round(ln((CAST(c_ab AS DOUBLE) + 0.5)
                       / (CAST(c_a AS DOUBLE) + 0.5 * (v + 1))), 9)
              AS DECIMAL(18,9)) AS lp
  FROM pairs JOIN bi USING (a, b) JOIN prev USING (a) CROSS JOIN voc
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       round(CAST(sum(lp) AS DOUBLE) / count(*), 6) AS avg_logprob
FROM scored
GROUP BY doc_id
ORDER BY doc_id
"""


QUERIES["lm_bigram"] = lm_bigram
ORACLES["lm_bigram"] = LM_BIGRAM_ORACLE


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash dedup: a deterministic 10% of documents
    plays the NEW batch, the rest the accumulated CORPUS; every new
    doc near-duplicating a corpus doc is reported with its match
    (operators/dedup.py minhash_lsh_incremental — the new⋈corpus
    band join, never corpus⋈corpus). Same portable signatures as
    dedup_minhash, so the oracle replays the asymmetric pipeline."""
    from ..operators.curation import stable_unit

    docs = load(spark, sf_dir, "documents")
    tokens, sigs = _minhash_store(spark, sf_dir)
    is_new = stable_unit(F.col("doc_id")) < 0.1
    return D.minhash_lsh_incremental(
        docs.filter(is_new),
        docs.filter(~is_new),
        threshold=0.2,
        tokens=tokens,
        sigs=sigs,
    )


_INC_UNIT = "(('0x' || substr(md5(CAST({c} AS VARCHAR)), 1, 15))::BIGINT / 1152921504606846976.0)"

DEDUP_INCREMENTAL_ORACLE = rf"""
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(w) - 2, 1) + 1),
           i -> array_to_string(w[i:i+2], ' '))) AS s
  FROM (SELECT doc_id,
               string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS w
        FROM documents)
  WHERE len(w) > 0
), tok AS (
  SELECT doc_id, ('0x' || substr(md5(t.g), 1, 15))::BIGINT AS h
  FROM sh, unnest(sh.s) AS t(g)
), sigs AS (
  SELECT doc_id,
         {_MINHASH_SIG_COLS}
  FROM (SELECT doc_id, h % {_P31} AS hm FROM tok)
  GROUP BY doc_id
), hsets AS (
  SELECT doc_id, list(h) AS hs, count(*) AS n_sh FROM tok GROUP BY doc_id
), cand AS (
  SELECT a.doc_id AS doc_id, b.doc_id AS match_id,
         round({_MINHASH_EST}, 6) AS est_jaccard
  FROM sigs a JOIN sigs b
    ON {_INC_UNIT.format(c='a.doc_id')} < 0.1
   AND {_INC_UNIT.format(c='b.doc_id')} >= 0.1
  WHERE {_MINHASH_BAND_MATCH}
), verified AS (
  SELECT c.doc_id, c.match_id, c.est_jaccard,
         len(list_intersect(x.hs, y.hs)) AS inter,
         x.n_sh AS n_a, y.n_sh AS n_b
  FROM cand c
  JOIN hsets x ON c.doc_id = x.doc_id
  JOIN hsets y ON c.match_id = y.doc_id
)
SELECT doc_id, match_id,
       round(CAST(inter AS DOUBLE) / (n_a + n_b - inter), 6) AS jaccard,
       est_jaccard
FROM verified
WHERE round(CAST(inter AS DOUBLE) / (n_a + n_b - inter), 6) >= 0.2
  AND est_jaccard >= 0.0
"""


QUERIES["dedup_incremental"] = dedup_incremental
ORACLES["dedup_incremental"] = DEDUP_INCREMENTAL_ORACLE


def audio_metadata_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio metadata extraction over a constructed mixed-format
    corpus, HASH-ORACLED end to end: even doc_ids render a real
    RIFF/WAVE (PCM16 mono 8 kHz, 100 + doc_id % 400 samples of
    silence), odd ids a real MPEG1 Layer-III frame stream (stereo
    when doc_id % 4 == 1 else mono, 128 kbps, 44.1 kHz,
    2 + doc_id % 40 frames, ID3v2-prefixed). Every metadata value
    audio_metadata reports (operators/multimodal.py — WAV header
    decode, mp3 frame-header walk, no sample decode) is a
    deterministic function of doc_id, so the oracle replays the
    construction arithmetic in SQL and the driver hash-checks that
    the PARSERS recover exactly what the ENCODERS embedded — the
    first value-gated path through the multimodal Arrow plumbing
    (decode gates stay rows-only by design)."""
    from ..operators import multimodal as M

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)

    def to_media(batches):
        import numpy as np
        import pandas as pd

        from ..operators.codecs import encode_wav

        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                if i % 2 == 0:
                    n = 100 + i % 400
                    data = encode_wav(np.zeros(n), 8000)
                    fmt = "wav"
                else:
                    stereo = i % 4 == 1
                    # MPEG1 Layer III, bitrate idx 9 (128 kbps),
                    # 44.1 kHz, no padding; mode bits 11 = mono
                    hdr = bytes([0xFF, 0xFB, 0x90, 0xC0 if not stereo else 0x00])
                    frame = hdr + bytes(413)  # 144*128000/44100 = 417
                    n_frames = 2 + i % 40
                    data = (
                        b"ID3" + bytes([4, 0, 0, 0, 0, 0, 10]) + bytes(10)
                        + frame * n_frames
                    )
                    fmt = "mp3"
                rows.append(
                    (
                        i,
                        "audio",
                        data,
                        {
                            "width": None,
                            "height": None,
                            "sample_rate": None,
                            "duration_ms": None,
                            "format": fmt,
                        },
                    )
                )
            yield pd.DataFrame(rows, columns=["media_id", "kind", "data", "meta"])

    media = docs.mapInPandas(to_media, schema=M.MEDIA_SCHEMA)
    return (
        M.audio_metadata(media)
        .select(
            "media_id",
            "sample_rate_real",
            "duration_ms_real",
            "n_channels",
            # wav rows have no bitrate concept; the gate coalesces the
            # NULL to 0 because the driver's compare SORTS row tuples
            # and a mixed None/int column is unorderable in python
            F.coalesce("bitrate_kbps", F.lit(0)).alias("bitrate_kbps"),
        )
        .orderBy("media_id")
    )


AUDIO_METADATA_ORACLE = """
SELECT doc_id AS media_id,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 8000 ELSE 44100 END AS INT)
         AS sample_rate_real,
       CAST(CASE WHEN doc_id % 2 = 0
                 THEN round((100 + doc_id % 400) / 8000.0 * 1000)
                 ELSE round((2 + doc_id % 40) * 1152 / 44100.0 * 1000)
            END AS INT) AS duration_ms_real,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 1
                 WHEN doc_id % 4 = 1 THEN 2 ELSE 1 END AS INT) AS n_channels,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 128 END AS INT)
         AS bitrate_kbps
FROM documents WHERE doc_id < 200 ORDER BY doc_id
"""


QUERIES["audio_metadata"] = audio_metadata_q
ORACLES["audio_metadata"] = AUDIO_METADATA_ORACLE


def fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity matching over part names (operators/dedup.fuzzy_match,
    which returns the VOCABULARY-level relation — first-token blocks,
    length prefilter, bounded Levenshtein over DISTINCT names,
    record-group sizes and the implied n_a x n_b record-pair count
    carried). The fuzzy band only (dist 1..3; same-name groups are
    exact_duplicates' output)."""
    parts = load(spark, sf_dir, "part")
    return D.fuzzy_match(
        parts, id_col="p_partkey", name_col="p_name", max_dist=3, min_dist=1
    )


FUZZY_MATCH_ORACLE = r"""
WITH b AS (
  SELECT lower(trim(regexp_replace(p_name, '\s+', ' ', 'g'))) AS nm
  FROM part
), sized AS (
  SELECT nm, split_part(nm, ' ', 1) AS blk, length(nm) AS ln,
         count(*) AS n_rec
  FROM b WHERE nm IS NOT NULL AND length(nm) > 0
  GROUP BY 1, 2, 3
)
SELECT a.nm AS name_a, b2.nm AS name_b,
       CAST(levenshtein(a.nm, b2.nm) AS INTEGER) AS dist,
       round(1.0 - levenshtein(a.nm, b2.nm)
                   / CAST(greatest(a.ln, b2.ln) AS DOUBLE), 6) AS similarity,
       a.n_rec AS n_a, b2.n_rec AS n_b,
       a.n_rec * b2.n_rec AS n_pairs
FROM sized a JOIN sized b2
  ON a.blk = b2.blk AND a.nm < b2.nm AND abs(a.ln - b2.ln) <= 3
WHERE levenshtein(a.nm, b2.nm) BETWEEN 1 AND 3
ORDER BY dist, name_a, name_b
"""

QUERIES["fuzzy_match"] = fuzzy_match
ORACLES["fuzzy_match"] = FUZZY_MATCH_ORACLE


def corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus health report — the one-pass dataset-card
    aggregation a curation pipeline publishes alongside each drop:
    volume, mean length, language diversity, short-doc share, and
    the within-source exact-duplicate share (docs whose md5(text)
    appears more than once in the same source). Two map-side
    combinable groupBys (per-source stats + per-(source, hash) dup
    counts), nothing joined row-to-row."""
    docs = load(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.col("text"), r"\s+", " "))
    toks = F.when(F.length(norm) == 0, F.lit(0)).otherwise(
        F.size(F.split(norm, " "))
    )
    stats = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        F.countDistinct("lang").alias("n_langs"),
        F.round(
            F.avg((F.col("n_chars") < 100).cast("double")), 6
        ).alias("short_frac"),
        F.round(F.avg(toks.cast("double")), 6).alias("avg_tokens"),
    )
    dup = (
        docs.groupBy("source", F.md5("text").alias("h"))
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("source")
        .agg(
            F.sum(F.when(F.col("c") >= 2, F.col("c")).otherwise(F.lit(0))).alias(
                "dup_docs"
            )
        )
    )
    return (
        stats.join(dup, "source")
        .select(
            "source",
            "n_docs",
            "avg_chars",
            "n_langs",
            "short_frac",
            "avg_tokens",
            F.round(F.col("dup_docs") / F.col("n_docs"), 6).alias("exact_dup_frac"),
        )
        .orderBy("source")
    )


CORPUS_REPORT_ORACLE = r"""
WITH d AS (
  SELECT source, lang, n_chars, text,
         trim(regexp_replace(text, '\s+', ' ', 'g')) AS norm
  FROM documents
), stats AS (
  SELECT source,
         count(*) AS n_docs,
         round(avg(n_chars), 6) AS avg_chars,
         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         round(avg(CASE WHEN n_chars < 100 THEN 1.0 ELSE 0.0 END), 6)
           AS short_frac,
         round(avg(CAST(CASE WHEN length(norm) = 0 THEN 0
                        ELSE len(string_split(norm, ' ')) END AS DOUBLE)), 6)
           AS avg_tokens
  FROM d GROUP BY 1
), dup AS (
  SELECT source,
         sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup_docs
  FROM (SELECT source, md5(text) AS h, count(*) AS c
        FROM documents GROUP BY 1, 2)
  GROUP BY 1
)
SELECT s.source, s.n_docs, s.avg_chars, s.n_langs, s.short_frac,
       s.avg_tokens,
       round(d2.dup_docs / CAST(s.n_docs AS DOUBLE), 6) AS exact_dup_frac
FROM stats s JOIN dup d2 USING (source)
ORDER BY s.source
"""

QUERIES["corpus_report"] = corpus_report
ORACLES["corpus_report"] = CORPUS_REPORT_ORACLE


def pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ's memory-scale half: ADC top-20 over product-quantized
    embeddings (operators/similarity.pq_train/pq_encode/pq_topk) —
    the corpus is searched as m=8 uint8-sized codes per vector (64x
    smaller than float64), the query stays a full vector, and the
    per-row cost is m distance-table lookups. The codebooks come from
    the persistent content-keyed cache (get_pq_codebooks, the IVF
    codebook's contract). Rows-only by the same reasoning as semdedup
    (float k-means codebook); the encode/ADC math is pinned by
    pure-numpy replica tests (tests/test_similarity.py)."""
    path = f"{sf_dir}/embeddings.parquet"
    books = S.get_pq_codebooks(spark, path, m=8, ks=16, n_iter=5)
    emb = load(spark, sf_dir, "embeddings")
    codes = S.pq_encode(emb, books)
    q = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return S.pq_topk(codes, books, q, k=20)


QUERIES["pq_search"] = pq_search


def ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed IVF-PQ serving path (r12 VERDICT task 4): the
    persistent cluster-PARTITIONED code index (operators/similarity.
    get_ivf_pq_index — no raw vectors, m=8 codes + a partition key
    per row), probed at n_probe=4 of 16 coarse lists, ADC top-20
    within the probed lists only. The billion-vector shape: the
    probe filter is partition pruning over the index files, the scan
    is codes-only, the reduction is a TakeOrdered. The index encodes
    x itself (raw IVF-PQ); the residual variant was measured
    (BENCH_vecrecall_r14*.json, BENCH_vecrecall_r15*.json: it lost
    0.45 vs 0.55 recall@20 on this sf1 corpus) and removed — see
    ivf_pq_topk. Rows-only like pq_search
    (float k-means codebooks); exhaustive-probe == pq_topk identity
    and reduced-probe recall are pinned by tests/test_similarity.py."""
    path = f"{sf_dir}/embeddings.parquet"
    cents = S.get_codebook(spark, path, k=16, n_iter=5)
    books = S.get_pq_codebooks(spark, path, m=8, ks=16, n_iter=5)
    index = S.get_ivf_pq_index(spark, path, n_centroids=16, m=8, ks=16, n_iter=5)
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return S.ivf_pq_topk(index, cents, books, q, k=20, n_probe=4)


QUERIES["ann_ivf_pq"] = ann_ivf_pq


def ann_ivf_pq_opq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OPQ-rotated IVF-PQ serving path (r14 VERDICT task 4):
    identical composition to ann_ivf_pq but the index encodes
    R x under the eigenvalue-allocated PCA rotation
    (operators/similarity.opq_rotation — Ge et al. 2014's parametric
    OPQ; R persistent + content-keyed via get_opq_rotation, flag in
    the index key AND the codes-column metadata). MEASURED VERDICT
    (BENCH_vecrecall_r15{,aniso,axis}): across all three fixture
    regimes rotation never lifted the raw arm — so
    ``rotate`` stays an opt-in knob, not the default; this gate
    pins the serving path end to end
    (rows-only like ann_ivf_pq: float k-means + eigh models;
    encode/search replica-pinned by tests/test_similarity.py
    TestOpqRotation)."""
    path = f"{sf_dir}/embeddings.parquet"
    cents = S.get_codebook(spark, path, k=16, n_iter=5)
    books = S.get_pq_codebooks(spark, path, m=8, ks=16, n_iter=5, rotate=True)
    R = S.get_opq_rotation(spark, path, m=8)
    index = S.get_ivf_pq_index(
        spark, path, n_centroids=16, m=8, ks=16, n_iter=5, rotate=True
    )
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return S.ivf_pq_topk(index, cents, books, q, k=20, n_probe=4, rotation=R)


QUERIES["ann_ivf_pq_opq"] = ann_ivf_pq_opq


def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact population covariance of the embedding corpus over the
    deterministic vec_id % 5 == 0 sample (the link_prediction
    sampling precedent — d² rows per vector is the honest exact-Gram
    cost, and a pipeline runs it on a sample at scale;
    operators/similarity.embedding_covariance). Decimal-summed, so
    the DuckDB replay is bit-exact."""
    emb = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 5 == 0)
    return S.embedding_covariance(emb)


EMBEDDING_COV_ORACLE = r"""
WITH s AS (
  SELECT embedding AS v FROM embeddings
  WHERE vec_id % 5 = 0 AND embedding IS NOT NULL
), n AS (
  SELECT CAST(count(*) AS DOUBLE) AS n FROM s
), idx AS (
  SELECT CAST(unnest(range(0, 64)) AS INTEGER) AS i
), si AS (
  SELECT i, SUM(CAST(round(v[i + 1], 9) AS DECIMAL(18,9))) AS si
  FROM s, idx GROUP BY i
), sij AS (
  SELECT a.i AS i, b.i AS j,
         SUM(CAST(round(v[a.i + 1] * v[b.i + 1], 9) AS DECIMAL(18,9))) AS sij
  FROM s, idx a, idx b GROUP BY 1, 2
)
SELECT p.i, p.j,
       round((CAST(p.sij AS DOUBLE)
              - CAST(x.si AS DOUBLE) * CAST(y.si AS DOUBLE) / n.n) / n.n,
             6) AS cov
FROM sij p JOIN si x ON p.i = x.i JOIN si y ON p.j = y.i, n
ORDER BY p.i, p.j
"""

QUERIES["embedding_covariance"] = embedding_covariance
ORACLES["embedding_covariance"] = EMBEDDING_COV_ORACLE


def pca_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA serving path: covariance over the same deterministic
    sample → driver-side eigendecomposition (the d² matrix is a
    model parameter, like the k-means codebooks) → Arrow-batched
    projection of the FULL corpus onto the top-4 components
    (operators/similarity.pca_components/pca_project), flattened to
    scalar columns for stability. Rows-only like pq_search: the
    eigensolve is float linear algebra, not SQL-expressible; the
    covariance ALGORITHM is value-oracled through the exact twin
    (embedding_covariance gate), and the projection math is pinned by
    a numpy replica test. Since r14 this gate serves from the FLOAT
    covariance (exact=False — per-batch partial Grams, no per-vector
    d² explode, tolerance-pinned against the exact path): the decimal
    discipline is oracle machinery, not user value, and it was ~3x of
    this gate's cost (VERDICT r13 nit 2)."""
    emb = load(spark, sf_dir, "embeddings")
    cov = S.embedding_covariance(
        emb.filter(F.col("vec_id") % 5 == 0), exact=False
    ).collect()
    comps, _explained = S.pca_components(cov, dim=64, k=4)
    # no barrier needed for the four getItem projections: Spark
    # extracts the Python UDF into its own ArrowEvalPython node
    # BEFORE projection collapse, so the matmul runs once (measured
    # 0.32s plain vs 0.43s+materialization with a lazy checkpoint
    # at sf1)
    out = S.pca_project(emb, comps)
    return (
        out.select(
            "vec_id",
            *[
                F.round(F.col("proj").getItem(i), 6).alias(f"pc{i + 1}")
                for i in range(4)
            ],
        )
        .orderBy("vec_id")
        .limit(100)
    )


QUERIES["pca_projection"] = pca_projection


def zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law corpus diagnostic: the OLS slope of ln(freq) ~
    ln(rank) over the top-1000 vocabulary — natural text sits near
    -1; a slope collapsing toward 0 means template/boilerplate
    flooding and a steep slope means vocabulary starvation, both of
    which shift BEFORE most quality filters notice. One explode +
    one map-side-combinable count + a 1000-row TakeOrdered + the
    built-in regr_slope/regr_intercept aggregate — the regression
    runs over 1000 rows regardless of corpus size."""
    from ..operators.search import tokenize

    docs = load(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(tokenize(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("token"))
        .limit(1000)
    )
    from pyspark.sql import Window as W

    ranked = counts.withColumn(
        "rank", F.row_number().over(W.orderBy(F.desc("freq"), F.asc("token")))
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("n_top"),
        F.round(F.regr_slope(F.log("freq"), F.log("rank")), 6).alias("slope"),
        F.round(F.regr_intercept(F.log("freq"), F.log("rank")), 6).alias(
            "intercept"
        ),
    )


ZIPF_ORACLE = r"""
WITH counts AS (
  SELECT token, count(*) AS freq
  FROM (
    SELECT unnest(list_filter(
             string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '),
             x -> x <> '')) AS token
    FROM documents
  ) GROUP BY 1
), top AS (
  SELECT token, freq FROM counts ORDER BY freq DESC, token LIMIT 1000
), ranked AS (
  SELECT freq,
         ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS rank
  FROM top
)
SELECT CAST(count(*) AS BIGINT) AS n_top,
       round(regr_slope(ln(freq), ln(rank)), 6) AS slope,
       round(regr_intercept(ln(freq), ln(rank)), 6) AS intercept
FROM ranked
"""

QUERIES["zipf_slope"] = zipf_slope
ORACLES["zipf_slope"] = ZIPF_ORACLE
