"""Text-analysis operators for a training-data pipeline.

All hot-path operators are pure Column expressions (JVM-side,
whole-stage codegen) — no Python UDFs. Each has an exact SQL mirror
in plans/llm_pipeline.py so the driver's DuckDB gate checks values.

The reference's roadmap explicitly targets this post-processing
("generating embeddings", "FTS indexes", "vectorisation of node
content" — /root/reference/README.md Roadmap); these operators are
that surface, built Spark-first.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import scoped_conf

# Tiny fixed stopword lists — deterministic, mirrored in SQL.
STOPWORDS_EN = ("the", "a", "and", "of", "to", "in", "is", "it", "that", "for")
STOPWORDS_ES = ("el", "la", "de", "que", "y", "en", "un", "es", "no", "por")
STOPWORDS_FR = ("le", "les", "de", "et", "un", "une", "pour", "dans", "ce", "sur")
STOPWORDS_DE = ("der", "die", "das", "und", "ist", "von", "mit", "den", "im", "ein")

_BPE_ISH = r"[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]"


def ws_tokens(text: Column) -> Column:
    """Whitespace tokenization."""
    return F.split(F.trim(text), r"\s+")


def ws_token_count(text: Column) -> Column:
    return F.size(ws_tokens(text))


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-flavored proxy count: alpha runs count 1, digits count 1
    each, punctuation 1 each — the classic 'words + digits +
    symbols' pre-tokenizer shape."""
    return F.size(F.regexp_extract_all(text, F.lit(_BPE_ISH), F.lit(0)))


def stopword_hits(tokens: Column, words: tuple[str, ...]) -> Column:
    """Count of tokens in a fixed word list (codegen'd higher-order
    filter — no Python in the path)."""
    return F.size(F.filter(tokens, lambda t: t.isin(*words)))


def punct_count(text: Column) -> Column:
    return F.length(F.regexp_replace(text, r"[^.,;:!?]", ""))


def _quality_exprs(text: Column) -> dict[str, Column]:
    """Shared expression builder for the quality heuristic — one
    definition serving quality_features AND the curation funnel's
    single-projection path, so the formulas cannot drift."""
    # null text behaves as '' — otherwise size(null) = -1 poisons
    # every ratio and the composite score
    text = F.coalesce(text, F.lit(""))
    toks = ws_tokens(text)
    n_chars = F.length(text)
    n_tokens = F.size(toks)
    punct_ratio = punct_count(text) / F.greatest(n_chars, F.lit(1))
    stop_ratio = stopword_hits(toks, STOPWORDS_EN) / F.greatest(n_tokens, F.lit(1))
    score = (
        F.least(n_chars / F.lit(2000.0), F.lit(1.0)) * 0.3
        + (F.lit(1.0) - F.least(punct_ratio * 4, F.lit(1.0))) * 0.3
        + F.least(stop_ratio * 2, F.lit(1.0)) * 0.4
    )
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "punct_ratio": punct_ratio,
        "stop_ratio": stop_ratio,
        "score": score,
    }


def quality_score_col(text: Column) -> Column:
    """The rounded composite quality score as a bare Column — for
    callers that fold quality into a wider projection (the curation
    funnel) instead of joining quality_features' frame."""
    return F.round(_quality_exprs(text)["score"], 6)


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality features + composite score.

    Score: normalized length (cap 1.0 at 2000 chars) * 0.3
         + (1 - punct_ratio capped) * 0.3
         + stopword_ratio (EN) capped at 0.5, scaled * 0.4 —
    a simple, deterministic heuristic in the Gopher/C4-rule spirit.
    """
    e = _quality_exprs(F.col(text_col))
    return df.select(
        "doc_id",
        e["n_chars"].alias("n_chars"),
        e["n_tokens"].alias("n_tokens"),
        F.round(e["punct_ratio"], 6).alias("punct_ratio"),
        F.round(e["stop_ratio"], 6).alias("stopword_ratio"),
        F.round(e["score"], 6).alias("quality_score"),
    )


def _lang_exprs(text: Column) -> tuple[Column, dict[str, Column]]:
    """Shared expression builder for the language heuristic (same
    single-definition contract as _quality_exprs)."""
    # null text behaves as '' — size(null) = -1 would make every
    # stopword count -1, skip the zero-hit 'und' branch, and classify
    # the null doc as 'en'
    text = F.coalesce(text, F.lit(""))
    toks = ws_tokens(F.lower(text))
    hits = {
        "en": stopword_hits(toks, STOPWORDS_EN),
        "es": stopword_hits(toks, STOPWORDS_ES),
        "fr": stopword_hits(toks, STOPWORDS_FR),
        "de": stopword_hits(toks, STOPWORDS_DE),
    }
    has_cjk = text.rlike(r"[一-鿿]")
    pred = (
        F.when(has_cjk, F.lit("zh"))
        .when(
            (hits["en"] + hits["es"] + hits["fr"] + hits["de"]) == 0, F.lit("und")
        )
        .when(
            (hits["en"] >= hits["es"]) & (hits["en"] >= hits["fr"]) & (hits["en"] >= hits["de"]),
            F.lit("en"),
        )
        .when((hits["es"] >= hits["fr"]) & (hits["es"] >= hits["de"]), F.lit("es"))
        .when(hits["fr"] >= hits["de"], F.lit("fr"))
        .otherwise(F.lit("de"))
    )
    return pred, hits


def predicted_lang_col(text: Column) -> Column:
    """The predicted-language label as a bare Column — for callers
    that fold language id into a wider projection (the curation
    funnel) instead of joining language_id's frame."""
    return _lang_exprs(text)[0]


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """N-gram/stopword language heuristic: CJK characters force zh;
    otherwise argmax of per-language stopword hits with the fixed
    tie-break order en > es > fr > de; zero hits => 'und'."""
    pred, hits = _lang_exprs(F.col(text_col))
    return df.select(
        "doc_id",
        pred.alias("predicted_lang"),
        hits["en"].alias("hits_en"),
        hits["es"].alias("hits_es"),
        hits["fr"].alias("hits_fr"),
        hits["de"].alias("hits_de"),
    )


def doc_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic document fingerprints:
    - full_md5: md5 of whitespace-normalized lowercase text
    - min_shingle_md5: min md5 over word 3-gram shingles (a 1-hash
      MinHash — the rolling-hash fingerprint generalization).

    Normalization stays Column-side (codegen, and char-identical to
    the DuckDB oracle's regexp_replace); the shingle+md5+min walk is
    ONE Arrow UDF per batch — the dup_spans lesson again (r7):
    Catalyst INTERPRETS transform/slice/sequence higher-order
    lambdas, and the first cut of this operator spent 3.9-4.9s at
    sf0.1 in that interpreter (r14's honest bench exposed it; the
    count()-timed bench had pruned the value expressions entirely).
    hashlib.md5 over the same UTF-8 bytes produces the identical hex,
    so the value oracle is unchanged."""
    import hashlib

    text = F.col(text_col)
    norm = F.lower(F.regexp_replace(F.trim(text), r"\s+", " "))

    @F.pandas_udf("struct<full_md5: string, min_shingle_md5: string>")
    def fp(norms: pd.Series) -> pd.DataFrame:
        fulls: list = []
        mins: list = []
        for t in norms:
            if t is None:
                fulls.append(None)
                mins.append(None)
                continue
            fulls.append(hashlib.md5(t.encode("utf-8")).hexdigest())
            w = t.split(" ")
            best = None
            for i in range(max(len(w) - 2, 1)):
                h = hashlib.md5(
                    " ".join(w[i : i + 3]).encode("utf-8")
                ).hexdigest()
                if best is None or h < best:
                    best = h
            mins.append(best)
        return pd.DataFrame({"full_md5": fulls, "min_shingle_md5": mins})

    return df.select("doc_id", fp(norm).alias("__fp")).select(
        "doc_id",
        F.col("__fp.full_md5").alias("full_md5"),
        F.col("__fp.min_shingle_md5").alias("min_shingle_md5"),
    )


def _merge_pair_in_symbols(symbols: list, left: str, right: str) -> list:
    """One BPE merge applied to one symbol sequence (left-to-right,
    non-overlapping — the Sennrich et al. 2016 rule)."""
    out = []
    i = 0
    n = len(symbols)
    while i < n:
        if i + 1 < n and symbols[i] == left and symbols[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(symbols[i])
            i += 1
    return out


def _select_safe_batch(
    rows: list,
    full_table: bool,
    min_pair_count: int,
    remaining: int,
) -> list:
    """From ONE pair-count snapshot, the longest merge batch provably
    identical to sequential greedy BPE. ``rows`` is the collected
    top of the (l, r, n) pair table sorted by (-n, l, r);
    ``full_table`` says the snapshot holds EVERY pair (uncollected
    counts are otherwise bounded by the tail count).

    Soundness: merging disjoint pairs never increases any existing
    pair's count, and every pair a merge CREATES is bounded by the
    count of some current pair sharing a symbol with the merge
    ((x,ab) <= count(x,a); (ab,y) <= count(b,y); cross-batch
    (ab,cd) <= count(b,c)) — except the self-chain of a same-symbol
    merge (s,s), where (ss,ss) <= count(s,s) // 2 (each chained pair
    consumes two of the original adjacencies). So a candidate
    disjoint from everything accepted, whose count strictly exceeds
    that hazard ceiling, IS the next sequential merge with its count
    unchanged. Scanning in sorted order and stopping at the first
    non-provable row keeps ties resolved exactly as the sequential
    argmax would."""
    accepted = [rows[0]]
    used = {rows[0][0], rows[0][1]}
    c_tail = 0 if full_table else int(rows[-1][2])
    for row in rows[1:]:
        if len(accepted) >= remaining:
            break
        l, r, nn = row[0], row[1], int(row[2])
        if nn < min_pair_count:
            break
        if l in used or r in used:
            break
        hazard = c_tail
        acc_set = {(a, b) for a, b, _ in accepted}
        for l2, r2, n2 in rows:
            if (l2, r2) in acc_set:
                if l2 == r2:
                    hazard = max(hazard, int(n2) // 2)
            elif l2 in used or r2 in used:
                hazard = max(hazard, int(n2))
        if nn <= hazard:
            break
        accepted.append((l, r, nn))
        used.update((l, r))
    return [(l, r, int(n)) for l, r, n in accepted]


def _sequential_bpe(
    rows: list,
    n_merges: int,
    min_pair_count: int,
) -> list:
    """The exact sequential greedy BPE loop over a collected (cnt,
    symbols) vocabulary — max pair count, lexicographic (l, r)
    tie-break (python string order == Spark's UTF8 binary order:
    UTF-8 preserves code-point order). The driver-local fast path of
    train_bpe; the distributed path must produce the identical merge
    sequence (pinned in tests/test_text_bpe.py)."""
    from collections import Counter

    vocab = Counter()
    for cnt, syms in rows:
        vocab[tuple(syms)] += cnt
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        pairs: Counter = Counter()
        for sym, c in vocab.items():
            for ab in zip(sym, sym[1:]):
                pairs[ab] += c
        if not pairs:
            break
        (l, r), n = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if n < min_pair_count:
            break
        merges.append((l, r, int(n)))
        vocab = Counter(
            {
                tuple(_merge_pair_in_symbols(list(sym), l, r)): c
                for sym, c in vocab.items()
            }
        )
    return merges


def train_bpe(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 12,
    min_pair_count: int = 2,
    local_vocab_max: int = 200_000,
) -> DataFrame:
    """Learn a byte-pair-encoding merge table from the corpus
    (Sennrich et al. 2016). Returns (rank, left, right, pair_count):
    the ``rank``-th merge joined symbols ``left``+``right``, which
    co-occurred adjacently ``pair_count`` times (word-frequency
    weighted) at the time of the merge.

    Deterministic at any cluster size: pair counts are exact integer
    sums and the argmax tie-breaks lexicographically — but the
    training loop is inherently iterative (each merge changes the
    next round's pair counts), so there is no SQL replay; the gate is
    rows-only and tests/test_text_bpe.py proves the merge sequence
    against an independent pure-python reference.

    Scale shape (the standard distributed-BPE factorization): the
    corpus collapses ONCE to a (word, count, symbols) vocabulary —
    corpus-size work happens once, and the merge loop's input is
    MODEL-SIZED by definition (bounded by the word-form domain, not
    by row count). The loop therefore runs where the vocab fits:

    - vocab <= ``local_vocab_max`` rows (the common case — Sennrich's
      learn_bpe and SentencePiece both train on the collected vocab):
      collect ONCE and run the exact sequential greedy loop
      driver-side — zero Spark jobs per merge. 200k (symbols, cnt)
      rows is a few MB; what must never be collected is the CORPUS,
      which was already reduced away.
    - larger vocabs: a distributed loop. Per COUNT JOB, one fused
      Arrow pass over the vocab (apply pending merges + count
      adjacent pairs with a map-side Counter — only each partition's
      DISTINCT pairs reach the shuffle), a top-64 collect, and from
      each snapshot the longest PROVABLY-SEQUENTIAL merge batch
      (_select_safe_batch: mutually disjoint pairs whose counts
      strictly dominate every pair a merge could create or grow),
      cutting count jobs ~2-3x with a bit-identical sequence. The
      loop scopes shuffle partitions down to vocab scale
      (session.scoped_conf). Both paths are pinned identical by
      tests/test_text_bpe.py.
    """
    spark = df.sparkSession
    n_part = min(8, spark.sparkContext.defaultParallelism)
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": str(n_part)}):
        vocab = (
            df.select(F.explode(ws_tokens(F.lower(F.col(text_col)))).alias("w"))
            .filter(F.col("w") != "")
            .groupBy("w")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .select(
                "cnt",
                F.concat(
                    F.split(F.col("w"), ""), F.array(F.lit("</w>"))
                ).alias("symbols"),
            )
            .localCheckpoint(eager=True)
        )

        if vocab.count() <= local_vocab_max:
            rows = [(int(r["cnt"]), list(r["symbols"])) for r in vocab.collect()]
            merges = _sequential_bpe(rows, n_merges, min_pair_count)
            return spark.createDataFrame(
                [(i, l, r, n) for i, (l, r, n) in enumerate(merges)],
                "rank int, left string, right string, pair_count long",
            )

        from pyspark.sql.functions import pandas_udf

        def _make(_pending: list):
            @pandas_udf("array<string>")
            def apply_merges(col: pd.Series) -> pd.Series:
                def one(s) -> list:
                    out = list(s)
                    for _l, _r in _pending:
                        out = _merge_pair_in_symbols(out, _l, _r)
                    return out

                return col.map(one)

            return apply_merges

        def _make_counter(_pending: list):
            # ONE Arrow pass per count job: apply the pending merges
            # AND count adjacent pairs with a map-side Counter — the
            # old apply-UDF + explode + hash-agg pipeline shuffled
            # vocab_size * avg_word_len pair rows per job; this
            # shuffles only each partition's DISTINCT pairs (the
            # classic map-side combine, done where the symbols
            # already are)
            from collections import Counter

            def count_pairs(batches):
                for pdf in batches:
                    c: Counter = Counter()
                    for cnt, syms in zip(pdf["cnt"], pdf["symbols"]):
                        out = list(syms)
                        for _l, _r in _pending:
                            out = _merge_pair_in_symbols(out, _l, _r)
                        w = int(cnt)
                        for ab in zip(out, out[1:]):
                            c[ab] += w
                    if c:
                        yield pd.DataFrame(
                            [(a, b, n) for (a, b), n in c.items()],
                            columns=["l", "r", "n"],
                        )

            return count_pairs

        merges: list[tuple[str, str, int]] = []
        pending: list[tuple[str, str]] = []
        topk = 64
        while len(merges) < n_merges:
            pairs = vocab.mapInPandas(
                _make_counter(list(pending)), schema="l string, r string, n long"
            )
            top = (
                pairs.groupBy("l", "r")
                .agg(F.sum("n").alias("n"))
                .orderBy(F.desc("n"), "l", "r")
                .limit(topk)
                .collect()
            )
            if not top or top[0]["n"] < min_pair_count:
                break
            batch = _select_safe_batch(
                [(row["l"], row["r"], int(row["n"])) for row in top],
                full_table=len(top) < topk,
                min_pair_count=min_pair_count,
                remaining=n_merges - len(merges),
            )
            merges.extend(batch)
            pending.extend((l, r) for l, r, _ in batch)
            if len(pending) >= 4:
                vocab = vocab.select(
                    "cnt", _make(list(pending))("symbols").alias("symbols")
                ).localCheckpoint(eager=True)
                pending = []

        return spark.createDataFrame(
            [(i, l, r, n) for i, (l, r, n) in enumerate(merges)],
            "rank int, left string, right string, pair_count long",
        )


def _adjacent_pairs(arr: Column) -> Column:
    """(a, b) struct pairs of adjacent elements of an array column —
    the shared bigram/merge-pair primitive for phrase_pmi and
    train_bpe: zip the array with itself shifted by one.

    MEASURED, kept Column-side deliberately (r14): an Arrow-UDF
    version benched SLOWER here (0.95s vs 0.70s for the
    explode+groupBy bigram count at sf0.1) — unlike doc_fingerprint/
    gopher, whose UDFs REDUCE inside the batch, this primitive's
    output is input-sized, so the Arrow round-trip of the full token
    arrays costs more than zip_with's interpretation saves. The HOF
    lesson is about interpreted per-element work feeding a reduction,
    not a blanket rule."""
    n1 = F.greatest(F.size(arr) - 1, F.lit(0))
    return F.zip_with(
        F.slice(arr, 1, n1),
        F.slice(arr, 2, n1),
        lambda a, b: F.struct(a.alias("a"), b.alias("b")),
    )


def phrase_pmi(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top: int = 50,
) -> DataFrame:
    """Collocation (phrase) detection by pointwise mutual information:
    PMI(a,b) = ln( p(a,b) / (p(a) p(b)) ) over adjacent word pairs —
    the word2phrase/Mikolov-style first pass a tokenizer pipeline
    runs to promote 'new york'-style bigrams to single tokens.
    Returns the ``top`` bigrams by PMI (ties by pair) with counts.

    Two map-side-combinable aggregations (unigrams, bigrams) and one
    broadcast of the tiny totals row; the unigram join runs on the
    bigram table (vocabulary-sized, not corpus-sized). ``min_count``
    kills the hapax noise that dominates raw PMI.
    """
    words = df.select(
        F.explode(ws_tokens(F.lower(F.col(text_col)))).alias("w")
    ).filter(F.col("w") != "")
    uni = words.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    n_uni = uni.agg(F.sum("cnt").alias("n_words"))

    all_bigrams = (
        df.select(
            F.explode(_adjacent_pairs(ws_tokens(F.lower(F.col(text_col))))).alias(
                "p"
            )
        )
        .filter((F.col("p.a") != "") & (F.col("p.b") != ""))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("pair_cnt"))
    )
    # p(a,b) normalizes by ALL adjacent pairs — summing only the
    # >=min_count survivors would inflate every PMI by a constant
    # ln(total/filtered)
    n_bi = all_bigrams.agg(F.sum("pair_cnt").alias("n_pairs"))
    bigrams = all_bigrams.filter(F.col("pair_cnt") >= min_count)
    ua = uni.select(F.col("w").alias("a"), F.col("cnt").alias("cnt_a"))
    ub = uni.select(F.col("w").alias("b"), F.col("cnt").alias("cnt_b"))
    return (
        bigrams.join(ua, "a")
        .join(ub, "b")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bi))
        .select(
            "a",
            "b",
            "pair_cnt",
            F.round(
                F.log(
                    (F.col("pair_cnt") / F.col("n_pairs"))
                    / (
                        (F.col("cnt_a") / F.col("n_words"))
                        * (F.col("cnt_b") / F.col("n_words"))
                    )
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "a", "b")
        .limit(top)
    )


def unicode_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Encoding-health signals for a crawled corpus: non-ASCII ratio,
    U+FFFD replacement-character count (the mojibake tell — a decoder
    already gave up once), and control-character count. Pure Column
    regex counts (JVM codegen), SQL-mirrored exactly.
    """
    text = F.col(text_col)
    n = F.length(text)

    def count_of(pattern: str):
        return n - F.length(F.regexp_replace(text, pattern, ""))

    non_ascii = count_of(r"[^\x00-\x7f]")
    repl = count_of("�")
    ctl = count_of(r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]")
    return df.select(
        "doc_id",
        n.alias("n_chars"),
        F.round(non_ascii / F.greatest(n, F.lit(1)), 6).alias("non_ascii_ratio"),
        repl.alias("replacement_chars"),
        ctl.alias("control_chars"),
        ((repl == 0) & (ctl == 0)).alias("encoding_clean"),
    )


def unigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.5,
) -> DataFrame:
    """Unigram language-model quality score (the CCNet/CC-100
    perplexity-proxy pass): train add-alpha-smoothed unigram
    frequencies on the corpus, then score every document by its mean
    token log-probability — low (very negative) means rare-token-
    heavy/garbled text, high means common fluent text. Returns
    (doc_id, n_tokens, avg_logprob).

    Scale shape: the model is one explode + map-side-combinable count
    (vocabulary-sized, broadcast back); scoring is a second pass over
    the same tokens, no shuffle beyond the per-doc aggregate. At
    100 TB the vocabulary table is the trained artifact a pipeline
    persists and reuses for held-out scoring.

    Determinism: each token's log-probability is rounded to 9
    decimals and summed as DECIMAL — a double sum over a billion-row
    partition shuffle is accumulation-order-dependent; the decimal
    sum is associative, so the score is bit-stable at any cluster
    size (and exactly replayable in the SQL oracle)."""
    from .search import tokenize

    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokenize(F.col(text_col))).alias("token"),
    )
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    totals = counts.agg(
        F.sum("cnt").alias("total"), F.count(F.lit(1)).alias("v")
    )
    prob = (F.col("cnt").cast("double") + F.lit(alpha)) / (
        F.col("total").cast("double") + F.lit(alpha) * (F.col("v") + 1)
    )
    scored = (
        toks.join(F.broadcast(counts), "token")
        .crossJoin(F.broadcast(totals))
        .withColumn("lp", F.round(F.log(prob), 9).cast("decimal(18,9)"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.sum("lp").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_logprob"),
        )
        .orderBy("doc_id")
    )


def bigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.5,
) -> DataFrame:
    """Bigram language-model quality score — the conditional
    complement of ``unigram_logprob`` (CCNet's KenLM pass uses
    higher-order context for exactly this reason: a doc of common
    words in impossible ORDER looks fluent to a unigram model and
    garbled to any n>1 model). Scores every document with >= 2
    tokens by its mean conditional log-probability
    ln P(w_i | w_{i-1}) under an add-alpha-smoothed bigram model
    trained on the corpus itself:

        P(b | a) = (c(a,b) + alpha) / (c(a,*) + alpha * (V + 1))

    where c(a,*) sums over observed continuations of ``a`` and V is
    the continuation vocabulary (distinct second-position types) —
    both derived from the SAME pair frame, so the estimate is
    self-consistent and exactly SQL-replayable. Returns (doc_id,
    n_bigrams, avg_logprob); single-token and empty docs carry no
    bigram evidence and are excluded (documented contract, mirrored
    by the oracle).

    Scale shape: one explode into adjacent pairs feeds the model
    counts AND the scoring join; the prev-token and vocab frames are
    model-sized (vocabulary rows / 1 row) and broadcast explicitly,
    while the bigram table — corpus-independent but only
    OBSERVED-pairs bounded, which can outgrow a broadcast budget on
    a web-scale vocabulary — is joined WITHOUT a hint so Catalyst
    broadcasts it when small and shuffle-joins on (a, b) when not;
    per-token log-probs are rounded then DECIMAL-summed, so the
    score is bit-stable at any cluster size (unigram_logprob's
    determinism contract).
    """
    from .search import tokenize

    pairs = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(_adjacent_pairs(tokenize(F.col(text_col)))).alias("p"),
    ).select("doc_id", F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    # r15: reduce to per-(doc, a, b) multiplicities FIRST and pin the
    # reduced frame — the model fit and the scoring join both read it,
    # so the tokenize+explode pass over the corpus runs ONCE (it ran
    # per consumer before), and the (a, b) scoring exchange carries
    # distinct per-doc bigrams instead of every occurrence (guide
    # §2.3). Values identical: a decimal lp summed over m identical
    # occurrences equals lp * m exactly (decimal multiplication by an
    # integer count is exact), and n_bigrams = Σ m.
    pc = (
        pairs.groupBy("doc_id", "a", "b")
        .agg(F.count(F.lit(1)).alias("m"))
        .localCheckpoint(eager=False)
    )
    bi = pc.groupBy("a", "b").agg(F.sum("m").alias("c_ab"))
    prev = bi.groupBy("a").agg(F.sum("c_ab").alias("c_a"))
    v = bi.agg(F.count_distinct("b").alias("v"))
    prob = (F.col("c_ab").cast("double") + F.lit(alpha)) / (
        F.col("c_a").cast("double") + F.lit(alpha) * (F.col("v") + 1)
    )
    scored = (
        pc.join(bi, ["a", "b"])
        .join(F.broadcast(prev), "a")
        .crossJoin(F.broadcast(v))
        .withColumn("lp", F.round(F.log(prob), 9).cast("decimal(18,9)"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("m").alias("n_bigrams"),
            F.round(
                F.sum(F.col("lp") * F.col("m")).cast("double") / F.sum("m"), 6
            ).alias("avg_logprob"),
        )
        .orderBy("doc_id")
    )


def top_ngram_repetition(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_frac: float = 0.20,
) -> DataFrame:
    """The other half of the Gopher repetition suite (gopher_quality
    covers duplicate LINES): the fraction of a document's normalized
    characters covered by its single most frequent word 2-gram —
    boilerplate and degenerate generations repeat one phrase, which
    line-level dedup misses when the phrase sits inside longer lines.

    top_frac = occurrences(top 2-gram) * len(top 2-gram)
             / len(whitespace-normalized lowercased text),
    capped at 1.0: overlapping occurrences double-count shared
    characters (in "ha ha ha" the top 2-gram "ha ha" occurs twice
    over 8 chars → raw 1.25), so the raw ratio is an upper bound on
    covered-character fraction, not the fraction itself — the cap
    keeps the reported value in [0, 1] (r11 ADVICE).
    Ties on count break by 2-gram string ascending, so the flagged
    gram is deterministic. Docs with fewer than two tokens get
    top_frac = 0.0 and a NULL gram.

    Scale: one explode + one (doc, gram) groupBy (map-side
    combinable) + a per-document argmax window — partitioned by
    doc_id, never global.
    """
    from .search import tokenize
    from pyspark.sql import Window as W

    norm = F.lower(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")))
    base = df.select(
        F.col(id_col).alias("doc_id"), F.length(norm).alias("n_chars"),
        tokenize(F.col(text_col)).alias("toks"),
    )
    grams = (
        base.select(
            "doc_id",
            "n_chars",
            F.explode(_adjacent_pairs(F.col("toks"))).alias("p"),
        )
        .select(
            "doc_id",
            "n_chars",
            F.concat_ws(" ", F.col("p.a"), F.col("p.b")).alias("gram"),
        )
        .groupBy("doc_id", "n_chars", "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("cnt"), F.asc("gram"))
    top = (
        grams.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .select(
            "doc_id",
            F.col("gram").alias("top_gram"),
            F.col("cnt").alias("top_cnt"),
            F.least(
                F.round(
                    F.col("cnt")
                    * F.length("gram")
                    / F.col("n_chars").cast("double"),
                    6,
                ),
                F.lit(1.0),
            ).alias("top_frac"),
        )
    )
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(top, "doc_id", "left")
        .select(
            "doc_id",
            "top_gram",
            F.coalesce(F.col("top_cnt"), F.lit(0)).alias("top_cnt"),
            F.coalesce(F.col("top_frac"), F.lit(0.0)).alias("top_frac"),
            (F.coalesce(F.col("top_frac"), F.lit(0.0)) <= F.lit(max_frac)).alias(
                "keep"
            ),
        )
        .orderBy("doc_id")
    )
