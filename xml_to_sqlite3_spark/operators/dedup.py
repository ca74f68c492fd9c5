"""Deduplication operators for training-data pipelines.

Five strategies, each shaped for 100 TB:

- exact:        one hash-aggregate (md5 groupBy), map-side partial.
- ngram-Jaccard: inverted-index candidate join (explode shingles,
                pair docs sharing one) — never a cross join.
- MinHash+LSH:  k seeded hash-mins -> banded bucket join; only
                bucket-mates get verified. The standard near-dup
                path at scale (Broder; used by C4/RefinedWeb-style
                pipelines).
- SimHash:      64-bit bit-vote signature, banded hamming join.
- embedding:    random-hyperplane LSH over vectors + exact cosine
                verify within buckets (see similarity.py for ANN).

Everything is deterministic: hash seeds are fixed ints, tie-breaks
are explicit, so results are reproducible run to run (a correctness
gate requirement and good pipeline hygiene).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..cache_util import DEDUP, content_key, read_tables


def exact_duplicates(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup: md5(text) groups; keeper = min id per group.
    Returns (doc_id, text_md5, group_size, is_keeper)."""
    hashed = df.select(F.col(id_col).alias("doc_id"), F.md5(F.col(text_col)).alias("text_md5"))
    w = W.partitionBy("text_md5")
    return hashed.select(
        "doc_id",
        "text_md5",
        F.count(F.lit(1)).over(w).alias("group_size"),
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("is_keeper"),
    )


def shingles_udf(n: int = 3):
    """Vectorized shingler: the distinct word ``n``-gram shingles of
    each text in first-occurrence order, after trimming spaces,
    collapsing ``\\s+`` runs to one space and lowercasing; a text
    shorter than ``n`` words yields one shingle of all its words.

    Whitespace is the JVM's ASCII ``\\s`` class and trim strips
    spaces only — Python's Unicode-aware ``\\s``/``str.strip`` would
    diverge from the DuckDB oracles on NBSP-class characters and
    leading tabs."""
    ws = re.compile(r"[ \t\n\x0b\f\r]+")

    @F.pandas_udf("array<string>")
    def shingle(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None:
                out.append([])
                continue
            words = ws.sub(" ", t.strip(" ")).lower().split(" ")
            hi = max(len(words) - (n - 1), 1)
            grams = [" ".join(words[i : i + n]) for i in range(hi)]
            out.append(list(dict.fromkeys(grams)))
        return pd.Series(out)

    return shingle


def _check_store_meta(frame, what: str, n: int | None = None, k: int | None = None) -> None:
    """Parameter-consistency guard for precomputed ``tokens``/``sigs``
    frames: store frames carry the (n, k) they were built with (set
    by get_minhash_store); a store built under different shingle
    width or signature length would yield silently WRONG pairs if
    passed to an operator called with other parameters. Hand-built
    frames without the tag are the caller's responsibility and pass
    through unchecked.

    SCOPE: the tag is a plain Python attribute on the DataFrame
    wrapper, so a DERIVED frame (filter/select/semi-join of a store
    frame) loses it unless the deriving code re-attaches it — this
    module's own slicing helpers do (``_carry_meta``), so the
    common subset-then-reuse patterns stay protected; only frames
    sliced by CALLER code outside these helpers pass through
    unchecked like hand-built frames."""
    meta = getattr(frame, "_mh_meta", None)
    if meta is None:
        return
    if n is not None and meta.get("n") != n:
        raise ValueError(
            f"precomputed {what} built with n={meta.get('n')} but the "
            f"operator was called with n={n} — rebuild or re-fetch the "
            "store with matching parameters"
        )
    if k is not None and meta.get("k") != k:
        raise ValueError(
            f"precomputed {what} built with k={meta.get('k')} but the "
            f"operator was called with k={k} — rebuild or re-fetch the "
            "store with matching parameters"
        )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int | None = None,
    tokens: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing at least
    one shingle, via an inverted index: explode shingles, join on
    shingle with doc_a < doc_b, count shared, Jaccard from set sizes.

    At scale this shuffles on the shingle key; a stopword shingle
    shared by everything creates a hot key AND a quadratic pair
    blow-up on it. ``max_df`` is the skew guard: shingles occurring
    in more than ``max_df`` documents are dropped from the index
    before pairing, and both the intersection and the set sizes are
    computed over the surviving shingle space (so Jaccard stays a
    true set similarity on the filtered universe).
    """
    # Join the inverted index on the fixed-width shingle HASH, not
    # the shingle string — same pairs and counts at far less shuffle
    # volume, since fixed 8-byte keys replace the full n-gram text on
    # both sides of the hot join. The key is BOTH md5 halves
    # (collisions ~n^2/2^121 — safe at 10^12 shingles; one 60-bit
    # half is collision-safe only to ~10^8). One shared shingle pass
    # (_shingle_tokens) with the set size carried through the
    # explode — or the persistent
    # store's postings with the size re-derived by one count+join
    # (postings are distinct per doc, so the count IS the set size).
    kc = _KEY_COLS
    if tokens is not None:
        _check_store_meta(tokens, "tokens", n=n)
        if "h2" not in tokens.columns:
            raise ValueError(
                "ngram_jaccard_pairs: the 120-bit key needs the store's h2 "
                "column — rebuild the dedup store (legacy 60-bit entry)"
            )
        tokens = _carry_meta(tokens.select("doc_id", *kc), tokens)
    else:
        tokens = _shingle_tokens(df, n, id_col, text_col).select("doc_id", *kc)
    if max_df is not None:
        rare = (
            tokens.groupBy(*kc)
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_df)
            .select(*kc)
        )
        tokens = tokens.join(rare, kc, "left_semi")
    # r15: set sizes attach to the PAIR result, not to every posting.
    # The old store path joined the full posting table against its own
    # per-doc counts before the pair join — a corpus-sized shuffle to
    # decorate rows whose n_sh is only read once per surviving pair —
    # and the non-store path shipped n_sh through both sides of the
    # hot (h, h2) exchange. Postings now travel as bare (doc_id, key)
    # rows; the (far smaller) shared-count result joins the doc-level
    # size table twice (guide §2.3: shuffle keys, not payloads). The
    # sizes are computed from the SAME (max_df-filtered) posting set,
    # so n_a/n_b — and Jaccard — are value-identical.
    sized = tokens.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))

    a = tokens.alias("a")
    b = tokens.alias("b")
    key_eq = F.lit(True)
    for c in kc:
        key_eq = key_eq & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    shared = (
        a.join(
            b,
            key_eq & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    jac = F.col("n_shared") / (F.col("n_a") + F.col("n_b") - F.col("n_shared"))
    return (
        shared.join(
            sized.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a")),
            "doc_a",
        )
        .join(
            sized.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b")),
            "doc_b",
        )
        .withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def _md5_long(col) -> F.Column:
    """First 60 bits of md5 as a non-negative int64 — the portable
    hash primitive (identical in DuckDB:
    ``('0x' || substr(md5(x), 1, 15))::BIGINT``), which is what makes
    the MinHash pipeline's output oracle-checkable end to end."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _md5_long_hi(col) -> F.Column:
    """Bits 61-120 of md5 as a non-negative int64 — the SECOND half of
    the digest (DuckDB: ``('0x' || substr(md5(x), 16, 15))::BIGINT``).
    Paired with :func:`_md5_long` it composes a portable 120-bit
    exact-identity key: at the 10^12-shingle scale of a 100 TB corpus,
    60-bit birthday collisions (~n^2/2^61) silently MERGE distinct
    content, while ~n^2/2^121 is negligible (r14 VERDICT task 3).
    MinHash permutation inputs stay on the 60-bit half — a collision
    there is sketch noise, not corruption.

    DELIBERATELY a local twin of functions/hashing.stable_hash60_hi
    (same expression, like _md5_long vs stable_hash60): the dedup
    store's content key covers THIS module's bytes only, so the hash
    the store's rows are built from must live here — importing it
    from hashing.py would let a hashing edit change stored h2 values
    WITHOUT invalidating the store key (silently stale postings).
    Cross-module equality is pinned by
    tests/test_dedup.py::test_hash_halves_cross_module_parity."""
    return F.conv(F.substring(F.md5(col), 16, 15), 16, 10).cast("long")


# the 120-bit posting key of every exact-identity join/groupBy, and
# the (builder, alias) pairs hashing a window value into it
_KEY_COLS = ["h", "h2"]
_SPAN_KEY_EXPRS = ((_md5_long, "h"), (_md5_long_hi, "h2"))


def _shingle_tokens(
    df: DataFrame, n: int, id_col: str, text_col: str, with_size: bool = False
) -> DataFrame:
    """(doc_id[, n_sh], h) hashed-shingle postings — ONE shingle pass
    over the text; everything downstream (signatures, banding, exact
    verify, Jaccard set sizes) works on the 8-byte hashes, never
    re-reading the text. ``with_size`` carries the per-doc distinct
    shingle count through the explode (free — no join needed)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    sh = (
        df.repartition(par, id_col)  # single-file sources otherwise hash on one core
        .select(F.col(id_col).alias("doc_id"), shingles_udf(n)(F.col(text_col)).alias("sh"))
        .filter(F.size("sh") > 0)
    )
    size_cols = [F.size("sh").alias("n_sh")] if with_size else []
    keep = ["doc_id"] + (["n_sh"] if with_size else [])
    return (
        sh.select("doc_id", *size_cols, F.explode("sh").alias("shingle"))
        .select(
            *keep,
            _md5_long(F.col("shingle")).alias("h"),
            # both digest halves always travel: exact-identity
            # consumers key on (h, h2) = 120 bits by default; the
            # MinHash permutations read only h (sketch semantics)
            _md5_long_hi(F.col("shingle")).alias("h2"),
        )
    )


_MERSENNE31 = 2147483647  # 2^31 - 1, the classic MinHash modulus


def perm_coeffs(k: int, seed: int = 13) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) coefficient pairs for the k universal
    permutations h_i(x) = (a_i * x + b_i) mod (2^31 - 1). Fixed seed
    -> identical signatures run to run AND engine to engine (the
    oracle SQL is generated from the same coefficients)."""
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, _MERSENNE31), rng.randrange(0, _MERSENNE31))
        for _ in range(k)
    ]


def _signatures_from_tokens(tokens: DataFrame, k: int) -> DataFrame:
    """k universal-hash permutations of the fixed-width shingle hash,
    min-folded per doc in ONE aggregation pass with map-side partial
    combine. Each permutation is (a_i * (h mod p) + b_i) mod p with
    p = 2^31 - 1 — pure 64-bit integer arithmetic that stays inside
    whole-stage codegen (no per-seed string hashing in the hot loop;
    a_i * (h mod p) < 2^62 never overflows a long) and is expressible
    verbatim in ANSI SQL, so the MinHash gate is oracle-checkable."""
    coeffs = perm_coeffs(k)
    hm = (F.col("h") % F.lit(_MERSENNE31)).alias("hm")
    with_hm = tokens.select("doc_id", hm)
    sigs = with_hm.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * F.col("hm") + F.lit(b)) % F.lit(_MERSENNE31)).alias(
                f"__m{i}"
            )
            for i, (a, b) in enumerate(coeffs)
        ]
    )
    return sigs.select(
        "doc_id", F.array(*[F.col(f"__m{i}") for i in range(k)]).alias("signature")
    )


def _carry_meta(derived: DataFrame, source: DataFrame) -> DataFrame:
    """Copy the store's (n, k) provenance tag onto a frame DERIVED
    from it, so _check_store_meta keeps protecting sliced store
    frames (r9 ADVICE: a filter/select silently dropped the tag and
    bypassed the guard)."""
    meta = getattr(source, "_mh_meta", None)
    if meta is not None:
        derived._mh_meta = meta  # type: ignore[attr-defined]
    return derived


def _band_buckets(sigs: DataFrame, bands: int, rows: int) -> DataFrame:
    """(doc_id, band, bucket) LSH rows: each band's signature slice
    hash-folded to one 64-bit bucket — the shared banding step of the
    symmetric (minhash_lsh_pairs) and incremental
    (minhash_lsh_incremental) candidate joins. Carries the store's
    (n, k) tag through (_carry_meta).

    r16 (guide §2.3): the bucket is xxhash64 over the slice's raw
    longs instead of md5 over their ':'-joined string rendering — no
    per-row string building, a quarter of the hash bytes in the
    candidate exchange (8-byte long vs 32-char string), and the
    bucket never leaves the operator: every candidate pair it admits
    still passes the signature-estimate screen and the exact-Jaccard
    verify, and every oracle replays banding as per-band signature
    EQUALITY, so the bucket encoding is unobservable (a cross-slice
    hash collision admits a spurious candidate exactly like an md5
    collision would — and verification discards it unless the pair
    ALSO clears the Jaccard threshold, the same astronomically-
    unlikely class as before). Measured at sf0.1: the candidate
    stage 1.21 → 0.59s min, identical candidate sets."""
    banded = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[
                                F.col("signature")[b * rows + r]
                                for r in range(rows)
                            ]
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")
    return _carry_meta(banded, sigs)


def minhash_lsh_pairs(
    df: DataFrame,
    k: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    est_margin: float = 0.2,
    tokens: DataFrame | None = None,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """MinHash+LSH near-duplicate pairs.

    Signatures are banded (k/bands rows per band); documents sharing
    a band hash become candidates (shuffle on the band-bucket key).
    Candidates first pass a signature-estimate filter (est Jaccard >=
    threshold - ``est_margin``; with k=64 the estimate's std is
    ~0.06, so the default margin is >3 sigma — a candidate whose true
    Jaccard clears the threshold essentially never estimates below
    it), then get an exact Jaccard verify. The verify is a
    hashed-shingle POSTINGS join — count shared 8-byte shingle hashes
    per surviving pair — not an array_intersect over full shingle
    arrays shipped through the shuffle; the text is shingled exactly
    once for the whole operator. Returns (doc_a, doc_b, jaccard,
    est_jaccard).

    ``tokens``/``sigs`` accept precomputed postings/signatures for
    exactly ``df``'s rows (e.g. from the persistent
    ``get_minhash_store``, optionally semi-join-filtered to a
    subset) — the signature pass is the corpus-scale cost and a
    pipeline pays it once, not per dedup consumer.
    """
    if bands <= 0 or k % bands != 0:
        # silent truncation would weaken the banding below what the
        # caller asked for, and bands > k would make every band the
        # empty slice — one shared bucket, an O(N^2) cross product
        raise ValueError(f"bands must divide k: k={k}, bands={bands}")
    if tokens is not None:
        _check_store_meta(tokens, "tokens", n=n)
    if sigs is not None:
        _check_store_meta(sigs, "sigs", n=n, k=k)
    rows = k // bands
    # one shingle pass; postings feed signatures, banding, and verify.
    # localCheckpoint, not persist: blocks are dropped when the frames
    # are garbage-collected instead of pinning executor storage for
    # the session's lifetime.
    if tokens is None:
        tokens = _shingle_tokens(df, n, id_col, text_col).localCheckpoint(
            eager=True
        )
    sizes = tokens.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    if sigs is None:
        sigs = _signatures_from_tokens(tokens, k).localCheckpoint(eager=True)

    banded = _band_buckets(sigs, bands, rows)

    a = banded.alias("a")
    b = banded.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )

    # signature-estimate first-pass filter
    sig_a = sigs.select(F.col("doc_id").alias("doc_a"), F.col("signature").alias("sig_a"))
    sig_b = sigs.select(F.col("doc_id").alias("doc_b"), F.col("signature").alias("sig_b"))
    est = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v)
    ) / F.lit(float(k))
    screened = (
        candidates.join(sig_a, "doc_a")
        .join(sig_b, "doc_b")
        .withColumn("est_jaccard", F.round(est, 6))
        .filter(F.col("est_jaccard") >= threshold - est_margin)
        .select("doc_a", "doc_b", "est_jaccard")
    )

    # exact verify: shared-hash count via postings join on the full
    # 120-bit key when present (h-only for legacy hand-built frames)
    vc = ["h", "h2"] if "h2" in tokens.columns else ["h"]
    tok_a = tokens.select(F.col("doc_id").alias("doc_a"), *vc)
    tok_b = tokens.select(F.col("doc_id").alias("doc_b"), *vc)
    shared = (
        screened.join(tok_a, "doc_a")
        .join(tok_b, ["doc_b", *vc])
        .groupBy("doc_a", "doc_b", "est_jaccard")
        .agg(F.count(F.lit(1)).alias("__inter"))
    )
    sz_a = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("__n_a"))
    sz_b = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("__n_b"))
    jac = F.col("__inter") / (F.col("__n_a") + F.col("__n_b") - F.col("__inter"))
    return (
        shared.join(sz_a, "doc_a")
        .join(sz_b, "doc_b")
        .withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard", "est_jaccard")
    )


def minhash_lsh_incremental(
    new: DataFrame,
    corpus: DataFrame,
    k: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    est_margin: float = 0.2,
    tokens: DataFrame | None = None,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """One-directional MinHash+LSH: which documents of a NEW batch
    near-duplicate something already in the CORPUS — the production
    dedup shape (a daily crawl checked against the accumulated
    dataset). The critical scale property vs running
    minhash_lsh_pairs on the union: the candidate join is NEW-side ⋈
    CORPUS-side only — the corpus never self-joins, so a petabyte
    corpus costs its (reusable, persistable) signature pass and
    nothing quadratic, and the per-batch work scales with the batch.
    Returns (doc_id, match_id, jaccard, est_jaccard): doc_id from the
    new batch, match_id from the corpus, same signature/banding/
    screen/verify pipeline (and therefore the same SQL replay) as
    minhash_lsh_pairs.

    ``tokens``/``sigs`` accept the UNION corpus's precomputed
    postings/signatures (get_minhash_store); each side's slice is
    carved out by a semi-join on its ids — per-doc rows make the
    store subset-servable.
    """
    if bands <= 0 or k % bands != 0:
        raise ValueError(f"bands must divide k: k={k}, bands={bands}")
    if tokens is not None:
        _check_store_meta(tokens, "tokens", n=n)
    if sigs is not None:
        _check_store_meta(sigs, "sigs", n=n, k=k)
    rows = k // bands

    def _slice(side: DataFrame, full: DataFrame) -> DataFrame:
        ids = side.select(F.col(id_col).alias("doc_id"))
        return _carry_meta(full.join(ids, "doc_id", "left_semi"), full)

    if tokens is None:
        tok_new = _shingle_tokens(new, n, id_col, text_col).localCheckpoint(
            eager=True
        )
        tok_old = _shingle_tokens(corpus, n, id_col, text_col).localCheckpoint(
            eager=True
        )
    else:
        tok_new = _slice(new, tokens)
        tok_old = _slice(corpus, tokens)
    if sigs is None:
        sig_new = _signatures_from_tokens(tok_new, k).localCheckpoint(eager=True)
        sig_old = _signatures_from_tokens(tok_old, k).localCheckpoint(eager=True)
    else:
        sig_new = _slice(new, sigs)
        sig_old = _slice(corpus, sigs)

    a = _band_buckets(sig_new, bands, rows).alias("a")
    b = _band_buckets(sig_old, bands, rows).alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id"), F.col("b.doc_id").alias("match_id")
        )
        .distinct()
    )

    s_new = sig_new.select(
        F.col("doc_id"), F.col("signature").alias("sig_a")
    )
    s_old = sig_old.select(
        F.col("doc_id").alias("match_id"), F.col("signature").alias("sig_b")
    )
    est = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v)
    ) / F.lit(float(k))
    screened = (
        candidates.join(s_new, "doc_id")
        .join(s_old, "match_id")
        .withColumn("est_jaccard", F.round(est, 6))
        .filter(F.col("est_jaccard") >= threshold - est_margin)
        .select("doc_id", "match_id", "est_jaccard")
    )

    sizes_new = tok_new.groupBy("doc_id").agg(F.count(F.lit(1)).alias("__n_a"))
    sizes_old = tok_old.groupBy("doc_id").agg(F.count(F.lit(1)).alias("__n_b"))
    # full 120-bit verify key when present (legacy frames: h only)
    vc = ["h", "h2"] if "h2" in tok_new.columns else ["h"]
    shared = (
        screened.join(tok_new.select("doc_id", *vc), "doc_id")
        .join(
            tok_old.select(F.col("doc_id").alias("match_id"), *vc),
            ["match_id", *vc],
        )
        .groupBy("doc_id", "match_id", "est_jaccard")
        .agg(F.count(F.lit(1)).alias("__inter"))
    )
    jac = F.col("__inter") / (F.col("__n_a") + F.col("__n_b") - F.col("__inter"))
    return (
        shared.join(sizes_new, "doc_id")
        .join(
            sizes_old.select(F.col("doc_id").alias("match_id"), "__n_b"),
            "match_id",
        )
        .withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_id", "match_id", "jaccard", "est_jaccard")
    )


def simhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """64-bit SimHash per document: each word votes its hash bits
    (+1/-1); the signature is the sign vector packed to a long.

    Vectorized: one Arrow batch in, per-doc word hashing via md5
    (deterministic across runs/machines), bit matrix unpacked with
    numpy, one column-sum per doc. ~10x the 64-aggregate expression
    formulation, and no shuffle at all — signature computation is
    fully map-side.
    """
    import hashlib

    import numpy as np

    ws = re.compile(r"[ \t\n\f\r]+")

    @F.pandas_udf("long")
    def simhash(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            # exact oracle order: \s+ -> ' ', trim spaces, lower,
            # split. An empty/None doc normalizes to the single empty
            # word and gets md5('')'s signature BY DESIGN — the SQL
            # replay does the same, and empty docs being trivial
            # near-duplicates of each other is the right semantics.
            words = ws.sub(" ", (t or "")).strip(" ").lower().split(" ")
            hs = np.fromiter(
                (
                    int.from_bytes(hashlib.md5(w.encode()).digest()[:8], "big")
                    for w in words
                ),
                dtype=np.uint64,
                count=len(words),
            )
            bits = ((hs[:, None] >> np.arange(64, dtype=np.uint64)) & 1).astype(np.int32)
            votes = (2 * bits - 1).sum(axis=0)
            sig = ((votes > 0).astype(np.uint64) << np.arange(64, dtype=np.uint64)).sum(
                dtype=np.uint64
            )
            out.append(int(sig.astype(np.int64)))
        return pd.Series(out)

    par = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(par, id_col).select(
        F.col(id_col).alias("doc_id"), simhash(F.col(text_col)).alias("simhash")
    )


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    sigs: DataFrame | None = None,
) -> DataFrame:
    """SimHash near-dup pairs: band the 64-bit signature into
    ``max_hamming + 1`` chunks (pigeonhole: two signatures within
    ``max_hamming`` differing bits MUST agree exactly on at least one
    chunk — h differences cannot touch all h+1 chunks), join on
    chunk, verify with popcount(xor). Candidate generation is
    therefore COMPLETE for the requested threshold, at the cost of
    narrower chunks (64/(h+1) bits) and hence more hash-collision
    candidates as h grows — the inherent LSH recall/cost trade.
    ``sigs`` accepts precomputed (doc_id, simhash) rows (the shared
    persistent store's third signature family)."""
    if sigs is None:
        sigs = simhash_signatures(df, id_col=id_col, text_col=text_col)
    return hamming_pairs(sigs, max_hamming=max_hamming, sig_col="simhash")


def hamming_pairs(
    sigs: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    sig_col: str = "simhash",
) -> DataFrame:
    """Threshold-complete Hamming-distance pairs over ANY 64-bit
    signature column (SimHash text signatures, image dHashes, ...):
    the pigeonhole banding + popcount-verify core shared by every
    64-bit-signature dedup path. Returns (doc_a, doc_b, hamming)."""
    n_chunks = min(int(max_hamming) + 1, 64)
    widths = [64 // n_chunks + (1 if c < 64 % n_chunks else 0) for c in range(n_chunks)]
    offsets = [sum(widths[:c]) for c in range(n_chunks)]
    base = sigs.select(F.col(id_col).alias("doc_id"), F.col(sig_col).alias("__sig"))
    banded = base.select(
        "doc_id",
        "__sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftrightunsigned(F.col("__sig"), offsets[c])
                        # width 64 (max_hamming=0, one chunk): the
                        # all-ones mask doesn't fit an unsigned
                        # literal in a Java long — use -1 (same bits)
                        .bitwiseAND(
                            F.lit(-1 if widths[c] == 64 else (1 << widths[c]) - 1)
                        )
                        .alias("val"),
                    )
                    for c in range(n_chunks)
                ]
            )
        ).alias("cb"),
    ).select("doc_id", "__sig", "cb.chunk", "cb.val")

    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.__sig").bitwiseXOR(F.col("b.__sig"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def positional_windows_udf(length: int = 8):
    """Vectorized fixed-length token-window extractor: every
    ``length``-token window of the \\s+-normalized lowercase token
    stream, in position order (stride 1, NOT deduped — position
    matters here); documents shorter than ``length`` tokens emit no
    windows. Arrow-batched pandas UDF: the Column-expression
    formulation (transform+slice+concat_ws) is interpreted — Catalyst
    does not codegen higher-order lambdas — and measured 6x slower
    than this UDF with warm workers (7.1s vs 1.2s for the sf0.1
    posting build), the same trade as ``shingles_udf``."""
    ws = re.compile(r"\s+")

    @F.pandas_udf("array<string>")
    def windows(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None:
                out.append([])
                continue
            words = ws.sub(" ", t.strip()).lower().split(" ")
            out.append(
                [" ".join(words[i : i + length]) for i in range(len(words) - length + 1)]
            )
        return pd.Series(out)

    return windows


def duplicated_spans(
    df: DataFrame,
    window_tokens: int = 8,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Substring-level duplication detection — the span-granular pass
    of Lee et al. 2022 ("Deduplicating Training Data Makes Language
    Models Better"), approximated at fixed token granularity: a
    position's ``window_tokens``-token window is *duplicated* when
    the identical window text occurs ``min_count``+ times corpus-wide
    (across documents OR repeated within one); overlapping duplicated
    windows merge into maximal spans. Returns one row per span:
    (doc_id, span_start, span_end, span_tokens, n_windows) with
    token offsets, span_end exclusive.

    Scale shape: one Arrow-batched window pass over the text (the
    only Python — see positional_windows_udf for the measured case
    against the interpreted Column formulation), explode to
    (doc, pos, hash) postings materialized ONCE, one map-side
    combinable count by hash, semi-join back on the hash (duplicated
    windows are a small fraction of postings in a healthy corpus),
    then a per-document gaps-and-islands window merge — every heavy
    aggregation is partitioned; nothing is quadratic in corpus size.
    Deterministic (md5-hash windows), so the whole operator replays
    in ANSI SQL for the oracle gate.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    postings = (
        df.repartition(par, id_col)
        .select(
            F.col(id_col).alias("doc_id"),
            positional_windows_udf(window_tokens)(F.col(text_col)).alias("w"),
        )
        .filter(F.size("w") > 0)
        .select("doc_id", F.posexplode("w").alias("pos", "win"))
        .select(
            "doc_id",
            "pos",
            *[c(F.col("win")).alias(a) for c, a in _SPAN_KEY_EXPRS],
        )
        # two consumers below (the count and the semi-join probe) —
        # without this the window pass over the text runs twice
        .localCheckpoint(eager=True)
    )
    kc = _KEY_COLS
    dup_hashes = (
        postings.groupBy(*kc)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= min_count)
        .select(*kc)
    )
    dup_pos = postings.join(dup_hashes, kc, "left_semi").select("doc_id", "pos")

    w = W.partitionBy("doc_id").orderBy("pos")
    prev_max_end = F.max(F.col("pos") + window_tokens).over(
        w.rowsBetween(W.unboundedPreceding, -1)
    )
    islanded = dup_pos.withColumn(
        "__new",
        F.when(prev_max_end.isNull() | (F.col("pos") > prev_max_end), 1).otherwise(0),
    ).withColumn(
        "__island",
        F.sum("__new").over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    return (
        islanded.groupBy("doc_id", "__island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + window_tokens).alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .select(
            "doc_id",
            F.col("span_start").cast("int").alias("span_start"),
            F.col("span_end").cast("int").alias("span_end"),
            (F.col("span_end") - F.col("span_start")).cast("int").alias("span_tokens"),
            F.col("n_windows").cast("long").alias("n_windows"),
        )
    )


def remove_duplicated_spans(
    df: DataFrame,
    window_tokens: int = 8,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """APPLY substring-level dedup (the removal step of Lee et al.
    2022): corpus-wide, every ``window_tokens``-token window that
    repeats ``min_count``+ times keeps only its FIRST occurrence
    (minimum (doc_id, pos)); a token is removed when at least one
    non-first duplicated window covers it. Returns
    (id, text_deduped, n_tokens_kept, n_tokens_total) with surviving
    tokens rejoined in original order — documents whose every token
    is removed survive with text_deduped = ''.

    Fully deterministic, so the whole pass replays in ANSI SQL.
    Scale shape mirrors duplicated_spans: one Arrow window pass,
    postings materialized once, a map-side-combinable min/count per
    hash, semi-join probe, one explode of removal windows into token
    indices (bounded by window_tokens x duplicated windows), and one
    reassembly shuffle per document.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    base = df.repartition(par, id_col).select(
        F.col(id_col).alias("doc_id"),
        positional_windows_udf(1)(F.col(text_col)).alias("toks"),
        positional_windows_udf(window_tokens)(F.col(text_col)).alias("w"),
    # base feeds postings, toks and the spine — without this the
    # Arrow tokenization pass over the corpus text re-runs per branch
    ).localCheckpoint(eager=True)
    postings = (
        base.filter(F.size("w") > 0)
        .select("doc_id", F.posexplode("w").alias("pos", "win"))
        .select(
            "doc_id",
            "pos",
            *[c(F.col("win")).alias(a) for c, a in _SPAN_KEY_EXPRS],
        )
        .localCheckpoint(eager=True)
    )
    kc = _KEY_COLS
    # per-hash: occurrence count and the first (doc, pos); the struct
    # min orders lexicographically on (doc_id, pos)
    firsts = postings.groupBy(*kc).agg(
        F.count(F.lit(1)).alias("__n"),
        F.min(F.struct("doc_id", "pos")).alias("__first"),
    ).filter(F.col("__n") >= min_count)
    non_first = (
        postings.join(firsts, kc)
        .filter(
            (F.col("doc_id") != F.col("__first.doc_id"))
            | (F.col("pos") != F.col("__first.pos"))
        )
        .select("doc_id", "pos")
    )
    # r15 reassembly: the old tail posexploded EVERY corpus token,
    # anti-joined the removal indices, and rebuilt each document with
    # a collect_list+sort groupBy — i.e. the entire tokenized corpus
    # crossed one exchange to delete a small fraction of it. Removal
    # decisions are tiny (non-first duplicated windows); so merge
    # them into disjoint per-document spans (the duplicated_spans
    # gaps-and-islands idiom), attach the small span table to the
    # doc-level rows, and cut the kept text out of the ALREADY
    # per-document token array with slice/flatten — the token payload
    # never shuffles at all (guide §2.3: decide with small rows, move
    # big rows once; §8's transferable rule).
    w = W.partitionBy("doc_id").orderBy("pos")
    prev_max_end = F.max(F.col("pos") + window_tokens).over(
        w.rowsBetween(W.unboundedPreceding, -1)
    )
    islanded = non_first.withColumn(
        "__new",
        F.when(prev_max_end.isNull() | (F.col("pos") > prev_max_end), 1).otherwise(0),
    ).withColumn(
        "__island",
        F.sum("__new").over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    spans = (
        islanded.groupBy("doc_id", "__island")
        .agg(
            F.min("pos").alias("s"),
            (F.max("pos") + window_tokens).alias("e"),
        )
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("s", "e"))).alias("__spans"))
    )
    # complement of the (disjoint, sorted) removal spans over
    # [0, n_tokens): one bounded HOF aggregate over the few spans per
    # doc; removal spans are clamped to the token range (a window at
    # pos covers [pos, pos+window_tokens) which may overrun short
    # final windows — it cannot, by construction, but least() keeps
    # the slice arithmetic total)
    kept_ranges = F.expr(
        "aggregate("
        "  coalesce(__spans, cast(array() as array<struct<s:int,e:int>>)),"
        "  struct(0 as prev, cast(array() as array<struct<s:int,e:int>>) as acc),"
        "  (a, sp) -> struct("
        "    greatest(a.prev, least(sp.e, __nt)) as prev,"
        "    if(sp.s > a.prev,"
        "       concat(a.acc, array(struct(a.prev as s, sp.s as e))),"
        "       a.acc) as acc),"
        "  a -> if(a.prev < __nt,"
        "          concat(a.acc, array(struct(a.prev as s, __nt as e))),"
        "          a.acc))"
    )
    assembled = (
        base.select("doc_id", "toks", F.size("toks").alias("__nt"))
        .join(spans, "doc_id", "left")
        .withColumn("__keep", kept_ranges)
        .withColumn(
            "__kept_toks",
            F.flatten(
                F.transform(
                    F.col("__keep"),
                    lambda r: F.slice(F.col("toks"), r["s"] + 1, r["e"] - r["s"]),
                )
            ),
        )
    )
    return assembled.select(
        F.col("doc_id").alias(id_col),
        F.concat_ws(" ", F.col("__kept_toks")).alias("text_deduped"),
        F.size("__kept_toks").cast("long").alias("n_tokens_kept"),
        F.col("__nt").cast("int").alias("n_tokens_total"),
    )


# every parquet table a published dedup-store entry holds; ALL are
# per-document rows (pure functions of each document alone)
_DEDUP_STORE_SUBDIRS = ("tokens", "sigs", "simhash", "win8")


# the dedup/components cache root, under this name for the benchmark
# harness (perfbench/workloads.py sizes the store entries under it)
_minhash_cache_root = DEDUP.root


def _dedup_tables(spark, final: str, doc_path: str, n: int, k: int) -> dict:
    """Every table of a published dedup-store entry, tagged for the
    consumers' checks: tokens/sigs carry their (n, k) — a store built
    under other parameters yields silently wrong pairs (see
    _check_store_meta) — and win8 its window width."""
    out = read_tables(spark, final, _DEDUP_STORE_SUBDIRS)
    meta = {"n": n, "k": k, "src": doc_path}
    out["tokens"]._mh_meta = meta  # type: ignore[attr-defined]
    out["sigs"]._mh_meta = meta  # type: ignore[attr-defined]
    out["win8"]._win_n = 8  # type: ignore[attr-defined]
    return out


def _minhash_store_key(doc_path: str, n: int, k: int, id_col: str, text_col: str) -> str:
    """THE content key of a dedup-store entry — one definition shared
    by the build, the three getters, and the test harness, so a
    key-format or parameter-default change can never desynchronize a
    reader from the entry it expects."""
    extra = f"n{n}_k{k}_{id_col}_{text_col}"
    return content_key(
        "mh", doc_path, extra=extra, code_files=(__file__,), suffixes=(".parquet",)
    )


def _components_store_key(
    doc_path: str,
    threshold: float,
    n: int,
    k: int,
    id_col: str,
    text_col: str,
) -> str:
    """THE content key of a components-store entry — the
    _minhash_store_key discipline applied to the closure.

    ``k`` is IN the key (r14 ADVICE) even though the closure itself is
    k-independent (pairs come from exact token Jaccard): the build
    reads its pairing tokens from the k-keyed dedup entry, so if token
    derivation ever became k-sensitive, an entry shared across k would
    silently serve the wrong tokens."""
    from . import graph as _graph_mod

    extra = f"t{threshold}_n{n}_k{k}_{id_col}_{text_col}"
    return content_key(
        "dupcomp",
        doc_path,
        extra=extra,
        code_files=(__file__, _graph_mod.__file__),
        suffixes=(".parquet",),
    )


def get_minhash_store(
    spark,
    doc_path: str,
    n: int = 3,
    k: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """(tokens, sigs) for the corpus at ``doc_path``, materialized
    ONCE per content key: the hashed-shingle postings (doc_id, h)
    and MinHash signatures (doc_id, signature) every dedup-family
    operator starts from. Persistent parquet under the shared
    cache_util contract (atomic publish / stale pruning / mtime
    lease) — the signature pass over a petabyte corpus is the
    pipeline's reusable artifact; six separate gate queries
    re-shingling the same documents each run was the single-session
    equivalent of recomputing it per job. Both frames are pure
    functions of (text, n, k, fixed perm seeds), so attached ==
    recomputed exactly; per-doc rows mean any subset of documents
    can be served by a semi-join filter on the store."""
    t = _minhash_tables(spark, doc_path, n, k, id_col, text_col)
    return t["tokens"], t["sigs"]


def _minhash_tables(
    spark, doc_path: str, n: int, k: int, id_col: str, text_col: str
) -> dict:
    """Every table of the base dedup-store entry (see get_minhash_store)."""
    ck = _minhash_store_key(doc_path, n, k, id_col, text_col)

    def _build(tmp: str) -> None:
        docs = spark.read.parquet(doc_path)
        _shingle_tokens(docs, n, id_col, text_col).write.mode(
            "overwrite"
        ).parquet(f"{tmp}/tokens")
        toks = spark.read.parquet(f"{tmp}/tokens")
        _signatures_from_tokens(toks, k).write.mode("overwrite").parquet(
            f"{tmp}/sigs"
        )
        # the 64-bit SimHash rides the same store: a third per-doc
        # signature family over the same corpus, built in the same
        # pass family and attached by the same consumers' contract
        simhash_signatures(docs, id_col=id_col, text_col=text_col).write.mode(
            "overwrite"
        ).parquet(f"{tmp}/simhash")
        # fourth family: 8-token-WINDOW md5 postings (the
        # decontamination shingle definition — GPT-3/PaLM n-gram
        # rule), shared by the decontaminate and bloom_prefilter
        # gates so neither re-shingles the training corpus per query
        from .curation import shingle_hashes

        shingle_hashes(docs, id_col=id_col, text_col=text_col, n=8).write.mode(
            "overwrite"
        ).parquet(f"{tmp}/win8")
        with open(f"{tmp}/_COMPLETE", "w") as f:
            f.write(ck)

    return DEDUP.get(
        spark, ck, _build, lambda final: _dedup_tables(spark, final, doc_path, n, k)
    )


def get_simhash_store(
    spark,
    doc_path: str,
    n: int = 3,
    k: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, simhash) from the shared dedup store (built by the
    same get_minhash_store entry — n/k participate in the key because
    the entry is one artifact)."""
    return _minhash_tables(spark, doc_path, n, k, id_col, text_col)["simhash"]


def get_window_store(
    spark,
    doc_path: str,
    n: int = 3,
    k: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, shingle) 8-token-window md5 postings from the shared
    dedup store (built by the same get_minhash_store entry; the
    window width is fixed at the decontamination family's n=8 — the
    n/k here are the STORE key's MinHash parameters)."""
    return _minhash_tables(spark, doc_path, n, k, id_col, text_col)["win8"]


def get_components_store(
    spark,
    doc_path: str,
    threshold: float = 0.3,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 64,
) -> DataFrame:
    """(doc_id, component, is_keeper) — the near-duplicate connected
    components of the corpus at (threshold, n), as a PERSISTENT
    content-keyed artifact under the shared cache_util contract.

    The closure is a pure function of (documents, params, build
    code), so attached == recomputed exactly — and at 100 TB the
    min-label iteration is the classic build-once artifact: every
    consumer (keep/drop decisions, canonical selection, corpus
    materialization) reads the same table instead of re-running the
    Jaccard verify join + iterative propagation per query. Builds
    from the minhash store's postings (no re-shingling); keyed on
    this module AND operators/graph.py (connected_components is the
    other half of the build code)."""
    from .graph import duplicate_groups

    ck = _components_store_key(doc_path, threshold, n, k, id_col, text_col)

    def _build(tmp: str) -> None:
        docs = spark.read.parquet(doc_path)
        tokens, _ = get_minhash_store(
            spark, doc_path, n=n, k=k, id_col=id_col, text_col=text_col
        )
        pairs = ngram_jaccard_pairs(
            docs, threshold=threshold, n=n, id_col=id_col,
            text_col=text_col, tokens=tokens,
        )
        duplicate_groups(pairs).write.mode("overwrite").parquet(
            f"{tmp}/components"
        )
        with open(f"{tmp}/_COMPLETE", "w") as f:
            f.write(ck)

    return DEDUP.get(
        spark,
        ck,
        _build,
        lambda final: read_tables(spark, final, ("components",))["components"],
    )


# the blocking-key vocabulary for fuzzy matching: each entry maps a
# normalized name Column to an equi-join block value. "first" is the
# r12 default; "last" recovers first-word typos (r14 VERDICT task 6).
_BLOCK_KEY_EXPRS = {
    "first": lambda nm: F.split(nm, " ").getItem(0),
    "last": lambda nm: F.element_at(F.split(nm, " "), -1),
}


def _blocked_name_candidates(
    names: DataFrame,
    block_keys: tuple,
    max_dist: int,
    max_block: int,
    fn_name: str,
    extra_cols: tuple = (),
) -> DataFrame:
    """Candidate DISTINCT-name pairs for fuzzy matching, generated as
    the UNION over ``block_keys`` equi-join blocks — shared by
    :func:`fuzzy_match_pairs` and :func:`fuzzy_match_names` so the
    blocking semantics (fat-block guard per (key, block), length
    prefilter, cross-key dedup BEFORE the distance evaluates) can
    never diverge between the two surfaces.

    ``names`` must carry (nm, ln) plus ``extra_cols``; returns
    (nma, nmb, lna, lnb, a_<extra>, b_<extra>) with nma < nmb, each
    pair exactly once even when several keys match it. With a single
    key this is the classic one-block hash join (no dedup shuffle
    added); every added key costs one more postings branch and one
    dropDuplicates on the candidate (vocabulary-bounded) relation —
    never a corpus-sized shuffle.
    """
    unknown = [k2 for k2 in block_keys if k2 not in _BLOCK_KEY_EXPRS]
    if not block_keys or unknown:
        raise ValueError(
            f"{fn_name}: block_keys must be a non-empty subset of "
            f"{sorted(_BLOCK_KEY_EXPRS)}, got {block_keys!r}"
        )
    keyed = None
    for kind in block_keys:
        part = names.select(
            "nm",
            "ln",
            *extra_cols,
            F.lit(kind).alias("bk"),
            _BLOCK_KEY_EXPRS[kind](F.col("nm")).alias("bv"),
        )
        keyed = part if keyed is None else keyed.unionByName(part)
    # consumers: the fat guard and both sides of the self-join
    keyed = keyed.localCheckpoint(eager=False)
    fat = (
        keyed.groupBy("bk", "bv")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > max_block)
        .orderBy(F.desc("n"))
        .limit(3)
        .collect()
    )
    if fat:
        detail = ", ".join(
            f"{r['bk']}-token block '{r['bv']}': {r['n']} names" for r in fat
        )
        raise ValueError(
            f"{fn_name}: block(s) exceed max_block={max_block} distinct "
            f"names ({detail}); the within-block pair join is quadratic "
            "in the name vocabulary — use a finer blocking key or raise "
            "max_block explicitly if the cost is intended"
        )
    a, b = keyed.alias("a"), keyed.alias("b")
    cand = a.join(
        b,
        (F.col("a.bk") == F.col("b.bk"))
        & (F.col("a.bv") == F.col("b.bv"))
        & (F.col("a.nm") < F.col("b.nm"))
        & (F.abs(F.col("a.ln") - F.col("b.ln")) <= F.lit(max_dist)),
    ).select(
        F.col("a.nm").alias("nma"),
        F.col("b.nm").alias("nmb"),
        F.col("a.ln").alias("lna"),
        F.col("b.ln").alias("lnb"),
        *[F.col(f"a.{c}").alias(f"a_{c}") for c in extra_cols],
        *[F.col(f"b.{c}").alias(f"b_{c}") for c in extra_cols],
    )
    if len(block_keys) > 1:
        # a pair whose names share SEVERAL block values (same first
        # AND same last token) must still be scored once
        cand = cand.dropDuplicates(["nma", "nmb"])
    return cand


def fuzzy_match_pairs(
    df: DataFrame,
    id_col: str = "id",
    name_col: str = "name",
    max_dist: int = 2,
    min_dist: int = 0,
    max_block: int = 100_000,
    block_keys: tuple = ("first",),
) -> DataFrame:
    """Fuzzy entity matching (record linkage) via a BLOCKED
    edit-distance join: the classic entity-resolution step of a data
    integration pipeline (the same product/author/address appearing
    under typo'd or reformatted names), which none of the set-based
    dedup family catches — Levenshtein distance 1 on a short name can
    be Jaccard 0 on its shingles.

    Plan shape, in scale order:
    1. Every edit distance is computed over DISTINCT NAMES, once —
       record-level results expand back through two equi-joins on the
       name. This is the load-bearing step at scale: entity columns
       repeat heavily (the sf0.1 part table is 20,000 records over 64
       distinct names), and the first record-level cut of this
       operator measured 52.9s at sf0.1 where the distinct-name form
       runs the SAME 64x64 comparisons the sf0.01 corpus needs — the
       distance work is bounded by the name vocabulary, not the
       record count.
    2. BLOCK on the normalized name's first token — an equi-join key,
       so candidate generation is a hash join, never all-pairs. A hot
       block (every name starting "the ...") is the quadratic risk,
       so DISTINCT-NAME block sizes above ``max_block`` raise loudly
       BEFORE the pair join (the max_df / max_cluster_size policy).
    3. Length prefilter inside the join condition: ``|len_a - len_b|
       <= max_dist`` is a provable Levenshtein lower bound, pruned
       before the O(len²) distance evaluates.
    4. ``levenshtein(a, b, threshold)`` — Spark's bounded variant
       early-exits above ``max_dist`` (returns -1), so the per-pair
       cost is O(len * max_dist), not O(len²).

    ``min_dist`` lets a caller exclude exact duplicates (dist 0 —
    exact_duplicates already handles those) and keep only the fuzzy
    band; dist-0 record pairs (same name, different records) are
    generated from the name groups directly when ``min_dist == 0``,
    never through levenshtein. Returns (id_a, id_b, name_a, name_b,
    dist, similarity) with id_a < id_b and similarity = 1 - dist /
    max(len) rounded to 6dp — fully value-oracled (DuckDB's
    levenshtein implements the same classic unweighted distance).

    NOTE the result is OUTPUT-sized by contract: a matched name pair
    expands to n_a x n_b record pairs, and a corpus with thousands of
    records per name makes that expansion the dominant cost (measured
    142-155s at sf1 where each of 64 names covers ~3,125 records —
    ~150M record pairs) — treat it as a sink-side materialization,
    sized like the output it is, not a review step. The DEFAULT public
    API is :func:`fuzzy_match` (name-level relation); this expansion
    sits behind its ``expand_records=True``.

    RECALL BOUND inherent to blocking: names are only compared WITHIN
    a block, so a typo in the blocking token lands in different
    blocks and is never compared. ``block_keys`` widens recall by
    UNIONING candidate generation over several keys (r14 VERDICT
    task 6): the default ``("first",)`` blocks on the first token
    (the r12 behavior, byte-identical results); ``("first", "last")``
    ALSO pairs names sharing their LAST token, so a first-word typo
    ('gren metallic' vs 'green metallic') is recovered through the
    last-token block. Candidates matched under several keys are
    deduped BEFORE the distance evaluates, so each name pair is
    scored once; the fat-block guard applies per (key, block). A pair
    typo'd in EVERY blocking token remains unmatched — that is the
    inherent blocked-record-linkage trade.
    """
    # EXPLICIT empty/NULL-name contract (the hard_negative_topk
    # null-label precedent): a record with no usable entity string
    # cannot be matched, so NULL and whitespace-only names are
    # excluded up front — visibly, instead of NULL names silently
    # failing the block equi-join and empty names pairing with each
    # other at similarity 0/0 (NULL, or a DIVIDE_BY_ZERO error under
    # ANSI mode).
    norm = F.lower(F.trim(F.regexp_replace(F.col(name_col), r"\s+", " ")))
    base = df.select(
        F.col(id_col).alias("id"),
        norm.alias("nm"),
        F.length(norm).alias("ln"),
    ).filter(F.col("nm").isNotNull() & (F.col("ln") > 0))
    # consumers: the distinct-name projection, the record expansion
    # joins, and (min_dist == 0) the same-name pair generator — pin
    # so the normalize projection runs once (semdedup's pattern)
    base = base.localCheckpoint(eager=False)
    names = base.select("nm", "ln").distinct()
    cand = _blocked_name_candidates(
        names, block_keys, max_dist, max_block, "fuzzy_match_pairs"
    )
    dist = F.levenshtein(F.col("nma"), F.col("nmb"), max_dist)
    # each DISTINCT name pair scored once; nm ordering only
    # canonicalizes the comparison — record-level (id_a < id_b)
    # orientation is restored in the expansion below
    name_pairs = cand.select(
        "nma",
        "nmb",
        dist.alias("dist"),
        F.greatest(F.col("lna"), F.col("lnb")).alias("__mx"),
    ).filter(
        (F.col("dist") >= F.greatest(F.lit(min_dist), F.lit(1)))
        & (F.col("dist") <= max_dist)
    )
    ra = base.select(F.col("nm").alias("nma"), F.col("id").alias("ida"))
    rb = base.select(F.col("nm").alias("nmb"), F.col("id").alias("idb"))
    cross_name = (
        name_pairs.join(ra, "nma")
        .join(rb, "nmb")
        .select(
            F.least("ida", "idb").alias("id_a"),
            F.greatest("ida", "idb").alias("id_b"),
            F.when(F.col("ida") < F.col("idb"), F.col("nma"))
            .otherwise(F.col("nmb"))
            .alias("name_a"),
            F.when(F.col("ida") < F.col("idb"), F.col("nmb"))
            .otherwise(F.col("nma"))
            .alias("name_b"),
            "dist",
            "__mx",
        )
    )
    out = cross_name
    if min_dist == 0:
        # dist-0 pairs = record pairs SHARING a name: generated from
        # the name groups (output-sized), never through levenshtein
        sa = base.select("nm", "ln", F.col("id").alias("ida")).alias("sa")
        sb = base.select("nm", F.col("id").alias("idb")).alias("sb")
        same = (
            sa.join(sb, "nm")
            .filter(F.col("ida") < F.col("idb"))
            .select(
                F.col("ida").alias("id_a"),
                F.col("idb").alias("id_b"),
                F.col("nm").alias("name_a"),
                F.col("nm").alias("name_b"),
                F.lit(0).alias("dist"),
                F.col("ln").alias("__mx"),
            )
        )
        out = cross_name.unionByName(same)
    return out.select(
        "id_a",
        "id_b",
        "name_a",
        "name_b",
        "dist",
        F.round(1.0 - F.col("dist") / F.col("__mx").cast("double"), 6).alias(
            "similarity"
        ),
    )


def fuzzy_match_names(
    df: DataFrame,
    id_col: str = "id",
    name_col: str = "name",
    max_dist: int = 2,
    min_dist: int = 1,
    max_block: int = 100_000,
    block_keys: tuple = ("first",),
) -> DataFrame:
    """The VOCABULARY-sized view of fuzzy entity matching: matched
    DISTINCT-name pairs with their record-group sizes — what a
    pipeline reviews (and a human eyeballs) before committing to the
    n_a x n_b record-pair expansion that :func:`fuzzy_match_pairs`
    materializes. Same blocking, guard, prefilter, and bounded
    levenshtein; the whole computation is bounded by the name
    vocabulary, so this stays cheap at ANY record count (the r12 sf1
    measurement: the record expansion is ~150M rows / 142-155s, this
    relation is ~16 rows). ``min_dist`` is coerced to >= 1: same-name
    record groups are exact_duplicates' output, not a fuzzy match.

    Same blocking machinery as :func:`fuzzy_match_pairs`
    (``block_keys``, shared :func:`_blocked_name_candidates`), and
    the same RECALL BOUND per key: with the default first-token
    blocking a typo in the first word is never compared — pass
    ``block_keys=("first", "last")`` to recover those through the
    last-token block.

    Returns (name_a, name_b, dist, similarity, n_a, n_b, n_pairs)
    with name_a < name_b, ordered by (dist, name_a, name_b).
    """
    norm = F.lower(F.trim(F.regexp_replace(F.col(name_col), r"\s+", " ")))
    base = df.select(
        F.col(id_col).alias("id"),
        norm.alias("nm"),
        F.length(norm).alias("ln"),
    ).filter(F.col("nm").isNotNull() & (F.col("ln") > 0))
    base = base.localCheckpoint(eager=False)
    sized = base.groupBy("nm", "ln").agg(F.count(F.lit(1)).alias("n_rec"))
    cand = _blocked_name_candidates(
        sized,
        block_keys,
        max_dist,
        max_block,
        "fuzzy_match_names",
        extra_cols=("n_rec",),
    )
    dist = F.levenshtein(F.col("nma"), F.col("nmb"), max_dist)
    return (
        cand.select(
            F.col("nma").alias("name_a"),
            F.col("nmb").alias("name_b"),
            dist.alias("dist"),
            F.greatest(F.col("lna"), F.col("lnb")).alias("__mx"),
            F.col("a_n_rec").alias("n_a"),
            F.col("b_n_rec").alias("n_b"),
        )
        .filter(
            (F.col("dist") >= F.greatest(F.lit(min_dist), F.lit(1)))
            & (F.col("dist") <= max_dist)
        )
        .select(
            "name_a",
            "name_b",
            "dist",
            F.round(1.0 - F.col("dist") / F.col("__mx").cast("double"), 6).alias(
                "similarity"
            ),
            "n_a",
            "n_b",
            (F.col("n_a") * F.col("n_b")).alias("n_pairs"),
        )
        .orderBy("dist", "name_a", "name_b")
    )


def fuzzy_match(
    df: DataFrame,
    id_col: str = "id",
    name_col: str = "name",
    max_dist: int = 2,
    min_dist: int = 1,
    max_block: int = 100_000,
    expand_records: bool = False,
    block_keys: tuple = ("first",),
) -> DataFrame:
    """The public entry point for fuzzy entity matching. DEFAULT is
    the VOCABULARY-sized name relation (:func:`fuzzy_match_names` —
    matched distinct-name pairs with group sizes and the implied
    ``n_pairs`` expansion count), because that is what a pipeline
    reviews and it stays cheap at ANY record count.

    ``expand_records=True`` materializes the full record-pair
    expansion instead (:func:`fuzzy_match_pairs`). COST STATEMENT,
    mirroring ``max_block``'s: the expansion is OUTPUT-sized by
    contract — a matched name pair becomes n_a x n_b record pairs
    (~150M rows / 142-155s measured at sf1, where 64 names cover
    ~3,125 records each) — so treat it as a sink-side write whose
    size you have already read off the default relation's ``n_pairs``
    column, not as a review step.
    """
    if expand_records:
        return fuzzy_match_pairs(
            df,
            id_col=id_col,
            name_col=name_col,
            max_dist=max_dist,
            min_dist=min_dist,
            max_block=max_block,
            block_keys=block_keys,
        )
    return fuzzy_match_names(
        df,
        id_col=id_col,
        name_col=name_col,
        max_dist=max_dist,
        min_dist=min_dist,
        max_block=max_block,
        block_keys=block_keys,
    )


def shingle_novelty(
    df: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens: DataFrame | None = None,
) -> DataFrame:
    """Per-document novelty against the corpus: the fraction of a
    document's distinct word n-gram shingles whose corpus-wide FIRST
    occurrence (minimum doc_id) is this document — the data-valuation
    view of dedup (a doc full of already-seen shingles adds little
    even when no single pair crosses a dedup threshold; mixing and
    curriculum policies rank on exactly this).

    Reads the persistent MinHash store's hashed-shingle postings when
    supplied (``tokens``) — no re-shingling; the 120-bit (h, h2)
    hash key stands in for the shingle string (see
    ngram_jaccard_pairs). Plan: one
    groupBy on the hash key (first_doc = min(doc_id), map-side
    combinable) and one join back — no windows, no all-pairs.

    Returns (doc_id, n_shingles, novel, novel_frac) for every doc
    with at least one shingle, ordered by doc_id.
    """
    kc = _KEY_COLS
    if tokens is not None:
        _check_store_meta(tokens, "tokens", n=n)
        if "h2" not in tokens.columns:
            raise ValueError(
                "shingle_novelty: the 120-bit key needs the store's h2 "
                "column — rebuild the dedup store (legacy 60-bit entry)"
            )
        postings = tokens.select("doc_id", *kc)
    else:
        postings = _shingle_tokens(df, n, id_col, text_col).select(
            "doc_id", *kc
        )
    firsts = postings.groupBy(*kc).agg(F.min("doc_id").alias("first_doc"))
    return (
        postings.join(firsts, kc)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("long")).alias(
                "novel"
            ),
        )
        .select(
            "doc_id",
            "n_shingles",
            "novel",
            F.round(F.col("novel") / F.col("n_shingles").cast("double"), 6).alias(
                "novel_frac"
            ),
        )
        .orderBy("doc_id")
    )
