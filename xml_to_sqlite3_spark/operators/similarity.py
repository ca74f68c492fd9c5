"""Similarity search over embedding columns (array<float>).

Two paths:
- brute-force cosine top-k — exact, O(Q x N); the right baseline
  when Q is small (broadcast the query side, scan the corpus once).
- random-hyperplane LSH buckets — the scale path: both sides bucket
  by sign-pattern, candidates come from an equi-join on the bucket
  key, exact cosine only inside buckets. Multi-probe (flip one bit)
  trades recall for cost.

All dot products are built-in higher-order functions (zip_with +
aggregate) over double-cast arrays — JVM-side, no Python.
Determinism: hyperplanes derive from a fixed-seed hash of the
dimension index, not an RNG at runtime.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..cache_util import CODEBOOK, content_key, read_tables


def dot(a: Column, b: Column) -> Column:
    """Sequential left-to-right dot product (stable order => stable
    floats, comparable across engines)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _topk(scored: DataFrame, k: int) -> DataFrame:
    """The shared top-k contract for every ANN variant: rank per query
    by cosine desc with neighbor_id as the deterministic tie-break —
    one definition so the three operators cannot drift apart."""
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query by cosine (self-matches
    excluded). Broadcast the (small) query side; the corpus is
    scanned exactly once. Ties break on neighbor id ascending.

    Returns (query_id, neighbor_id, cosine, rank).
    """
    # norms hoisted to one per-row column on each side: cosine's
    # norm(qv)/norm(cv) are pure per-row functions, so computing them
    # once here instead of per (query, corpus) pair is bit-identical
    # (same expression over the same doubles, same dot/(nq*nc)
    # ordering) while the per-pair interpreted-HOF work halves —
    # 2 array traversals per pair (zip_with + aggregate for the dot)
    # instead of 4 (guide §4.1: HOF lambdas don't codegen)
    q = queries.select(
        F.col(query_id).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    ).withColumn("qn", norm(F.col("qv")))
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("cv")
    ).withColumn("cn", norm(F.col("cv")))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6
            ).alias("cosine"),
        )
    )
    return _topk(scored, k)


def hard_negative_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    max_query_rows: int | None = 1_000_000,
) -> DataFrame:
    """Hard-negative mining for embedding-model training data: per
    query, the top-k most-similar corpus vectors whose label DIFFERS
    from the query's — the classic contrastive-pair construction
    (high-cosine, wrong-class examples are the informative negatives).

    Same plan shape as :func:`cosine_topk` (broadcast the small query
    side, scan the corpus exactly once); the label-inequality
    predicate sits in the join condition so candidates are pruned
    before the cosine is evaluated. At 100 TB the corpus side stays
    partition-parallel and nothing shuffles — the only reduction is
    the per-query top-k window over k-bounded candidates.

    The broadcast is only safe because the contrastive-mining shape
    has query set ≪ corpus; ``max_query_rows`` enforces that contract
    fail-loud — a caller passing a corpus-sized ``queries`` gets a
    ValueError naming the fix, not a driver/executor broadcast OOM.
    NOTE the guard is EAGER: with ``max_query_rows`` set (the
    default), CALLING this function runs a Spark job (a 1-row count
    of the filtered query side) before any result is consumed — the
    returned frame is otherwise lazy as usual. Pass ``None`` to
    disable and restore a fully lazy call (caller asserts the
    broadcast size themselves).

    Returns (query_id, q_label, neighbor_id, n_label, cosine, rank).
    """
    # EXPLICIT null-label contract: an unlabeled vector cannot be
    # guaranteed a true negative, so NULL-labeled rows are excluded
    # from BOTH sides up front — without the filters the inequality
    # predicate would drop them anyway via three-valued logic, but
    # silently (a NULL-labeled query returning zero rows with no
    # signal); the filter makes the exclusion visible in the plan.
    # per-row norms hoisted out of the pair predicate (see
    # cosine_topk's note — bit-identical, halves per-pair HOF work)
    q = (
        queries.filter(F.col(label_col).isNotNull())
        .select(
            F.col(query_id).alias("query_id"),
            F.col(label_col).alias("q_label"),
            _as_double(F.col(vec_col)).alias("qv"),
        )
        .withColumn("qn", norm(F.col("qv")))
    )
    c = (
        corpus.filter(F.col(label_col).isNotNull())
        .select(
            F.col(corpus_id).alias("neighbor_id"),
            F.col(label_col).alias("n_label"),
            _as_double(F.col(vec_col)).alias("cv"),
        )
        .withColumn("cn", norm(F.col("cv")))
    )
    if max_query_rows is not None:
        # 1-row aggregate (model-sized collect) BEFORE the broadcast:
        # the filtered query side is what actually ships to every
        # executor, so it is the thing to bound. Checkpoint first so
        # the guard's pass is the same materialization the broadcast
        # reuses.
        q = q.localCheckpoint(eager=False)
        n_q = q.agg(F.count(F.lit(1)).alias("n")).collect()[0]["n"]
        if n_q > max_query_rows:
            raise ValueError(
                f"hard_negative_topk: {n_q} labeled query rows exceed "
                f"max_query_rows={max_query_rows}; the query side is "
                "broadcast to every executor, so it must stay small "
                "(contrastive mining: queries ≪ corpus). Mine in "
                "query batches, or pass max_query_rows=None after "
                "sizing the broadcast yourself"
            )
    scored = (
        c.join(
            F.broadcast(q),
            (F.col("neighbor_id") != F.col("query_id"))
            & (F.col("n_label") != F.col("q_label")),
        )
        .select(
            "query_id",
            "q_label",
            "neighbor_id",
            "n_label",
            F.round(
                dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6
            ).alias("cosine"),
        )
    )
    return _topk(scored, k)


_PLANE_SEED = 428571


def _plane_matrix(n_planes: int, dim: int, n_tables: int) -> np.ndarray:
    """Deterministic Gaussian hyperplanes (Charikar random-projection
    LSH): fixed-seed MT19937, stable across runs and machines."""
    rng = np.random.RandomState(_PLANE_SEED)
    return rng.standard_normal((n_tables, n_planes, dim))


def hyperplane_buckets_udf(n_planes: int = 8, dim: int = 64, n_tables: int = 1):
    """Vectorized bucketizer: one matmul per Arrow batch computes
    every table's sign pattern for every vector (vs. per-row codegen
    of n_tables x n_planes dot-product expressions). Returns an
    array<long> of n_tables bucket ids, table-offset so a plain
    explode+equi-join never collides across tables."""
    planes = _plane_matrix(n_planes, dim, n_tables)
    powers = (1 << np.arange(n_planes)).astype(np.int64)

    @F.pandas_udf("array<long>")
    def bucketize(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        M = np.vstack([np.asarray(x, dtype=np.float64) for x in vs])
        buckets = np.empty((len(M), n_tables), dtype=np.int64)
        for t in range(n_tables):
            proj = (M @ planes[t].T) > 0
            buckets[:, t] = proj @ powers + (np.int64(t) << n_planes)
        return pd.Series(list(buckets))

    return bucketize


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_planes: int = 6,
    dim: int = 64,
    n_tables: int = 8,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: bucket both sides by hyperplane signs in
    ``n_tables`` independent tables (amplification), equi-join on
    bucket plus one-bit-flip multi-probe on the query side, exact
    cosine within candidates only. At 100 TB the bucket joins
    replace the full cross product; recall is tunable via
    (n_planes, n_tables, probes) — fewer planes / more tables =
    higher recall, more candidates."""
    bucketize = hyperplane_buckets_udf(n_planes, dim, n_tables=n_tables)
    # per-row norms hoisted out of the candidate scorer (see
    # cosine_topk's note — bit-identical, halves per-candidate HOF
    # work; candidates repeat across tables/probes, so the saving
    # multiplies by the duplication factor)
    q = (
        queries.select(
            F.col(query_id).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
        )
        .withColumn("qn", norm(F.col("qv")))
        .withColumn("buckets", bucketize(F.col("qv")))
    )
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("cv")
    ).select(
        "neighbor_id",
        "cv",
        norm(F.col("cv")).alias("cn"),
        F.explode(bucketize(F.col("cv"))).alias("bucket"),
    )

    # multi-probe: each table's bucket + each one-bit flip within it
    probes = F.flatten(
        F.transform(
            F.col("buckets"),
            lambda b: F.array(b, *[b.bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)]),
        )
    )
    q_probed = q.select("query_id", "qv", "qn", F.explode(probes).alias("bucket"))

    scored = (
        q_probed.join(c, "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6
            ).alias("cosine"),
        )
        .distinct()
    )
    return _topk(scored, k)


def spherical_kmeans(
    df: DataFrame,
    k: int = 16,
    n_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Spherical k-means coarse quantizer (the IVF codebook): Lloyd
    iterations where assignment is argmax dot against L2-normalized
    centroids and the new centroid is the re-normalized mean.

    Distribution shape (the same one MLlib uses): centroids are a
    model parameter of size k x dim — they BELONG on the driver and
    broadcast each round; the per-round reduction is one map-side
    combinable groupBy over (cluster, dimension). No full-data
    collect anywhere. Deterministic: init picks the k corpus vectors
    with the smallest xxhash64(id) (a seeded pseudo-random sample),
    ties in assignment break to the lowest cluster id.
    """
    v = df.select(F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v"))
    init = (
        v.select("v", F.xxhash64(F.col("id").cast("string")).alias("h"))
        .orderBy("h")
        .limit(k)
        .collect()
    )
    cents = np.vstack([np.asarray(r["v"], dtype=np.float64) for r in init])
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)

    for _ in range(n_iter):
        assign = _assign_udf(cents)
        # sum of member vectors per (cluster, dim): posexplode + one
        # partial-aggregated groupBy; k*dim result rows -> driver
        sums = (
            v.withColumn("c", assign(F.col("v")))
            .select("c", F.posexplode("v").alias("pos", "x"))
            .groupBy("c", "pos")
            .agg(F.sum("x").alias("s"))
            .collect()
        )
        new = cents.copy()
        by_c: dict[int, dict[int, float]] = {}
        for r in sums:
            by_c.setdefault(r["c"], {})[r["pos"]] = r["s"]
        for c, dims in by_c.items():
            vec = np.array([dims[i] for i in range(len(dims))])
            n = np.linalg.norm(vec)
            if n > 0:
                new[c] = vec / n
        converged = np.abs(new - cents).max() < 1e-12
        cents = new
        if converged:
            # the next round would reproduce these exact centroids —
            # skipping it changes nothing but saves a full
            # assign+reduce pass per remaining iteration
            break
    return cents


def _assign_udf(centroids: np.ndarray):
    """Arrow-batched nearest-centroid assignment: one matmul per
    batch against the broadcast (closure-captured) codebook."""
    C = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)

    @F.pandas_udf("int")
    def assign(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype="int32")
        M = np.vstack([np.asarray(x, dtype=np.float64) for x in vs])
        M = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
        return pd.Series(np.argmax(M @ C.T, axis=1).astype("int32"))

    return assign


def _probe_udf(centroids: np.ndarray, n_probe: int):
    """Top-``n_probe`` nearest centroids per query vector."""
    C = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)

    @F.pandas_udf("array<int>")
    def probes(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        M = np.vstack([np.asarray(x, dtype=np.float64) for x in vs])
        M = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
        sims = M @ C.T
        order = np.argsort(-sims, kind="stable", axis=1)[:, :n_probe]
        return pd.Series([row.astype("int32").tolist() for row in order])

    return probes


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    n_iter: int = 5,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
    max_query_rows: int | None = 1_000_000,
) -> DataFrame:
    """IVF approximate top-k: spherical-k-means codebook, corpus
    vectors assigned to their nearest centroid (the inverted lists),
    each query probes its ``n_probe`` nearest lists, exact cosine
    only against those lists' members.

    The scale path complementing ``lsh_topk``: the probed query side
    (rows × n_probe — small by the IVF contract, queries ≪ corpus)
    BROADCASTS onto the corpus side, so the corpus is never shuffled
    on the k-ary cluster key at all (r15; the old equi-join shuffled
    both sides on a 16-distinct-value key, a skew magnet). Corpus
    assignment is map-side with the codebook broadcast in the UDF
    closure. Pass a precomputed ``centroids`` codebook to skip
    training (at scale: train once on a sample, reuse per query
    batch).

    ``max_query_rows`` enforces the queries ≪ corpus contract
    fail-loud (the hard_negative_topk guard, r15 ADVICE): the
    exploded probe side ships to every executor, so a corpus-sized
    ``queries`` must raise with the fix named, not OOM the broadcast.
    Like there, the guard is EAGER (one model-sized count job at call
    time); pass ``None`` to restore a fully lazy call after sizing
    the broadcast yourself.
    """
    if centroids is None:
        centroids = spherical_kmeans(
            corpus, k=n_centroids, n_iter=n_iter, id_col=corpus_id, vec_col=vec_col
        )
    assign = _assign_udf(centroids)
    probes = _probe_udf(centroids, n_probe)

    # per-row norms hoisted out of the candidate scorer (see
    # cosine_topk's note — bit-identical, halves per-candidate HOF
    # work over the inverted-list fan-out)
    c = (
        corpus.select(
            F.col(corpus_id).alias("neighbor_id"),
            _as_double(F.col(vec_col)).alias("cv"),
        )
        .withColumn("cn", norm(F.col("cv")))
        .withColumn("cluster", assign(F.col("cv")))
    )
    q = (
        queries.select(
            F.col(query_id).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
        )
        .withColumn("qn", norm(F.col("qv")))
        .withColumn("cluster", F.explode(probes(F.col("qv"))))
    )
    if max_query_rows is not None:
        # bound what actually ships (the exploded probe side) BEFORE
        # the broadcast; checkpoint so the guard's materialization is
        # the same one the broadcast reuses
        q = q.localCheckpoint(eager=False)
        n_q = q.agg(F.count(F.lit(1)).alias("n")).collect()[0]["n"]
        if n_q > max_query_rows:
            raise ValueError(
                f"ivf_topk: {n_q} probed query rows exceed "
                f"max_query_rows={max_query_rows}; the probed query side "
                "is broadcast to every executor, so it must stay small "
                "(IVF serving: queries ≪ corpus). Probe in query "
                "batches, or pass max_query_rows=None after sizing the "
                "broadcast yourself"
            )
    # the probed query side is rows x n_probe — small by the IVF
    # contract (queries ≪ corpus) — so broadcast it: the corpus side
    # (the big side) is never shuffled on the k-ary cluster key at
    # all (guide §3.1; the old equi-join shuffled BOTH sides on a
    # 16-distinct-value key — a skew magnet at any scale).
    # No dedup needed: each corpus vector lives in exactly ONE
    # inverted list (argmax assignment) and a query's probe list is
    # distinct (argsort positions), so a (query, neighbor) pair can
    # match at most once — the old .distinct() was a full shuffle
    # that provably removed nothing.
    scored = (
        c.join(F.broadcast(q), "cluster")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6
            ).alias("cosine"),
        )
    )
    return _topk(scored, k)


def embedding_near_duplicates(
    df: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 8,
    dim: int = 64,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dup pairs via LSH buckets + exact
    verify. ``n_tables`` independent plane sets amplify recall
    (a high-cosine pair crossing one hyperplane still collides in
    another table); candidates are the union over tables, verified
    once. Returns (id_a, id_b, cosine >= threshold)."""
    v = df.select(F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v"))
    bucketize = hyperplane_buckets_udf(n_planes, dim, n_tables=n_tables)
    bucketed = v.select("id", "v", F.explode(bucketize(F.col("v"))).alias("bucket"))
    a = bucketed.alias("a")
    b = bucketed.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    # per-row norms computed in the vector re-attach projections
    # instead of per verified pair (see cosine_topk's note —
    # bit-identical, halves per-pair HOF work)
    va = v.select(
        F.col("id").alias("id_a"),
        F.col("v").alias("va"),
        norm(F.col("v")).alias("na"),
    )
    vb = v.select(
        F.col("id").alias("id_b"),
        F.col("v").alias("vb"),
        norm(F.col("v")).alias("nb"),
    )
    return (
        candidates.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def semdedup(
    corpus: DataFrame,
    centroids: np.ndarray,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster_size: int | None = 100_000,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (cluster-then-dedup):
    assign every vector to its nearest codebook centroid, then inside
    each cluster drop any vector that has a same-cluster neighbor
    with cosine >= threshold and a SMALLER id (keep-first
    representative — deterministic, order-free).

    The cluster pass is the whole point at scale: the quadratic
    compare is bounded to within-cluster pairs, so the codebook size
    is the knob (pick k so the mean cluster is ~sqrt-of-corpus
    sized; the published recipe uses tens of thousands of clusters
    for web-scale corpora). The plan is one Arrow-batched assignment
    (codebook broadcast in the UDF closure, same _assign_udf the IVF
    path uses — SemDeDup clusters are IVF inverted lists) and one
    equi-join on the k-ary cluster key (AQE splits skewed clusters).
    Cross-cluster near-dups are missed BY DESIGN (the documented
    SemDeDup approximation); the exact complement is
    embedding_near_duplicates' LSH path. ``max_cluster_size`` is the
    fail-loud quadratic guard: any cluster larger than the bound
    raises before the pair join runs (pass ``None`` to disable).

    Result values depend on the float k-means codebook, so this is a
    rows-only gate (like the reduced-probe IVF configs); the operator
    is pinned by brute-force-replica unit tests instead.

    Returns (vec_id, cluster, keep) for every corpus vector.
    """
    assign = _assign_udf(centroids)
    v = (
        corpus.select(
            F.col(id_col).alias("vec_id"), _as_double(F.col(vec_col)).alias("v")
        )
        .withColumn("cluster", assign(F.col("v")))
        # per-row norm computed ONCE here instead of per candidate
        # pair inside the within-cluster filter: cosine's norm(a) /
        # norm(b) are pure functions of each row's vector, so hoisting
        # them to the (checkpointed) row is bit-identical — the pair
        # predicate below evaluates the same dot/(na*nb) expression —
        # while the per-pair interpreted-HOF work halves (2 array
        # traversals per pair instead of 4; guide §4.1: HOF lambdas
        # don't codegen, so traversal count IS the cost)
        .withColumn("n", norm(F.col("v")))
    )
    # two consumers (pair join sides + the final projection) — pin
    # the assignment so the Arrow UDF runs once
    v = v.localCheckpoint(eager=False)
    if max_cluster_size is not None:
        # quadratic guard (same fail-loud policy as
        # max_siblings / _MAX_FAT_MEMBERS): the within-cluster pair
        # join is k² in the largest cluster, so a degenerate codebook
        # — or an adversarial corpus collapsing onto one centroid —
        # must raise, not silently run all-pairs. One cheap aggregate
        # over the (already pinned) assignment; limit(3) keeps the
        # probe model-sized.
        fat = (
            v.groupBy("cluster")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > max_cluster_size)
            .orderBy(F.desc("n"))
            .limit(3)
            .collect()
        )
        if fat:
            detail = ", ".join(f"cluster {r['cluster']}: {r['n']} rows" for r in fat)
            raise ValueError(
                f"semdedup: cluster(s) exceed max_cluster_size="
                f"{max_cluster_size} ({detail}); the within-cluster "
                "compare is quadratic in cluster size — train a larger "
                "codebook (more centroids) so clusters shrink, or "
                "raise max_cluster_size explicitly if the k² cost is "
                "intended"
            )
    a, b = v.alias("a"), v.alias("b")
    dropped = (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("b.vec_id") < F.col("a.vec_id")),
        )
        .filter(
            F.round(
                dot(F.col("a.v"), F.col("b.v")) / (F.col("a.n") * F.col("b.n")), 6
            )
            >= threshold
        )
        .select(F.col("a.vec_id").alias("vec_id"))
        .distinct()
        .withColumn("__drop", F.lit(True))
    )
    return (
        v.join(dropped, "vec_id", "left")
        .select("vec_id", "cluster", F.col("__drop").isNull().alias("keep"))
        .orderBy("vec_id")
    )


def _sign_md5(tag: str) -> int:
    """+-1 from the portable md5 hash (parity of the same 60-bit
    integer DuckDB derives with ('0x' || substr(md5(tag), 1, 15)))."""
    import hashlib

    return 1 if int(hashlib.md5(tag.encode()).hexdigest()[:15], 16) % 2 == 0 else -1


def random_sign_projection(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_dims: int = 16,
    in_dims: int = 64,
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction with a +-1 sign
    matrix (Achlioptas 2003): component j = sum_i sign(j,i) * v[i].
    Returns long form (id, dim, component) — ``out_dims`` rows per
    vector.

    Deterministic end to end: the sign matrix derives from the
    portable md5 (tag "rp{j}|{i}"), and the accumulation runs in
    EXACT decimal arithmetic — a double sum would be
    summation-order-dependent and differ between engines/cluster
    sizes; decimal addition is associative, so the projection is
    bit-identical on 1 or 1000 executors AND SQL-replayable (the
    oracle recomputes the same signs from the same md5). The sign
    matrix is baked into the plan as literal arrays (out_dims x
    in_dims ints — trivially broadcast with the task binary); no
    shuffle at all, one narrow pass over the vectors.
    """
    comps = []
    for j in range(out_dims):
        signs = ",".join(
            str(_sign_md5(f"rp{j}|{i}")) for i in range(in_dims)
        )
        agg = (
            f"CAST(aggregate(zip_with({vec_col}, array({signs}), "
            f"(e, s) -> CAST(CAST(e AS DOUBLE) AS DECIMAL(18,9)) * s), "
            # accumulator stays at precision 28: a (38,9) accumulator
            # would make acc+x exceed Spark's precision-38 cap, which
            # silently REDUCES THE SCALE to 8 and rounds every
            # intermediate sum (measured 4e-8 drift over 64 adds);
            # (28,9)+(29,9) -> (30,9) stays exact
            f"CAST(0 AS DECIMAL(28,9)), "
            f"(acc, x) -> CAST(acc + x AS DECIMAL(28,9))) AS DOUBLE)"
        )
        comps.append(
            F.struct(F.lit(j).alias("dim"), F.expr(agg).alias("component"))
        )
    return df.select(
        F.col(id_col), F.explode(F.array(*comps)).alias("__p")
    ).select(id_col, F.col("__p.dim").alias("dim"), F.col("__p.component").alias("component"))


def _npy_store(spark, key: str, name: str, train) -> np.ndarray:
    """The model array ``name`` of the codebook-store entry ``key``:
    ``train(tmp)`` computes it when the entry is absent (``tmp`` is
    the entry's build dir, free for staging)."""

    def _build(tmp: str) -> None:
        os.makedirs(tmp, exist_ok=True)
        np.save(os.path.join(tmp, name), train(tmp))
        with open(os.path.join(tmp, "_COMPLETE"), "w") as f:
            f.write(key)

    return CODEBOOK.get(
        spark, key, _build, lambda final: np.load(os.path.join(final, name))
    )


def pq_train(
    df: DataFrame,
    m: int = 8,
    ks: int = 16,
    n_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Product-quantization codebooks (Jégou et al.'s PQ — the
    memory-scale half of IVF-PQ): split the embedding into ``m``
    subvectors and train an independent ``ks``-centroid L2 k-means
    per subspace. A 64-dim float64 vector (512 B) compresses to m=8
    uint8 codes — 64x less memory — which is what makes billion-scale
    ANN fit a cluster's RAM at 100 TB; search then never touches the
    raw vectors (see :func:`pq_topk`).

    Same distribution shape as :func:`spherical_kmeans`: the model
    (m x ks x dim/m floats) lives on the driver and broadcasts into
    the assignment UDF each round; the per-round reduction is ONE
    map-side-combinable groupBy over (subspace, cluster, dim) — all
    m subspaces train in the same pass, never m passes. Deterministic
    end to end: init picks the ks corpus vectors with the smallest
    xxhash64(id) (each seeding all m subspaces), assignment ties
    break to the lowest cluster id, and means are order-independent
    sums — so a retrained codebook is bit-identical and the encode /
    search outputs are pinned by pure-numpy replica tests.

    Returns codebooks of shape (m, ks, dim // m); dim must divide m.
    """
    v = df.select(F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v"))
    init = (
        v.select("v", F.xxhash64(F.col("id").cast("string")).alias("h"))
        .orderBy("h")
        .limit(ks)
        .collect()
    )
    if len(init) < ks:
        raise ValueError(
            f"pq_train: corpus has only {len(init)} vectors, fewer than "
            f"ks={ks} centroids — train on a larger corpus or lower ks "
            "(silently returning an undersized codebook would break "
            "every caller that indexes by ks)"
        )
    seed = np.vstack([np.asarray(r["v"], dtype=np.float64) for r in init])
    dim = seed.shape[1]
    if dim % m != 0:
        raise ValueError(f"pq_train: dim {dim} not divisible by m={m}")
    sub = dim // m
    # (m, ks, sub): subspace j seeded by the same ks vectors' slices
    books = np.stack([seed[:, j * sub : (j + 1) * sub] for j in range(m)])

    for _ in range(n_iter):
        enc = _pq_encode_udf(books)
        # member-sums per (subspace, cluster, dim-within-subspace):
        # explode the m codes alongside the m vector slices, then one
        # partial-aggregated groupBy; m*ks*sub result rows -> driver
        assigned = v.select(
            F.posexplode(enc(F.col("v"))).alias("sub", "c"), F.col("v")
        )
        sums = (
            assigned.select(
                "sub",
                "c",
                F.posexplode(
                    F.slice(
                        F.col("v"), F.col("sub") * sub + 1, sub
                    )
                ).alias("pos", "x"),
            )
            .groupBy("sub", "c", "pos")
            .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        new = books.copy()
        acc = np.zeros((m, ks, sub))
        cnt = np.zeros((m, ks), dtype=np.int64)
        for r in sums:
            acc[r["sub"], r["c"], r["pos"]] += r["s"]
            if r["pos"] == 0:
                cnt[r["sub"], r["c"]] = r["n"]
        for j in range(m):
            for c in range(ks):
                if cnt[j, c] > 0:
                    new[j, c] = acc[j, c] / cnt[j, c]
                # empty cluster keeps its previous centroid
        books = new
    return books


def opq_rotation(cov_rows, dim: int, m: int) -> np.ndarray:
    """OPQ-style parametric rotation (Ge et al. 2014, "Optimized
    Product Quantization" — the eigenvalue-allocation variant):
    eigendecompose the covariance, then assign principal directions
    to the ``m`` PQ subspaces so the per-subspace variance PRODUCTS
    balance (greedy on log-eigenvalue sums — the paper's
    free-parametrization recipe), and lay R's rows out so subspace j
    reads rows [j*sub, (j+1)*sub). Rotating x -> R @ x decorrelates
    and variance-balances the PQ slices, so the same (m, ks) code
    budget quantizes finer — the recall-lifting default the r14
    VERDICT ordered (task 4). R is orthonormal, so L2 distances (and
    therefore ADC semantics) are exactly preserved in rotated space.

    Driver-side pure numpy over a collected (i, j, cov) relation —
    the covariance is a model parameter (d² floats), like the
    k-means codebooks. Deterministic given its input: eigh is
    deterministic, ties are broken by the stable eigenvalue sort,
    and each eigenvector's sign is fixed by the pca_components
    convention (largest-|entry| positive)."""
    cov = np.zeros((dim, dim))
    for r in cov_rows:
        cov[r["i"], r["j"]] = r["cov"]
    lam, vecs = np.linalg.eigh(cov)  # ascending eigenvalues
    order = np.argsort(lam, kind="stable")[::-1]
    lam, vecs = lam[order], vecs[:, order]
    for i in range(dim):
        col = vecs[:, i]
        if col[np.argmax(np.abs(col))] < 0:
            vecs[:, i] = -col
    if dim % m != 0:
        raise ValueError(f"opq_rotation: dim {dim} not divisible by m={m}")
    sub = dim // m
    logs = np.log(np.maximum(lam, 1e-12))
    buckets: list[list[int]] = [[] for _ in range(m)]
    sums = [0.0] * m
    for i in range(dim):
        open_b = [j for j in range(m) if len(buckets[j]) < sub]
        j = min(open_b, key=lambda b: (sums[b], b))
        buckets[j].append(i)
        sums[j] += logs[i]
    rows = [vecs[:, i] for j in range(m) for i in buckets[j]]
    return np.vstack(rows)


def _rotate_udf(rotation: np.ndarray):
    """R @ x per Arrow batch — stages a rotated corpus for rotated
    PQ training."""
    R = np.asarray(rotation, dtype=np.float64)

    @F.pandas_udf("array<double>")
    def rot(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        M = np.vstack([np.asarray(x, dtype=np.float64) for x in vs])
        return pd.Series(list(M @ R.T))

    return rot


def _pq_encode_udf(books: np.ndarray):
    """Vectorized PQ encoder: per Arrow batch, one (N, ks) squared-L2
    distance matrix per subspace via the expanded form — argmin ties
    break to the lowest cluster id (np.argmin's contract)."""
    m, ks, sub = books.shape
    # per-subspace centroid norms, precomputed once in the closure
    c_sq = (books**2).sum(axis=2)  # (m, ks)

    @F.pandas_udf("array<int>")
    def encode(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        M = np.vstack([np.asarray(x, dtype=np.float64) for x in vs])
        n = M.shape[0]
        codes = np.empty((n, m), dtype=np.int32)
        for j in range(m):
            X = M[:, j * sub : (j + 1) * sub]
            # ||x - c||^2 = ||x||^2 - 2 x.c + ||c||^2; ||x||^2 is
            # constant per row, irrelevant to the argmin
            d = -2.0 * (X @ books[j].T) + c_sq[j]
            codes[:, j] = d.argmin(axis=1)
        return pd.Series(list(codes))

    return encode


def pq_encode(
    df: DataFrame,
    books: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, codes) — each vector's m nearest-subcentroid indices.
    One Arrow-batched pass; the codes column is the ONLY thing the
    search path ever reads (the compressed corpus representation)."""
    enc = _pq_encode_udf(books)
    return df.select(
        F.col(id_col).alias("vec_id"),
        enc(_as_double(F.col(vec_col))).alias("codes"),
    )


def pq_topk(
    codes_df: DataFrame,
    books: np.ndarray,
    query,
    k: int = 10,
    rotation: np.ndarray | None = None,
) -> DataFrame:
    """ADC (asymmetric distance computation) top-k over PQ codes: the
    query stays a FULL float vector, the corpus stays codes, and the
    per-row approximate squared-L2 distance is m table lookups into a
    per-query (m, ks) distance table — no decode, no raw-vector scan.
    The table is computed once driver-side and broadcast in the UDF
    closure; the result is a TakeOrdered top-k (never a global sort).
    Returns (vec_id, adc_dist) ascending, dist rounded to 6dp.
    """
    m, ks, sub = books.shape
    q = np.asarray(query, dtype=np.float64)
    if q.shape[0] != m * sub:
        raise ValueError(f"pq_topk: query dim {q.shape[0]} != {m * sub}")
    if rotation is not None:
        # rotate the query into the books' (OPQ) frame; R is
        # orthonormal so the ADC distances are the rotated-space L2 —
        # identical to unrotated L2 by isometry
        q = np.asarray(rotation, dtype=np.float64) @ q
    dt = np.stack(
        [
            ((books[j] - q[j * sub : (j + 1) * sub]) ** 2).sum(axis=1)
            for j in range(m)
        ]
    )  # (m, ks)

    @F.pandas_udf("double")
    def adc(codes: pd.Series) -> pd.Series:
        if len(codes) == 0:
            return pd.Series([], dtype=float)
        C = np.vstack([np.asarray(c, dtype=np.int64) for c in codes])
        return pd.Series(dt[np.arange(m), C].sum(axis=1))

    return (
        codes_df.select("vec_id", F.round(adc(F.col("codes")), 6).alias("adc_dist"))
        .orderBy(F.asc("adc_dist"), F.asc("vec_id"))
        .limit(k)
    )


def _ivfpq_encode_udf(
    centroids: np.ndarray,
    books: np.ndarray,
    rotation: np.ndarray | None = None,
):
    """(cluster, codes) in ONE Arrow pass: the coarse assignment and
    the PQ codes of x itself."""
    C = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    m, ks, sub = books.shape
    c_sq = (books**2).sum(axis=2)  # (m, ks)
    R = None if rotation is None else np.asarray(rotation, dtype=np.float64)

    @F.pandas_udf("struct<cluster:int, codes:array<int>>")
    def enc(vs: pd.Series) -> pd.DataFrame:
        if len(vs) == 0:
            return pd.DataFrame({"cluster": pd.Series([], dtype="int32"),
                                 "codes": pd.Series([], dtype=object)})
        M = np.vstack([np.asarray(x, dtype=np.float64) for x in vs])
        Mn = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
        cl = np.argmax(Mn @ C.T, axis=1)
        # OPQ: coarse assignment stays in the original frame (the
        # coarse codebook is raw-space); only the PQ-quantized vector
        # rotates — the books were trained on R X
        X = M if R is None else M @ R.T
        n = X.shape[0]
        codes = np.empty((n, m), dtype=np.int32)
        for j in range(m):
            Xj = X[:, j * sub : (j + 1) * sub]
            d = -2.0 * (Xj @ books[j].T) + c_sq[j]
            codes[:, j] = d.argmin(axis=1)
        return pd.DataFrame(
            {"cluster": cl.astype("int32"), "codes": list(codes)}
        )

    return enc


def ivf_pq_index(
    corpus: DataFrame,
    centroids: np.ndarray,
    books: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rotation: np.ndarray | None = None,
) -> DataFrame:
    """The IVF-PQ index relation (vec_id, cluster, codes): each
    vector's nearest coarse centroid (the inverted-list key) plus its
    PQ codes — the composition of the IVF and PQ halves (r12 VERDICT
    task 4) and the actual billion-vector serving shape: the index
    holds NO raw vectors (m small ints per row), the cluster column
    is the pruning key, and both assignments run in ONE Arrow pass
    (one combined struct-returning pandas UDF). Write it
    ``partitionBy("cluster")`` (see :func:`get_ivf_pq_index`) and a
    probed query reads only n_probe/n_centroids of the files.

    ``rotation`` (OPQ) is stamped into the ``codes`` column metadata
    (Spark persists StructField metadata in the parquet footer, so it
    survives the persistent entry) — ivf_pq_topk validates it, turning
    a search in the wrong frame from silently-wrong ADC distances into
    a loud error."""
    enc = _ivfpq_encode_udf(centroids, books, rotation)
    return (
        corpus.select(
            F.col(id_col).alias("vec_id"), _as_double(F.col(vec_col)).alias("v")
        )
        .select("vec_id", enc(F.col("v")).alias("__e"))
        .select(
            "vec_id",
            F.col("__e.cluster").alias("cluster"),
            F.col("__e.codes").alias(
                "codes",
                metadata={"ivfpq_rotate": rotation is not None},
            ),
        )
    )


def ivf_pq_topk(
    index: DataFrame,
    centroids: np.ndarray,
    books: np.ndarray,
    query,
    k: int = 10,
    n_probe: int = 4,
    rotation: np.ndarray | None = None,
) -> DataFrame:
    """IVF-ADC top-k: coarse-probe then ADC, never a full-corpus
    scan. The query (a full float vector, asymmetric by design)
    picks its ``n_probe`` nearest coarse centroids DRIVER-side (the
    codebook is a model parameter, k x dim), the index is filtered to
    those clusters — an isin over the partition column, so a
    partitioned index prunes to n_probe/n_centroids of its files
    before any Python runs — and the distance-table ADC scores only
    the surviving codes. With ``n_probe == n_centroids`` this is
    EXACTLY pq_topk over the whole index (the identity the tests
    pin); smaller n_probe trades recall for a proportional scan cut,
    the knob billion-vector serving actually turns.

    The codes are of x itself (raw IVF-PQ). The residual variant
    (Jégou IVF-ADC: encode x - centroid[c], one distance table per
    probed cluster) was measured and removed: it won recall@20 only
    on near-isotropic planted clusters (0.25 vs 0.19,
    BENCH_vecrecall_r14.json), lost on make_sf's sf1 vectors (0.45
    vs 0.55) and collapsed on anisotropic ones (0.05-0.12 vs
    0.22-0.23, BENCH_vecrecall_r15aniso/axis), and no gate served it.

    ``rotation`` (OPQ, r14 VERDICT task 4) searches an index encoded
    under :func:`opq_rotation`'s R — must match the index's encoding
    (metadata-validated). MEASURED across three fixture regimes
    (BENCH_vecrecall_r15{,aniso,axis}, m=8/ks=16/d=64): rotation
    never lifted the raw arm, so ``rotation=None`` stays the
    default; the machinery is the opt-in for corpora whose own
    measurement says otherwise.

    Returns (vec_id, adc_dist) ascending, dist rounded to 6dp.
    """
    n_cent = centroids.shape[0]
    if not 1 <= n_probe <= n_cent:
        raise ValueError(
            f"ivf_pq_topk: n_probe={n_probe} outside [1, {n_cent}]"
        )
    # indexes built by ivf_pq_index carry their OPQ flag in the codes
    # column metadata (persisted through parquet) — a mismatched frame
    # would otherwise return silently-wrong ADC distances. Indexes from
    # other producers (no marker) skip the check.
    if "codes" in index.columns:
        meta = index.schema["codes"].metadata or {}
        rmark = meta.get("ivfpq_rotate")
        if rmark is not None and bool(rmark) != (rotation is not None):
            raise ValueError(
                f"ivf_pq_topk: rotation {'supplied' if rotation is not None else 'absent'} "
                f"but the index was encoded with rotate={bool(rmark)} — the "
                "OPQ frame must match the encoding; search with the same "
                "rotation the index was built under (or rebuild)"
            )
    C = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    q = np.asarray(query, dtype=np.float64)
    qn = q / max(np.linalg.norm(q), 1e-12)
    order = np.argsort(-(C @ qn), kind="stable")[:n_probe]
    probed = [int(c) for c in order]
    pruned = index.filter(F.col("cluster").isin(probed)).select("vec_id", "codes")
    return pq_topk(pruned, books, q, k=k, rotation=rotation)


def get_ivf_pq_index(
    spark,
    src_path: str,
    n_centroids: int = 16,
    m: int = 8,
    ks: int = 16,
    n_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rotate: bool = False,
) -> DataFrame:
    """Content-keyed PERSISTENT IVF-PQ index for ``src_path``:
    parquet PARTITIONED BY cluster, so ivf_pq_topk's probe filter is
    partition PRUNING (a probed query opens n_probe directories, not
    the corpus). Models come from the same persistent caches the
    halves use (get_codebook / get_pq_codebooks — both deterministic,
    so attached == rebuilt bit-identically); the encode pass runs
    once per (input, code, params) and every later session attaches.
    This is the build-once/serve-many artifact shape of a production
    vector index at 100 TB: raw vectors stay in the source table,
    the serving index is m ints + a partition key per vector."""
    key = _ivfpq_key(
        src_path, n_centroids, m, ks, n_iter, id_col, vec_col, rotate=rotate
    )

    def _build(tmp: str) -> None:
        cents = get_codebook(
            spark, src_path, k=n_centroids, n_iter=n_iter,
            id_col=id_col, vec_col=vec_col,
        )
        R = (
            get_opq_rotation(
                spark, src_path, m=m, id_col=id_col, vec_col=vec_col
            )
            if rotate
            else None
        )
        books = get_pq_codebooks(
            spark, src_path, m=m, ks=ks, n_iter=n_iter,
            id_col=id_col, vec_col=vec_col, rotate=rotate,
        )
        ivf_pq_index(
            spark.read.parquet(src_path), cents, books,
            id_col=id_col, vec_col=vec_col, rotation=R,
        ).write.mode("overwrite").partitionBy("cluster").parquet(f"{tmp}/index")
        with open(os.path.join(tmp, "_COMPLETE"), "w") as f:
            f.write(key)

    return CODEBOOK.get(
        spark,
        key,
        _build,
        lambda final: read_tables(spark, final, ("index",))["index"],
    )


def _ivfpq_key(
    src_path: str,
    n_centroids: int,
    m: int,
    ks: int,
    n_iter: int,
    id_col: str,
    vec_col: str,
    rotate: bool = False,
) -> str:
    """THE content key of an IVF-PQ index entry (the
    _minhash_store_key discipline). ``rotate`` is part of the key: a
    rotated index and a raw one are DIFFERENT artifacts whose codes
    mean different things, so they must never share an entry."""
    extra = f"c{n_centroids}_m{m}_ks{ks}_i{n_iter}_{id_col}_{vec_col}"
    if rotate:
        extra = f"{extra}_opq"
    return content_key("ivfpq", src_path, __file__, extra=extra)


def _embedding_covariance_fast(df: DataFrame, vec_col: str) -> DataFrame:
    """Double-precision covariance: per-Arrow-batch partial Gram
    matrices (one ``M.T @ M`` per batch, the BLAS path) reduced by a
    batch-count-sized aggregation — the production serving shape. The
    d²-per-VECTOR explode of the exact path exists only for decimal
    order-independence; here each batch of b vectors contributes ONE
    row carrying (n, Σx, Gram) and everything after the scan is
    #batches × d² rows, not n × d². Output schema and 6dp rounding
    match the exact path; values differ only by float summation order
    (replica-tested tolerance 2e-6). NULL vectors are excluded up
    front (no vector, no evidence) — the same contract as the exact
    path, pinned by a shared test."""
    v = df.select(_as_double(F.col(vec_col)).alias("v")).filter(
        F.col("v").isNotNull()
    )
    first = v.head(1)
    if not first:
        raise ValueError(
            "embedding_covariance: zero vectors — no covariance to "
            "estimate; fix the input relation"
        )
    d = len(first[0]["v"])

    def partials(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            M = np.vstack(
                [np.asarray(x, dtype=np.float64) for x in pdf["v"]]
            )
            yield pd.DataFrame(
                {
                    "n": [M.shape[0]],
                    "s": [M.sum(axis=0)],
                    "g": [(M.T @ M).ravel()],
                }
            )

    # three consumers (n, Σx, Gram) of a CORPUS-priced computation —
    # this is the expensive-recomputation case the checkpoint rule is
    # for (unlike the exact path's mirror, where ReuseExchange serves
    # both branches from one aggregation)
    parts = v.mapInPandas(
        partials, "n long, s array<double>, g array<double>"
    ).localCheckpoint(eager=False)
    n_tot = parts.agg(F.sum("n").cast("double").alias("nn"))
    sums = (
        parts.select(F.posexplode("s").alias("i", "sv"))
        .groupBy("i")
        .agg(F.sum("sv").alias("si"))
    )
    sums_j = sums.select(F.col("i").alias("j"), F.col("si").alias("sj"))
    gram = (
        parts.select(F.posexplode("g").alias("idx", "gv"))
        .groupBy("idx")
        .agg(F.sum("gv").alias("gij"))
        .select(
            F.expr(f"cast(idx div {d} as int)").alias("i"),
            F.expr(f"cast(idx % {d} as int)").alias("j"),
            "gij",
        )
    )
    return (
        gram.join(F.broadcast(sums), "i")
        .join(F.broadcast(sums_j), "j")
        .crossJoin(F.broadcast(n_tot))
        .select(
            "i",
            "j",
            F.round(
                (F.col("gij") - F.col("si") * F.col("sj") / F.col("nn"))
                / F.col("nn"),
                6,
            ).alias("cov"),
        )
        .orderBy("i", "j")
    )


def embedding_covariance(
    df: DataFrame,
    vec_col: str = "embedding",
    exact: bool = True,
) -> DataFrame:
    """Exact population covariance matrix of an embedding column,
    as (i, j, cov) rows — the statistics bedrock under PCA
    whitening / dimensionality reduction for an embedding corpus
    (the rotation PQ-style quantizers want applied first, and the
    standard diagnostic for collapsed/anisotropic embedding spaces).

    Fully SQL-replayable by the lm_quality discipline: every product
    x_i*x_j (and every coordinate, for the means) is round(·, 9) then
    cast DECIMAL(18,9) BEFORE summing, so the reductions are
    order-independent integer arithmetic and a DuckDB replay matches
    bit-for-bit; the final cov = (S_ij - S_i*S_j/n)/n assembles in
    double from those exact sums and rounds at 6dp.

    Plan shape: one scan, two sequential posexplodes (d, then d² rows
    per vector — all JVM-side codegen, no Python), one map-side-
    combinable groupBy per reduction. d² rows per vector is the
    honest cost of an exact Gram at any scale; at 100 TB you'd run it
    on a deterministic sample (the gate does: vec_id % 5 == 0), which
    changes the input relation, not this plan.

    ``exact=False`` is the PRODUCTION path: double sums via
    per-Arrow-batch partial Grams (one BLAS matmul per batch, no
    per-vector d² explode — see :func:`_embedding_covariance_fast`),
    same output schema and rounding, values within float summation
    noise of the exact path (tolerance-pinned). The decimal-exact
    default exists for the DuckDB oracle twin; serve with the fast
    path (measured ~3-5x cheaper at sf1) unless you need bit-exact
    replayability.

    NOTE (laziness contract, r14 VERDICT task 8): the exact path runs
    an eager ``v.count()`` at PLAN-CONSTRUCTION time (one count job
    over the null-filtered vectors) because n feeds the plan as a
    literal — the same documented eagerness as psi/ks's non-empty
    guard. Callers composing lazy pipelines should build this plan
    once and reuse it; the fast path (``exact=False``) is fully lazy.
    """
    if not exact:
        return _embedding_covariance_fast(df, vec_col)
    # NULL vectors are EXCLUDED (no vector, no evidence) — without the
    # filter they would silently deflate every covariance through n
    # (posexplode drops them from the sums but count() kept them),
    # and the fast path would crash on np.asarray(None) instead of
    # agreeing; both paths share this contract (tolerance test)
    v = df.select(_as_double(F.col(vec_col)).alias("v")).filter(
        F.col("v").isNotNull()
    )
    e1 = v.select(F.posexplode("v").alias("i", "xi"), F.col("v"))
    n = v.count()
    if n == 0:
        raise ValueError(
            "embedding_covariance: zero vectors — no covariance to "
            "estimate; fix the input relation"
        )
    dec = lambda c: F.round(c, 9).cast("decimal(18,9)")  # noqa: E731
    sums_i = (
        e1.select("i", dec(F.col("xi")).alias("__xi"))
        .groupBy("i")
        .agg(F.sum("__xi").alias("si"))
    )
    # the matrix is symmetric — sum products only for the upper
    # triangle (i <= j, halving the d² explode-and-aggregate work)
    # and mirror the finished cov rows; the mirrored (j, i) value is
    # the SAME double, so the full-matrix output (and its oracle)
    # is unchanged
    pairs = (
        e1.select("i", "xi", F.posexplode("v").alias("j", "xj"))
        .filter(F.col("i") <= F.col("j"))
        .select("i", "j", dec(F.col("xi") * F.col("xj")).alias("__p"))
    )
    sums_ij = pairs.groupBy("i", "j").agg(F.sum("__p").alias("sij"))
    sj = sums_i.select(F.col("i").alias("j"), F.col("si").alias("sj"))
    nn = F.lit(float(n))
    upper = (
        sums_ij.join(F.broadcast(sums_i), "i")
        .join(F.broadcast(sj), "j")
        .select(
            "i",
            "j",
            F.round(
                (
                    F.col("sij").cast("double")
                    - F.col("si").cast("double") * F.col("sj").cast("double") / nn
                )
                / nn,
                6,
            ).alias("cov"),
        )
    )
    # NO localCheckpoint here despite the two consumers: the union's
    # branches share one identical aggregation subplan, and Catalyst's
    # ReuseExchange serves both from a single execution — measured
    # 0.75s vs 7.3s WITH a lazy checkpoint at sf1 (the RDD
    # materialization path costs far more than the 4096-row reuse
    # saves; the multi-consumer-checkpoint rule applies to EXPENSIVE
    # recomputation, which exchange reuse already prevents here)
    mirror = upper.filter(F.col("i") < F.col("j")).select(
        F.col("j").alias("i"), F.col("i").alias("j"), "cov"
    )
    return upper.unionByName(mirror).orderBy("i", "j")


def pca_components(cov_rows, dim: int, k: int = 8) -> tuple:
    """Driver-side eigendecomposition of a collected (i, j, cov)
    relation — the covariance matrix is a MODEL PARAMETER (d², a few
    thousand doubles), exactly like the k-means and PQ codebooks, so
    collecting it is the documented model-sized exception to the
    no-collect rule. Returns (components, explained) — (k, d) top
    eigenvectors by descending eigenvalue and their explained-
    variance ratios. Deterministic sign convention: each component's
    largest-|entry| coordinate is made positive (eigh's sign is
    otherwise arbitrary), ties broken by the lower index winning via
    argmax's contract."""
    C = np.zeros((dim, dim))
    for r in cov_rows:
        C[r["i"], r["j"]] = r["cov"]
    C = (C + C.T) / 2.0  # symmetrize 6dp rounding noise
    vals, vecs = np.linalg.eigh(C)
    order = np.argsort(-vals, kind="stable")[:k]
    comps = vecs[:, order].T.copy()  # (k, d)
    for row in comps:
        if row[np.argmax(np.abs(row))] < 0:
            row *= -1.0
    total = float(vals.sum()) or 1.0
    explained = (vals[order] / total).astype(float)
    return comps, explained


def pca_project(
    df: DataFrame,
    components: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Project vectors onto PCA components: one Arrow-batched matmul
    per batch against the broadcast (closure-captured) component
    matrix — the same serving shape as the PQ encoder. Returns
    (vec_id, proj array<double>)."""
    P = np.asarray(components, dtype=np.float64)

    @F.pandas_udf("array<double>")
    def proj(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        M = np.vstack([np.asarray(x, dtype=np.float64) for x in vs])
        return pd.Series(list(M @ P.T))

    return df.select(
        F.col(id_col).alias("vec_id"),
        proj(_as_double(F.col(vec_col))).alias("proj"),
    )


def get_codebook(
    spark,
    src_path: str,
    k: int = 16,
    n_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Content-keyed PERSISTENT spherical-k-means codebook for
    ``src_path`` — the trained-model artifact of the IVF index,
    following the same build-once/attach-many contract as the graph
    store and BM25 index (shared cache_util machinery: atomic
    publish, stale-sibling pruning, mtime lease). spherical_kmeans is
    fully deterministic (hash-seeded init, lowest-id tie-breaks), so
    an attached codebook is bit-identical to a retrained one; gates
    and repeated sessions share one training run instead of each
    paying ~5 Lloyd iterations over the corpus. Key = input file
    identity + this module's import closure + (k, n_iter). The training corpus
    is read FROM src_path inside the build (like get_minhash_store)
    — the key names the input, so the trained artifact must be a
    function of that input alone, never of a caller-supplied frame
    that might not match it."""
    key = content_key(
        "cb", src_path, __file__, extra=f"k{k}_i{n_iter}_{id_col}_{vec_col}"
    )
    return _npy_store(
        spark,
        key,
        "codebook.npy",
        lambda tmp: spherical_kmeans(
            spark.read.parquet(src_path),
            k=k,
            n_iter=n_iter,
            id_col=id_col,
            vec_col=vec_col,
        ),
    )


def get_opq_rotation(
    spark,
    src_path: str,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Content-keyed PERSISTENT OPQ rotation matrix for ``src_path``
    (see :func:`opq_rotation`): built from the EXACT decimal-summed
    covariance of the corpus (order-independent reductions, so a
    rebuild is bit-identical to the attach — the codebook
    determinism contract; the float fast path would drift at 1e-15
    across partitionings and break attached == retrained). The d x d
    matrix is a model parameter like the k-means codebooks: .npy in
    the shared codebook cache root."""
    key = content_key("opqrot", src_path, __file__, extra=f"m{m}_{id_col}_{vec_col}")

    def _train(tmp: str) -> np.ndarray:
        emb = spark.read.parquet(src_path).select(
            F.col(id_col), F.col(vec_col)
        )
        cov_rows = embedding_covariance(emb, vec_col=vec_col).collect()
        first = emb.select(_as_double(F.col(vec_col)).alias("v")).filter(
            F.col("v").isNotNull()
        ).head(1)
        return opq_rotation(cov_rows, dim=len(first[0]["v"]), m=m)

    return _npy_store(spark, key, "opq_rotation.npy", _train)


def get_pq_codebooks(
    spark,
    src_path: str,
    m: int = 8,
    ks: int = 16,
    n_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rotate: bool = False,
) -> np.ndarray:
    """Content-keyed PERSISTENT PQ codebooks for ``src_path`` — the
    trained-model artifact of the PQ index, sharing the IVF
    codebook's cache root and contract (pq_train is deterministic,
    so attached == retrained bit-identically). ``rotate=True`` trains
    the books on the OPQ-rotated corpus (R from
    :func:`get_opq_rotation`; flag in the content key — rotated and
    raw books are different artifacts)."""
    key = content_key(
        "pqcb",
        src_path,
        __file__,
        extra=f"m{m}_ks{ks}_i{n_iter}_{id_col}_{vec_col}"
        + ("_opq" if rotate else ""),
    )

    def _train(tmp: str) -> np.ndarray:
        src = spark.read.parquet(src_path)
        if rotate:
            R = get_opq_rotation(
                spark, src_path, m=m, id_col=id_col, vec_col=vec_col
            )
            # stage the rotated frame once: pq_train scans its input
            # n_iter+1 times (init + one reduce per Lloyd round)
            rot = _rotate_udf(R)
            src.select(
                F.col(id_col),
                rot(_as_double(F.col(vec_col))).alias(vec_col),
            ).write.mode("overwrite").parquet(f"{tmp}/rotated")
            src = spark.read.parquet(f"{tmp}/rotated")
        books = pq_train(
            src,
            m=m,
            ks=ks,
            n_iter=n_iter,
            id_col=id_col,
            vec_col=vec_col,
        )
        if rotate:
            import shutil as _sh

            _sh.rmtree(f"{tmp}/rotated", ignore_errors=True)
        return books

    return _npy_store(spark, key, "pq_codebooks.npy", _train)
