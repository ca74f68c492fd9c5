"""Similarity-search operator tests with planted vectors."""

from __future__ import annotations

import math

import pytest

from xml_to_sqlite3_spark.cache_util import CODEBOOK
from xml_to_sqlite3_spark.operators import similarity as S

DIM = 8


def _vec(seed: int, flip: float = 0.0):
    # deterministic pseudo-vector
    v = [math.sin(seed * 13.7 + i * 2.3) for i in range(DIM)]
    if flip:
        v[0] += flip
    return v


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [(i, _vec(i)) for i in range(20)]
    # near-dup of vec 1: cosine ~0.9991, above vec 12's ~0.9959 (the
    # closest unrelated vector) and below 1.0 at 6-decimal rounding
    rows.append((100, _vec(1, flip=0.1)))
    rows.append((101, _vec(1)))  # exact dup of vec 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_cosine_topk_exact_dup_first(vectors):
    out = S.cosine_topk(
        vectors.filter("vec_id = 1"), vectors, k=3, vec_col="embedding"
    ).collect()
    assert [r["neighbor_id"] for r in out][:2] == [101, 100]
    assert out[0]["cosine"] == pytest.approx(1.0)
    assert out[0]["rank"] == 1


def test_cosine_topk_excludes_self(vectors):
    out = S.cosine_topk(vectors, vectors, k=3, vec_col="embedding").collect()
    assert all(r["neighbor_id"] != r["query_id"] for r in out)
    per_query = {}
    for r in out:
        per_query.setdefault(r["query_id"], []).append(r["rank"])
    assert all(ranks == [1, 2, 3] for ranks in per_query.values())


def test_lsh_topk_recall_of_planted_dups(vectors):
    out = S.lsh_topk(
        vectors.filter("vec_id = 1"), vectors, k=3, n_planes=6, dim=DIM
    ).collect()
    # exact/near dup land in the same bucket by construction
    ids = [r["neighbor_id"] for r in out]
    assert 101 in ids and 100 in ids


def test_ivf_topk_recall_of_planted_dups(vectors):
    out = S.ivf_topk(
        vectors.filter("vec_id = 1"), vectors, k=3, n_centroids=4, n_probe=2
    ).collect()
    ids = [r["neighbor_id"] for r in out]
    # the exact dup is in the same inverted list as its query by
    # construction; near-dup within 2 probes
    assert 101 in ids and 100 in ids


def test_ivf_topk_high_probe_matches_exact(vectors):
    """Probing every list makes IVF exhaustive — must equal the
    brute-force top-k exactly."""
    exact = S.cosine_topk(vectors, vectors, k=3).collect()
    ivf = S.ivf_topk(vectors, vectors, k=3, n_centroids=4, n_probe=4).collect()
    key = lambda rows: sorted((r["query_id"], r["rank"], r["neighbor_id"]) for r in rows)
    assert key(ivf) == key(exact)


def test_spherical_kmeans_deterministic(vectors):
    import numpy as np

    c1 = S.spherical_kmeans(vectors, k=4, n_iter=3)
    c2 = S.spherical_kmeans(vectors, k=4, n_iter=3)
    assert np.allclose(c1, c2)
    assert np.allclose(np.linalg.norm(c1, axis=1), 1.0)


def test_embedding_near_duplicates(vectors):
    pairs = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in S.embedding_near_duplicates(
            vectors, threshold=0.95, n_planes=6, dim=DIM, id_col="vec_id"
        ).collect()
    }
    assert (1, 101) in pairs and pairs[(1, 101)] == pytest.approx(1.0)
    assert (1, 100) in pairs
    assert (100, 101) in pairs


def test_random_sign_projection_exact_and_jl(spark):
    """Components equal an independent python decimal model, and the
    projection roughly preserves pairwise distance ordering (JL)."""
    import hashlib
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    from xml_to_sqlite3_spark.operators.similarity import random_sign_projection

    rng = np.random.RandomState(7)
    vecs = rng.randn(6, 8).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(6)],
        "vec_id long, embedding array<float>",
    )
    out = random_sign_projection(df, out_dims=4, in_dims=8)
    got = {(r["vec_id"], r["dim"]): r["component"] for r in out.collect()}

    def sign(j, i):
        return 1 if int(hashlib.md5(f"rp{j}|{i}".encode()).hexdigest()[:15], 16) % 2 == 0 else -1

    q = Decimal("0.000000001")
    for v in range(6):
        for j in range(4):
            want = float(
                sum(
                    Decimal(repr(float(np.float64(vecs[v][i])))).quantize(q, ROUND_HALF_UP)
                    * sign(j, i)
                    for i in range(8)
                )
            )
            assert got[(v, j)] == want, (v, j, got[(v, j)], want)


def test_codebook_cache_attach_identical(spark, tmp_path, monkeypatch):
    import numpy as np

    from xml_to_sqlite3_spark.operators import similarity as S

    monkeypatch.setenv("SPARK_GRAFT_CODEBOOK_CACHE", str(tmp_path / "cb"))
    sf = "/root/testdata/sf0.001"
    path = f"{sf}/embeddings.parquet"
    built = S.get_codebook(spark, path, k=4, n_iter=2)
    # drop the in-session memo: the next call must ATTACH from disk —
    # pin it by poisoning the trainer (a silent retrain would raise)
    CODEBOOK.memo.clear()

    def _boom(*a, **kw):
        raise AssertionError("retrain attempted — attach contract broken")

    with monkeypatch.context() as mp:
        mp.setattr(S, "spherical_kmeans", _boom)
        attached = S.get_codebook(spark, path, k=4, n_iter=2)
    assert np.array_equal(built, attached)
    CODEBOOK.clear()


class TestHardNegatives:
    @pytest.fixture(scope="class")
    def labeled(self, spark):
        # two classes; vec 100/101 are near/exact dups of vec 1 but in
        # the OPPOSITE class -> they are exactly the hard negatives
        rows = [(i, _vec(i), i % 2) for i in range(20)]
        rows.append((100, _vec(1, flip=0.1), 0))
        rows.append((101, _vec(1), 0))
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>, label int"
        )

    def test_oversized_query_side_raises_not_broadcast(self, labeled):
        # the query side ships to every executor; a corpus-sized
        # queries frame must fail loudly, not OOM the broadcast
        # (r11 VERDICT item 3)
        with pytest.raises(ValueError, match="max_query_rows"):
            S.hard_negative_topk(labeled, labeled, k=2, max_query_rows=10)
        # disabling the guard restores the old behavior
        assert (
            S.hard_negative_topk(
                labeled, labeled, k=2, max_query_rows=None
            ).count()
            > 0
        )

    def test_negatives_have_different_label(self, labeled):
        out = S.hard_negative_topk(
            labeled.filter("vec_id < 6"), labeled, k=3
        ).collect()
        assert len(out) == 6 * 3
        for r in out:
            assert r["n_label"] != r["q_label"]
            assert r["neighbor_id"] != r["query_id"]

    def test_hardest_negative_is_the_cross_class_dup(self, labeled):
        # vec 1 has label 1; its exact dup 101 and near-dup 100 have
        # label 0, so they must rank 1 and 2 among its negatives
        out = S.hard_negative_topk(
            labeled.filter("vec_id = 1"), labeled, k=3
        ).collect()
        assert [r["neighbor_id"] for r in out][:2] == [101, 100]
        assert out[0]["cosine"] == pytest.approx(1.0)

    def test_matches_numpy_brute_force(self, labeled):
        import numpy as np

        rows = labeled.collect()
        vecs = {r["vec_id"]: np.array(r["embedding"]) for r in rows}
        labels = {r["vec_id"]: r["label"] for r in rows}
        out = S.hard_negative_topk(labeled.filter("vec_id = 4"), labeled, k=5)
        got = [(r["neighbor_id"], r["cosine"]) for r in out.collect()]
        q = vecs[4]
        cands = sorted(
            (
                (
                    -round(
                        float(
                            v @ q / (np.linalg.norm(v) * np.linalg.norm(q))
                        ),
                        6,
                    ),
                    i,
                )
                for i, v in vecs.items()
                if i != 4 and labels[i] != labels[4]
            ),
        )[:5]
        assert [(i, -c) for c, i in cands] == [
            (i, pytest.approx(c)) for i, c in got
        ]


class TestSemDeDup:
    def test_keep_first_within_cluster(self, spark):
        import numpy as np

        # hand centroids: axis-aligned; vecs 1/2/3 cluster on axis 0
        # (2 and 3 duplicate 1 -> dropped), vec 10 alone on axis 1
        cents = np.eye(2)
        df = spark.createDataFrame(
            [
                (1, [1.0, 0.1]),
                (2, [1.0, 0.1]),       # exact dup of 1 -> dropped
                (3, [1.0, 0.12]),      # near dup of 1 -> dropped
                (10, [0.1, 1.0]),
            ],
            "vec_id long, embedding array<double>",
        )
        out = {r["vec_id"]: r for r in S.semdedup(df, cents, threshold=0.99).collect()}
        assert out[1]["keep"] is True
        assert out[2]["keep"] is False
        assert out[3]["keep"] is False
        assert out[10]["keep"] is True
        assert out[1]["cluster"] == out[2]["cluster"] == out[3]["cluster"]
        assert out[10]["cluster"] != out[1]["cluster"]

    def test_fat_cluster_raises_not_quadratic(self, spark):
        import numpy as np

        # a degenerate codebook collapses every vector onto one
        # centroid -> the within-cluster join would be all-pairs; the
        # guard must raise BEFORE it runs (r11 VERDICT item 2)
        cents = np.eye(2)
        df = spark.createDataFrame(
            [(i, [1.0, float(i) / 100.0]) for i in range(8)],
            "vec_id long, embedding array<double>",
        )
        with pytest.raises(ValueError, match="max_cluster_size"):
            S.semdedup(df, cents, threshold=0.99, max_cluster_size=5)
        # under the bound (or disabled) it runs fine
        assert S.semdedup(df, cents, threshold=0.99, max_cluster_size=8).count() == 8
        assert S.semdedup(df, cents, threshold=0.99, max_cluster_size=None).count() == 8

    def test_cross_cluster_dup_kept_by_design(self, spark):
        import numpy as np

        # a/b are near-identical but straddle the centroid boundary:
        # the documented SemDeDup approximation keeps both
        cents = np.eye(2)
        df = spark.createDataFrame(
            [(1, [1.0, 0.99]), (2, [0.99, 1.0])],
            "vec_id long, embedding array<double>",
        )
        out = {r["vec_id"]: r for r in S.semdedup(df, cents, threshold=0.9).collect()}
        assert out[1]["cluster"] != out[2]["cluster"]
        assert out[1]["keep"] is True and out[2]["keep"] is True

    def test_matches_python_replica(self, spark):
        import numpy as np

        rng_vecs = [(i, _vec(i)) for i in range(25)]
        rng_vecs += [(100 + i, _vec(i, flip=0.05)) for i in range(6)]
        df = spark.createDataFrame(
            rng_vecs, "vec_id long, embedding array<double>"
        )
        cents = S.spherical_kmeans(df, k=4, n_iter=3)
        got = {r["vec_id"]: r for r in S.semdedup(df, cents, threshold=0.98).collect()}

        C = cents / np.linalg.norm(cents, axis=1, keepdims=True)
        vecs = {i: np.asarray(v, dtype=np.float64) for i, v in rng_vecs}
        def assign(v):
            u = v / max(np.linalg.norm(v), 1e-12)
            return int(np.argmax(u @ C.T))
        clusters = {i: assign(v) for i, v in vecs.items()}
        for i, v in vecs.items():
            assert got[i]["cluster"] == clusters[i]
            drop = any(
                j < i
                and clusters[j] == clusters[i]
                and round(
                    float(
                        vecs[j] @ v / (np.linalg.norm(vecs[j]) * np.linalg.norm(v))
                    ),
                    6,
                )
                >= 0.98
                for j in vecs
            )
            assert got[i]["keep"] is (not drop), i


def test_hard_negatives_null_labels_excluded_loudly(spark):
    # NULL-labeled rows are excluded from BOTH sides by the explicit
    # contract (review finding: three-valued logic dropped them
    # silently before; the filter makes the plan show it)
    df = spark.createDataFrame(
        [
            (1, _vec(1), 0),
            (2, _vec(2), 1),
            (3, _vec(3), None),   # unlabeled corpus row: never a candidate
            (4, _vec(4), None),   # unlabeled query: no output rows
        ],
        "vec_id long, embedding array<double>, label int",
    )
    out = S.hard_negative_topk(df.filter("vec_id in (1, 4)"), df, k=5).collect()
    assert all(r["query_id"] == 1 for r in out)
    assert all(r["neighbor_id"] == 2 for r in out)


class TestProductQuantization:
    @pytest.fixture(scope="class")
    def pq_corpus(self, spark):
        rows = [(i, _vec(i)) for i in range(40)]
        rows.append((200, _vec(3)))  # exact dup of vec 3
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def test_train_shape_and_determinism(self, pq_corpus):
        b1 = S.pq_train(pq_corpus, m=4, ks=8, n_iter=3)
        b2 = S.pq_train(pq_corpus, m=4, ks=8, n_iter=3)
        import numpy as np

        assert b1.shape == (4, 8, DIM // 4)
        assert np.array_equal(b1, b2)

    def test_encode_matches_numpy_replica(self, pq_corpus):
        import numpy as np

        books = S.pq_train(pq_corpus, m=4, ks=8, n_iter=2)
        got = {r["vec_id"]: list(r["codes"]) for r in S.pq_encode(pq_corpus, books).collect()}
        m, ks, sub = books.shape
        for vid, vec in [(i, _vec(i)) for i in range(40)] + [(200, _vec(3))]:
            x = np.asarray(vec)
            want = [
                int(((books[j] - x[j * sub : (j + 1) * sub]) ** 2).sum(axis=1).argmin())
                for j in range(m)
            ]
            assert got[vid] == want, vid

    def test_adc_matches_numpy_and_ranks_dup_first(self, pq_corpus):
        import numpy as np

        books = S.pq_train(pq_corpus, m=4, ks=8, n_iter=3)
        codes = S.pq_encode(pq_corpus, books)
        q = np.asarray(_vec(3))
        out = S.pq_topk(codes, books, q, k=10).collect()
        m, ks, sub = books.shape
        dt = np.stack(
            [((books[j] - q[j * sub : (j + 1) * sub]) ** 2).sum(axis=1) for j in range(m)]
        )
        enc = {r["vec_id"]: np.asarray(r["codes"]) for r in codes.collect()}
        for r in out:
            want = round(float(dt[np.arange(m), enc[r["vec_id"]]].sum()), 6)
            assert r["adc_dist"] == pytest.approx(want, abs=1e-6)
        # the exact dup (200) shares vec 3's codes exactly, so their
        # ADC distances are identical (NOTE: not necessarily rank 1 —
        # ADC(q, code(q)) is the query's own quantization error, and
        # another vector's cells can sit closer to q than q's own);
        # results ascend and break ties on vec_id
        by_id = {r["vec_id"]: r["adc_dist"] for r in out}
        assert 3 in by_id and 200 in by_id
        assert by_id[3] == by_id[200]
        dists = [r["adc_dist"] for r in out]
        assert dists == sorted(dists)
        ids3 = [r["vec_id"] for r in out if r["adc_dist"] == by_id[3]]
        assert ids3.index(3) < ids3.index(200)

    def test_recall_against_exact_l2(self, pq_corpus):
        # quality bound, not just mechanics: ADC top-10 over m=4/ks=8
        # codes must recover most of the exact L2 top-10 (measured
        # 1.0 on this corpus; bound left slack for codebook drift
        # from future deterministic-trainer changes)
        import numpy as np

        books = S.pq_train(pq_corpus, m=4, ks=8, n_iter=3)
        codes = S.pq_encode(pq_corpus, books)
        q = np.asarray(_vec(3))
        approx = {r["vec_id"] for r in S.pq_topk(codes, books, q, k=10).collect()}
        X = {r["vec_id"]: np.asarray(r["embedding"]) for r in pq_corpus.collect()}
        exact = sorted(X, key=lambda i: float(((X[i] - q) ** 2).sum()))[:10]
        assert len(approx & set(exact)) / 10 >= 0.7

    def test_guards(self, pq_corpus):
        import numpy as np

        with pytest.raises(ValueError, match="not divisible"):
            S.pq_train(pq_corpus, m=3, ks=4, n_iter=1)
        # fewer corpus vectors than requested centroids must raise,
        # not return a silently undersized codebook
        with pytest.raises(ValueError, match="fewer than"):
            S.pq_train(pq_corpus.limit(5), m=4, ks=8, n_iter=1)
        books = S.pq_train(pq_corpus, m=4, ks=8, n_iter=1)
        codes = S.pq_encode(pq_corpus, books)
        with pytest.raises(ValueError, match="query dim"):
            S.pq_topk(codes, books, [0.0] * (DIM + 1), k=3)

    def test_persistent_codebook_cache(self, spark, pq_corpus, tmp_path, monkeypatch):
        import numpy as np

        monkeypatch.setenv("SPARK_GRAFT_CODEBOOK_CACHE", str(tmp_path / "cb"))
        data = str(tmp_path / "vecs")
        pq_corpus.write.parquet(data)
        b1 = S.get_pq_codebooks(spark, data, m=4, ks=8, n_iter=2)
        CODEBOOK.memo.clear()

        def _boom(*a, **kw):
            raise AssertionError("retrain attempted — attach contract broken")

        with monkeypatch.context() as mp:
            mp.setattr(S, "pq_train", _boom)
            b2 = S.get_pq_codebooks(spark, data, m=4, ks=8, n_iter=2)
        assert np.array_equal(b1, b2)
        CODEBOOK.clear()


class TestIvfPq:
    """The composed IVF-PQ path (r12 VERDICT task 4): coarse-probe →
    partition-pruned codes → ADC."""

    @pytest.fixture(scope="class")
    def corpus(self, spark):
        rows = [(i, _vec(i)) for i in range(60)]
        rows.append((300, _vec(7)))  # exact dup of vec 7
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    @pytest.fixture(scope="class")
    def models(self, corpus):
        cents = S.spherical_kmeans(corpus, k=8, n_iter=3)
        books = S.pq_train(corpus, m=4, ks=8, n_iter=3)
        return cents, books

    def test_exhaustive_probe_equals_pq_topk(self, corpus, models):
        # n_probe == n_centroids prunes nothing, so IVF-ADC must be
        # EXACTLY the flat ADC over the same codes — the composition
        # identity that proves the probe filter is the only delta
        cents, books = models
        index = S.ivf_pq_index(corpus, cents, books)
        codes = S.pq_encode(corpus, books)
        q = _vec(7)
        flat = [
            (r["vec_id"], r["adc_dist"])
            for r in S.pq_topk(codes, books, q, k=15).collect()
        ]
        ivf = [
            (r["vec_id"], r["adc_dist"])
            for r in S.ivf_pq_topk(index, cents, books, q, k=15, n_probe=8).collect()
        ]
        assert ivf == flat

    def test_reduced_probe_recall(self, corpus, models):
        # the serving trade: n_probe=3 of 8 lists must still recover
        # most of the exact-L2 top-10 (measured 0.9 on this corpus;
        # slack left for deterministic-trainer drift)
        import numpy as np

        cents, books = models
        index = S.ivf_pq_index(corpus, cents, books)
        q = np.asarray(_vec(7))
        approx = {
            r["vec_id"]
            for r in S.ivf_pq_topk(index, cents, books, q, k=10, n_probe=3).collect()
        }
        X = {r["vec_id"]: np.asarray(r["embedding"]) for r in corpus.collect()}
        exact = sorted(X, key=lambda i: float(((X[i] - q) ** 2).sum()))[:10]
        assert len(approx & set(exact)) / 10 >= 0.6

    def test_probe_guard(self, corpus, models):
        cents, books = models
        index = S.ivf_pq_index(corpus, cents, books)
        with pytest.raises(ValueError, match="n_probe"):
            S.ivf_pq_topk(index, cents, books, _vec(0), n_probe=0)
        with pytest.raises(ValueError, match="n_probe"):
            S.ivf_pq_topk(index, cents, books, _vec(0), n_probe=9)

    def test_persistent_index_partitioned_and_identical(
        self, spark, corpus, tmp_path, monkeypatch
    ):
        import os

        monkeypatch.setenv("SPARK_GRAFT_CODEBOOK_CACHE", str(tmp_path / "cb"))
        data = str(tmp_path / "vecs")
        corpus.write.parquet(data)
        idx = S.get_ivf_pq_index(spark, data, n_centroids=8, m=4, ks=8, n_iter=2)
        # physically partitioned by cluster: the probe filter becomes
        # directory pruning, the 100 TB read shape
        root = str(tmp_path / "cb")
        entry = next(d for d in os.listdir(root) if d.startswith("ivfpq"))
        parts = [
            d
            for d in os.listdir(os.path.join(root, entry, "index"))
            if d.startswith("cluster=")
        ]
        assert len(parts) >= 2
        # attached == live encode, multiset identity
        cents = S.get_codebook(spark, data, k=8, n_iter=2)
        books = S.get_pq_codebooks(spark, data, m=4, ks=8, n_iter=2)
        live = {
            (r["vec_id"], r["cluster"], tuple(r["codes"]))
            for r in S.ivf_pq_index(corpus, cents, books).collect()
        }
        got = {
            (r["vec_id"], r["cluster"], tuple(r["codes"])) for r in idx.collect()
        }
        assert got == live
        CODEBOOK.clear()


class TestPca:
    @pytest.fixture(scope="class")
    def corpus(self, spark):
        rows = [(i, _vec(i)) for i in range(50)]
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def test_covariance_matches_numpy(self, corpus):
        import numpy as np

        got = {(r["i"], r["j"]): r["cov"] for r in S.embedding_covariance(corpus).collect()}
        X = np.array([_vec(i) for i in range(50)])
        want = np.cov(X, rowvar=False, bias=True)  # population covariance
        assert len(got) == DIM * DIM
        for (i, j), v in got.items():
            assert v == pytest.approx(want[i, j], abs=2e-6), (i, j)

    def test_covariance_empty_raises(self, spark):
        empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
        with pytest.raises(ValueError, match="zero vectors"):
            S.embedding_covariance(empty)
        with pytest.raises(ValueError, match="zero vectors"):
            S.embedding_covariance(empty, exact=False)

    def test_covariance_null_vectors_excluded_both_paths(self, spark):
        """Self-review r14: NULL embedding rows are EXCLUDED (no
        vector, no evidence) by BOTH paths — the exact path previously
        counted them in n (silently deflating every covariance) and
        the fast path crashed on np.asarray(None)."""
        import numpy as np

        rows = [(i, _vec(i)) for i in range(20)] + [(100, None), (101, None)]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        clean = spark.createDataFrame(
            rows[:20], "vec_id long, embedding array<double>"
        )
        want = {
            (r["i"], r["j"]): r["cov"]
            for r in S.embedding_covariance(clean).collect()
        }
        for exact in (True, False):
            got = {
                (r["i"], r["j"]): r["cov"]
                for r in S.embedding_covariance(df, exact=exact).collect()
            }
            assert set(got) == set(want)
            for k, v in got.items():
                assert v == pytest.approx(want[k], abs=2e-6), (exact, k)

    def test_covariance_fast_path_tolerance(self, corpus):
        """VERDICT r13 task 4: the float serving path (per-batch
        partial Grams, no per-vector d² explode) must agree with the
        decimal-exact oracle twin to float-summation tolerance, over
        the full (i, j) grid, repartitioned so MULTIPLE partial-Gram
        batches actually merge."""
        import numpy as np

        exact = {
            (r["i"], r["j"]): r["cov"]
            for r in S.embedding_covariance(corpus).collect()
        }
        fast = {
            (r["i"], r["j"]): r["cov"]
            for r in S.embedding_covariance(
                corpus.repartition(4), exact=False
            ).collect()
        }
        assert set(fast) == set(exact)
        assert len(fast) == DIM * DIM
        X = np.array([_vec(i) for i in range(50)])
        want = np.cov(X, rowvar=False, bias=True)
        for (i, j), v in fast.items():
            assert v == pytest.approx(exact[(i, j)], abs=2e-6), (i, j)
            assert v == pytest.approx(want[i, j], abs=2e-6), (i, j)

    def test_components_and_projection_replica(self, corpus):
        import numpy as np

        cov = S.embedding_covariance(corpus).collect()
        comps, explained = S.pca_components(cov, dim=DIM, k=3)
        assert comps.shape == (3, DIM)
        # orthonormal, descending explained variance, sign convention
        assert np.allclose(comps @ comps.T, np.eye(3), atol=1e-9)
        assert list(explained) == sorted(explained, reverse=True)
        for row in comps:
            assert row[np.argmax(np.abs(row))] > 0
        # projection == numpy matmul, batch-for-batch
        got = {r["vec_id"]: np.asarray(r["proj"]) for r in S.pca_project(corpus, comps).collect()}
        X = np.array([_vec(i) for i in range(50)])
        want = X @ comps.T
        for i in range(50):
            assert np.allclose(got[i], want[i], atol=1e-9), i
        # the top component must actually dominate: projecting onto it
        # captures more variance than any single original coordinate
        proj_var = (X @ comps[0]).var()
        assert proj_var >= X.var(axis=0).max() - 1e-9

    def test_covariance_oracle_null_vector_parity(self, spark, tmp_path):
        """ADVICE r14 (medium): the Spark plan filters NULL embeddings
        (similarity.py) — the DuckDB oracle's ``s`` CTE must derive n
        from the SAME row set (``embedding IS NOT NULL``), or a null
        vector in the sampled stratum deflates every oracle cov
        through count(*). Plants a NULL at a vec_id % 5 == 0 slot and
        pins full gate-vs-oracle hash parity. Same latent class as the
        ks-midpoint fix r14 landed."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from tests.oracle_harness import compare
        from xml_to_sqlite3_spark.plans.llm_pipeline import (
            EMBEDDING_COV_ORACLE,
            embedding_covariance,
        )

        def vec64(seed):
            return [
                math.sin(0.37 * seed + 1.13 * d) + 0.01 * seed for d in range(64)
            ]

        vecs = [vec64(i) if i not in (10, 15) else None for i in range(30)]
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array(range(30), pa.int64()),
                    "embedding": pa.array(vecs, pa.list_(pa.float64())),
                }
            ),
            str(tmp_path / "embeddings.parquet"),
        )
        ok, detail = compare(
            embedding_covariance(spark, str(tmp_path)),
            EMBEDDING_COV_ORACLE,
            str(tmp_path),
        )
        assert ok, detail


class TestIvfPqResidualMarker:
    """ADVICE r13: the index relation carries its encoding flag (the
    OPQ rotation) in the codes column metadata; ivf_pq_topk turns a
    mismatch into a loud error instead of silently-wrong ADC
    distances."""

    @pytest.fixture(scope="class")
    def corpus(self, spark):
        rows = [(i, _vec(i)) for i in range(40)]
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    @pytest.fixture(scope="class")
    def models(self, corpus):
        cents = S.spherical_kmeans(corpus, k=4, n_iter=2)
        books = S.pq_train(corpus, m=4, ks=8, n_iter=2)
        return cents, books

    def test_mismatch_raises_both_ways(self, corpus, models):
        import numpy as np

        cents, books = models
        raw = S.ivf_pq_index(corpus, cents, books)
        rot = S.ivf_pq_index(corpus, cents, books, rotation=np.eye(DIM))
        q = _vec(3)
        with pytest.raises(ValueError, match="encoded with rotate=False"):
            S.ivf_pq_topk(raw, cents, books, q, rotation=np.eye(DIM))
        with pytest.raises(ValueError, match="encoded with rotate=True"):
            S.ivf_pq_topk(rot, cents, books, q)

    def test_marker_survives_parquet(self, spark, corpus, models, tmp_path):
        # the persistent entry is a partitioned parquet dir — the
        # marker must ride the schema footer through write+read, so
        # an attached index is protected too
        import numpy as np

        cents, books = models
        p = str(tmp_path / "idx")
        S.ivf_pq_index(corpus, cents, books, rotation=np.eye(DIM)).write.mode(
            "overwrite"
        ).partitionBy("cluster").parquet(p)
        back = spark.read.parquet(p)
        assert back.schema["codes"].metadata.get("ivfpq_rotate") is True
        with pytest.raises(ValueError, match="encoded with rotate=True"):
            S.ivf_pq_topk(back, cents, books, _vec(3))

    def test_unmarked_index_keeps_permissive_contract(self, spark, models):
        # indexes from other producers (no marker) skip the check
        cents, books = models
        bare = spark.createDataFrame(
            [(1, 0, [0, 0, 0, 0])],
            "vec_id long, cluster int, codes array<int>",
        )
        S.ivf_pq_topk(bare, cents, books, _vec(3)).collect()


class TestOpqRotation:
    """OPQ-style rotation (r14 VERDICT task 4): eigenvalue-allocated
    PCA rotation before PQ. The rotation is an isometry, so ADC
    semantics are exact in rotated space; recall lift is measured on
    the clustered fixture (BENCH_vecrecall_r14*.json)."""

    @pytest.fixture(scope="class")
    def corpus(self, spark):
        rows = [(i, _vec(i)) for i in range(60)]
        rows.append((300, _vec(7)))  # exact dup of vec 7
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    @pytest.fixture(scope="class")
    def rot_models(self, corpus):
        import numpy as np

        cov_rows = S.embedding_covariance(corpus).collect()
        R = S.opq_rotation(cov_rows, dim=DIM, m=4)
        cents = S.spherical_kmeans(corpus, k=8, n_iter=3)
        rot = S._rotate_udf(R)
        from pyspark.sql import functions as F

        rotated = corpus.select(
            "vec_id", rot(F.col("embedding")).alias("embedding")
        ).localCheckpoint()
        books = S.pq_train(rotated, m=4, ks=8, n_iter=3)
        return R, cents, books

    def test_rotation_orthonormal_and_deterministic(self, corpus):
        import numpy as np

        cov_rows = S.embedding_covariance(corpus).collect()
        R1 = S.opq_rotation(cov_rows, dim=DIM, m=4)
        R2 = S.opq_rotation(cov_rows, dim=DIM, m=4)
        assert R1.shape == (DIM, DIM)
        assert np.array_equal(R1, R2)
        assert np.allclose(R1 @ R1.T, np.eye(DIM), atol=1e-9)
        with pytest.raises(ValueError, match="divisible"):
            S.opq_rotation(cov_rows, dim=DIM, m=3)

    def test_rotated_encode_matches_numpy_replica(self, corpus, rot_models):
        import numpy as np

        R, cents, books = rot_models
        got = {
            r["vec_id"]: list(r["codes"])
            for r in S.ivf_pq_index(corpus, cents, books, rotation=R).collect()
        }
        m, ks, sub = books.shape
        for vid, vec in [(i, _vec(i)) for i in range(60)] + [(300, _vec(7))]:
            x = R @ np.asarray(vec)
            want = [
                int(
                    ((books[j] - x[j * sub : (j + 1) * sub]) ** 2)
                    .sum(axis=1)
                    .argmin()
                )
                for j in range(m)
            ]
            assert got[vid] == want, vid

    def test_rotated_adc_isometry(self, corpus, rot_models):
        """Rotated ADC distance == squared L2 between R q and the
        reconstructed R x — and the exact dup still ranks first at
        distance == its own quantization error."""
        import numpy as np

        R, cents, books = rot_models
        codes = S.ivf_pq_index(corpus, cents, books, rotation=R)
        q = _vec(7)
        top = S.pq_topk(codes, books, q, k=3, rotation=R).collect()
        ids = [r["vec_id"] for r in top]
        assert set(ids[:2]) == {7, 300}  # query vec + its exact dup
        assert top[0]["adc_dist"] == top[1]["adc_dist"]

    def test_rotated_exhaustive_probe_identity_and_marker(
        self, corpus, rot_models
    ):
        R, cents, books = rot_models
        index = S.ivf_pq_index(corpus, cents, books, rotation=R)
        q = _vec(7)
        flat = [
            (r["vec_id"], r["adc_dist"])
            for r in S.pq_topk(index, books, q, k=15, rotation=R).collect()
        ]
        ivf = [
            (r["vec_id"], r["adc_dist"])
            for r in S.ivf_pq_topk(
                index, cents, books, q, k=15, n_probe=8, rotation=R
            ).collect()
        ]
        assert ivf == flat
        # the rotate marker is enforced both ways
        with pytest.raises(ValueError, match="rotation"):
            S.ivf_pq_topk(index, cents, books, q, k=5)
        raw_index = S.ivf_pq_index(corpus, cents, books)
        with pytest.raises(ValueError, match="rotation"):
            S.ivf_pq_topk(raw_index, cents, books, q, k=5, rotation=R)

    def test_persistent_rotated_index_attach(
        self, spark, corpus, tmp_path, monkeypatch
    ):
        import numpy as np

        monkeypatch.setenv("SPARK_GRAFT_CODEBOOK_CACHE", str(tmp_path / "cb"))
        data = str(tmp_path / "vecs")
        corpus.write.parquet(data)
        kw = dict(n_centroids=8, m=4, ks=8, n_iter=2)
        idx = S.get_ivf_pq_index(spark, data, rotate=True, **kw)
        # attached == live encode under the same persistent models
        R = S.get_opq_rotation(spark, data, m=4)
        cents = S.get_codebook(spark, data, k=8, n_iter=2)
        books = S.get_pq_codebooks(spark, data, m=4, ks=8, n_iter=2, rotate=True)
        live = {
            (r["vec_id"], r["cluster"], tuple(r["codes"]))
            for r in S.ivf_pq_index(
                spark.read.parquet(data), cents, books, rotation=R
            ).collect()
        }
        got = {
            (r["vec_id"], r["cluster"], tuple(r["codes"]))
            for r in idx.collect()
        }
        assert got == live
        # rotated and raw books are DIFFERENT artifacts
        raw_books = S.get_pq_codebooks(spark, data, m=4, ks=8, n_iter=2)
        assert not np.array_equal(books, raw_books)
        CODEBOOK.clear()
