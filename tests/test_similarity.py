"""Similarity-search tests: exact top-k verified against numpy; LSH/IVF
recall on planted neighbors; pandas-UDF kernel ≡ expression kernel."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from sentiment_analysis_bigdata_spark.functions import vector as V
from sentiment_analysis_bigdata_spark.operators import pca
from sentiment_analysis_bigdata_spark.operators import similarity as SIM
from sentiment_analysis_bigdata_spark.plans import explain

DIM = 16
N = 60


def _gen():
    rng = np.random.default_rng(42)
    vecs = rng.normal(size=(N, DIM))
    vecs[1] = vecs[0] + 0.01 * rng.normal(size=DIM)  # planted neighbor of 0
    return vecs


VECS = _gen()


def _make_vectors():
    return [(i, [float(x) for x in VECS[i]]) for i in range(N)]


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(_make_vectors(), "vec_id long, embedding array<double>")


@pytest.fixture(scope="module")
def queries(spark, corpus):
    return corpus.filter("vec_id < 3").selectExpr(
        "vec_id as query_id", "embedding as query_vec"
    )


def _numpy_topk(k=5, nq=3):
    norms = VECS / np.linalg.norm(VECS, axis=1, keepdims=True)
    sims = norms @ norms.T
    out = {}
    for q in range(nq):
        order = [
            i for i in np.lexsort((np.arange(N), -sims[q])) if i != q
        ][:k]
        out[q] = order
    return out


def test_brute_force_matches_numpy(corpus, queries):
    got = {}
    for r in SIM.brute_force_topk(corpus, queries, k=5).collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"]))
    expected = _numpy_topk()
    for q, pairs in got.items():
        ids = [v for _, v in sorted(pairs)]
        assert ids == list(expected[q]), q


def test_vector_kernels(spark):
    df = spark.createDataFrame([([3.0, 4.0], [4.0, 3.0])], "a array<double>, b array<double>")
    row = df.select(
        V.dot("a", "b").alias("dot"),
        V.norm("a").alias("na"),
        V.cosine_similarity("a", "b").alias("cos"),
        V.l2_distance("a", "b").alias("l2"),
    ).first()
    assert row["dot"] == pytest.approx(24.0)
    assert row["na"] == pytest.approx(5.0)
    assert row["cos"] == pytest.approx(24 / 25)
    assert row["l2"] == pytest.approx(np.sqrt(2))


def test_lsh_finds_planted_neighbor(corpus, queries):
    out = SIM.lsh_topk(corpus, queries, k=5, n_bits=6, multiprobe=True)
    got = {r["query_id"]: [] for r in out.collect()}
    for r in out.collect():
        got[r["query_id"]].append(r["vec_id"])
    # the planted near-identical neighbor shares all sign bits → always found
    assert 1 in got[0]


def test_ivf_finds_planted_neighbor(corpus, queries):
    out = SIM.ivf_topk(corpus, queries, k=5, nlist=4, nprobe=2)
    got = [r["vec_id"] for r in out.collect() if r["query_id"] == 0]
    assert 1 in got


def _recall_at_k(exact_df, approx_df, k, nq):
    truth, got = {}, {}
    for r in exact_df.collect():
        truth.setdefault(r["query_id"], set()).add(r["vec_id"])
    for r in approx_df.collect():
        got.setdefault(r["query_id"], set()).add(r["vec_id"])
    return sum(
        len(truth.get(q, set()) & got.get(q, set())) for q in range(nq)
    ) / float(k * nq)


def test_ivf_recall_floor_at_nprobe_lt_nlist(corpus, queries):
    """The documented recall floor for the genuinely-approximate IVF
    configuration (nprobe=2 < nlist=4, i.e. half the lists probed): macro
    recall@5 over the 3 fixed queries is deterministically 0.667 on this
    isotropic fixture (fixed kmeans seed; isotropic data has no cluster
    structure, so probing half the lists lands between the ~0.5 random
    floor and exhaustive 1.0). Floor asserts it stays ≥ 0.6 — i.e.
    meaningfully above random — and the exhaustive config stays exact.
    The value-checked recall number for LSH single-probe is the
    ann_recall oracle query in workloads/dedup_sim.py."""
    exact = SIM.brute_force_topk(corpus, queries, k=5)
    approx = SIM.ivf_topk(corpus, queries, k=5, nlist=4, nprobe=2)
    assert _recall_at_k(exact, approx, k=5, nq=3) >= 0.6
    exhaustive = SIM.ivf_topk(corpus, queries, k=5, nlist=4, nprobe=4)
    assert _recall_at_k(exact, exhaustive, k=5, nq=3) == 1.0


def test_lsh_single_probe_recall_floor(corpus, queries):
    """LSH single-probe (the ann_recall configuration): deterministic
    recall on this fixture is 0.467 at n_bits=2 (4 buckets over 60
    isotropic vectors — numpy-cross-checked); floor asserts ≥ 0.4, i.e.
    the single bucket retains real neighbor mass, and multiprobe (all
    Hamming-1 flips) must dominate single-probe."""
    exact = SIM.brute_force_topk(corpus, queries, k=5)
    single = SIM.lsh_topk(corpus, queries, k=5, n_bits=2, multiprobe=False)
    multi = SIM.lsh_topk(corpus, queries, k=5, n_bits=2, multiprobe=True)
    r1 = _recall_at_k(exact, single, k=5, nq=3)
    rm = _recall_at_k(exact, multi, k=5, nq=3)
    assert r1 >= 0.4, r1
    assert rm >= r1


def test_pandas_kernel_matches_expression_kernel(spark, corpus, queries):
    qpd = queries.toPandas().rename(columns={"query_vec": "query_vec"})
    a = SIM.brute_force_topk(corpus, queries, k=5).collect()
    b = SIM.cosine_topk_pandas(corpus, qpd, k=5).collect()
    key = lambda r: (r["query_id"], r["rank"])
    for ra, rb in zip(sorted(a, key=key), sorted(b, key=key)):
        assert ra["vec_id"] == rb["vec_id"]
        assert ra["cosine"] == pytest.approx(rb["cosine"], abs=1e-9)


def test_hyperplane_bucket_is_deterministic(spark):
    df = spark.createDataFrame(
        [([1.0, -1.0, 1.0, -1.0],), ([1.0, -1.0, 1.0, -1.0],)], "v array<double>"
    )
    buckets = [r["b"] for r in df.select(V.hyperplane_sign_bucket("v", 4).alias("b")).collect()]
    assert buckets[0] == buckets[1] == 0b1010


class TestPersistedIvfIndex:
    def test_probe_matches_numpy_within_probed_lists(self, spark, corpus, queries, tmp_path):
        idx = str(tmp_path / "ivf")
        centers = SIM.build_ivf_index(corpus, idx, nlist=4)
        got = {}
        for r in SIM.ivf_index_topk(spark, idx, queries, k=5, nprobe=2).collect():
            got.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"], r["cosine"]))
        # independent replay: assign corpus+queries to lists from the
        # returned centers, score only the probed lists, exact tie-break
        C = np.asarray(centers)
        assign = np.argmin(((VECS[:, None, :] - C[None, :, :]) ** 2).sum(axis=2), axis=1)
        norms = VECS / np.linalg.norm(VECS, axis=1, keepdims=True)
        for q in range(3):
            qd = ((C - VECS[q]) ** 2).sum(axis=1)
            probed = set(np.argsort(qd, kind="stable")[:2])
            cand = [i for i in range(N) if assign[i] in probed and i != q]
            sims = norms[cand] @ norms[q]
            order = np.lexsort((np.asarray(cand), -sims))[:5]
            expected = [cand[j] for j in order]
            assert [v for _, v, _ in sorted(got[q])] == expected

    def test_probe_prunes_partitions(self, spark, corpus, queries, tmp_path):
        idx = str(tmp_path / "ivf2")
        SIM.build_ivf_index(corpus, idx, nlist=4)
        df = SIM.ivf_index_topk(spark, idx, queries, k=5, nprobe=1)
        plan = explain.formatted_plan(df)
        # the probe-list IN filter must land in PartitionFilters (pruned at
        # file-listing time), never as a row-level data filter
        assert "PartitionFilters" in plan
        import re

        m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
        assert m and "list_id" in m.group(1)

    def test_append_preserves_existing_files_and_centroids(
        self, spark, corpus, queries, tmp_path
    ):
        """Append must be O(|delta|): existing corpus parquet files are
        byte-untouched, centroids unchanged, and an exhaustive probe of
        the appended index equals brute force over the full corpus."""
        import os

        idx = str(tmp_path / "ivf3")
        base = corpus.filter("vec_id % 2 = 0")
        delta = corpus.filter("vec_id % 2 = 1")
        centers_before = SIM.build_ivf_index(base, idx, nlist=4)

        def snapshot(root):
            out = {}
            for dirpath, _dirs, files in os.walk(f"{root}/corpus"):
                for f in files:
                    if f.endswith(".parquet"):
                        p = os.path.join(dirpath, f)
                        out[p] = os.path.getmtime(p)
            return out

        before = snapshot(idx)
        SIM.append_to_ivf_index(spark, idx, delta)
        after = snapshot(idx)
        # all pre-append files still present and untouched; new files added
        for p, mtime in before.items():
            assert p in after and after[p] == mtime, p
        assert len(after) > len(before)
        centers_after = [
            list(r["center"])
            for r in spark.read.parquet(f"{idx}/centroids").orderBy("list_id").collect()
        ]
        assert centers_after == centers_before

        got = {}
        for r in SIM.ivf_index_topk(spark, idx, queries, k=5, nprobe=4).collect():
            got.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"]))
        exact = {}
        for r in SIM.brute_force_topk(corpus, queries, k=5).collect():
            exact.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"]))
        assert {q: sorted(v) for q, v in got.items()} == {
            q: sorted(v) for q, v in exact.items()
        }


# --- SQ8 scalar quantization -----------------------------------------------------


class TestSq8:
    def _corpus(self, spark, n=200, dim=8, seed=3):
        import random

        rng = random.Random(seed)
        rows = [
            (i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(n)
        ]
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def test_dequantization_error_bounded(self, spark):
        corpus = self._corpus(spark)
        dq = SIM.sq8_dequantized(corpus)
        joined = corpus.join(dq, "vec_id").select(
            F.expr(
                "aggregate(zip_with(cast(embedding as array<double>), v,"
                " (a, b) -> abs(a - b)), cast(0.0 as double),"
                " (acc, x) -> greatest(acc, x))"
            ).alias("max_err")
        )
        max_err = joined.agg(F.max("max_err")).collect()[0][0]
        # per-dim step = (mx-mn)/255 <= 2/255; floor(t*255+.5) error <= step/2
        assert max_err <= (2.0 / 255) / 2 + 1e-9

    def test_sq8_topk_recall_vs_exact(self, spark):
        corpus = self._corpus(spark, n=300)
        queries = corpus.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        exact = {
            (r["query_id"], r["vec_id"])
            for r in SIM.brute_force_topk(corpus, queries, k=10).collect()
        }
        approx = {
            (r["query_id"], r["vec_id"])
            for r in SIM.sq8_topk(corpus, queries, k=10).collect()
        }
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.9, f"SQ8 recall {recall}"


class TestPca:
    def test_rank_one_hand_values(self, spark):
        # points on the line y = 2x → covariance is rank-1; the top
        # component is (1,2)/sqrt(5) with lambda = trace, explained = 1
        import math

        rows = [([1.0, 2.0],), ([-1.0, -2.0],), ([2.0, 4.0],), ([-2.0, -4.0],)]
        df = spark.createDataFrame(rows, "embedding array<double>")
        out = {r.i: r for r in pca.pca_top_component(df, "embedding", dim=2).collect()}
        s5 = math.sqrt(5)
        assert abs(out[0].loading - 1 / s5) < 1e-9
        assert abs(out[1].loading - 2 / s5) < 1e-9
        assert abs(out[0].eigenvalue - 50.0 / 3.0) < 1e-9
        assert abs(out[0].explained_ratio - 1.0) < 1e-12

    def test_covariance_matches_numpy(self, spark):
        import numpy as np

        rng = np.random.RandomState(7)
        X = rng.randn(40, 3)
        df = spark.createDataFrame(
            [(list(map(float, r)),) for r in X], "embedding array<double>"
        ).repartition(5)
        got = {(r.i, r.j): r.c for r in pca.covariance_matrix(df, "embedding", 3).collect()}
        want = np.cov(X, rowvar=False)
        for i in range(3):
            for j in range(3):
                assert abs(got[(i, j)] - want[i][j]) < 1e-9

    def test_sign_rule_max_abs_positive(self, spark):
        rows = [([0.0, -3.0],), ([0.0, 3.0],), ([0.1, -6.0],), ([-0.1, 6.0],)]
        df = spark.createDataFrame(rows, "embedding array<double>")
        out = {r.i: r for r in pca.pca_top_component(df, "embedding", dim=2).collect()}
        # dominant direction is ~e1; the max-|loading| component must be positive
        assert abs(out[1].loading) > abs(out[0].loading)
        assert out[1].loading > 0


class TestProductQuantization:
    def _clustered(self, spark, n_clusters=10, per=20):
        import numpy as np

        rng = np.random.RandomState(0)
        centers = rng.randn(n_clusters, 64) * 5.0
        rows = []
        for i in range(n_clusters * per):
            c = i % n_clusters  # interleaved: the k smallest ids span clusters
            v = centers[c] + 0.1 * rng.randn(64)
            rows.append((i, [float(x) for x in v], c))
        return (
            spark.createDataFrame(
                rows, "vec_id long, embedding array<double>, cluster int"
            ).repartition(6),
            {i: i % n_clusters for i in range(n_clusters * per)},
        )

    def test_same_cluster_same_codes(self, spark):
        from sentiment_analysis_bigdata_spark.operators import pq

        df, cluster_of = self._clustered(spark)
        books = pq.train_pq_codebooks(df, m=8, k=16, dim=64)
        codes = {
            r.vec_id: tuple(r.codes)
            for r in pq.pq_encode(df, books).collect()
        }
        # separation >> noise: per sub-space, the codes a cluster uses are
        # NEVER shared with another cluster (a point may waver between its
        # cluster's near-duplicate init centroids, but not across clusters)
        for s in range(8):
            used = {}
            for vid, cd in codes.items():
                used.setdefault(cluster_of[vid], set()).add(cd[s])
            clusters = list(used)
            for i in range(len(clusters)):
                for j in range(i + 1, len(clusters)):
                    assert not (used[clusters[i]] & used[clusters[j]])

    def test_topk_stays_in_cluster(self, spark):
        from sentiment_analysis_bigdata_spark.operators import pq

        df, cluster_of = self._clustered(spark)
        queries = df.filter("vec_id < 5").select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        out = pq.pq_topk(df, queries, k=5, m=8, n_codes=16, dim=64)
        rows = out.collect()
        assert len(rows) == 25
        for r in rows:
            assert cluster_of[r.vec_id] == cluster_of[r.query_id]

    def test_empty_clusters_keep_init(self, spark):
        from sentiment_analysis_bigdata_spark.operators import pq

        # 3 distinct rows but k=16 requested: the codebook clamps to n
        rows = [(i, [float(i)] * 64) for i in range(3)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        books = pq.train_pq_codebooks(df, m=8, k=16, dim=64)
        # codebook shrinks to k_eff = n rows
        assert len(books) == 8 and all(len(b) == 3 for b in books)
        codes = {r.vec_id: tuple(r.codes) for r in pq.pq_encode(df, books).collect()}
        assert len(codes) == 3
        assert codes[0] != codes[2]


class TestIvfPq:
    def test_exhaustive_probe_equals_plain_pq(self, spark):
        from sentiment_analysis_bigdata_spark.operators import pq

        import numpy as np

        rng = np.random.RandomState(4)
        rows = [
            (i, [float(x) for x in rng.randn(64)]) for i in range(120)
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        queries = df.filter("vec_id < 3").select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        full = pq.ivfpq_topk(
            df, queries, k=5, nlist=4, nprobe=4, m=8, n_codes=8, dim=64
        )
        plain = pq.pq_topk(df, queries, k=5, m=8, n_codes=8, dim=64)
        assert sorted(
            (r.query_id, r.vec_id, r.rank) for r in full.collect()
        ) == sorted((r.query_id, r.vec_id, r.rank) for r in plain.collect())

    def test_pruning_restricts_to_probed_lists(self, spark):
        from sentiment_analysis_bigdata_spark.operators import pq

        import numpy as np

        rng = np.random.RandomState(5)
        rows = [(i, [float(x) for x in rng.randn(64)]) for i in range(120)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        queries = df.filter("vec_id < 2").select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        out = pq.ivfpq_topk(
            df, queries, k=50, nlist=4, nprobe=1, m=8, n_codes=8, dim=64
        )
        # single-probe results must all come from the query's own list
        coarse_books = pq.train_pq_codebooks(df, m=1, k=4, dim=64)
        assigned = {
            r.vec_id: r.codes[0]
            for r in pq.pq_encode(df, coarse_books).collect()
        }
        probes = dict(
            pq.coarse_probes(
                [(r.query_id, r.query_vec) for r in queries.collect()],
                coarse_books[0],
                1,
            )
        )
        for r in out.collect():
            assert assigned[r.vec_id] == probes[r.query_id]


class TestHardNegativeTopk:
    def test_same_label_neighbors_excluded(self, spark):
        from sentiment_analysis_bigdata_spark.operators.similarity import (
            hard_negative_topk,
        )

        # anchor 0 (label 0); vec 1 is its NEAREST but shares the label →
        # must be skipped; vec 2 (label 1, slightly farther) is rank 1
        rows = [
            (0, [1.0, 0.0, 0.0, 0.0], 0),
            (1, [0.99, 0.1, 0.0, 0.0], 0),
            (2, [0.9, 0.3, 0.0, 0.0], 1),
            (3, [0.0, 1.0, 0.0, 0.0], 1),
            (4, [0.0, 0.0, 1.0, 0.0], 2),
        ]
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>, label int"
        )
        anchors = spark.createDataFrame(
            [(0, [1.0, 0.0, 0.0, 0.0], 0)],
            "query_id long, query_vec array<double>, query_label int",
        )
        out = hard_negative_topk(emb, anchors, k=3).collect()
        got = [(r["vec_id"], r["rank"]) for r in out]
        assert got == [(2, 1), (3, 2), (4, 3)]
        assert all(r["label"] != 0 for r in out)

    def test_matches_bruteforce_when_all_labels_differ(self, spark):
        from sentiment_analysis_bigdata_spark.operators.similarity import (
            brute_force_topk,
            hard_negative_topk,
        )

        rows = [
            (i, [float(i == j) + 0.1 * j for j in range(4)], 10 + i)
            for i in range(6)
        ]
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>, label int"
        )
        anchors = emb.filter("vec_id = 0").select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
            F.col("label").alias("query_label"),
        )
        plain = anchors.select("query_id", "query_vec")
        a = [
            (r["vec_id"], r["rank"])
            for r in hard_negative_topk(emb, anchors, k=4).collect()
        ]
        b = [
            (r["vec_id"], r["rank"])
            for r in brute_force_topk(emb, plain, k=4).collect()
        ]
        assert a == b  # unique labels → the predicate is a no-op
