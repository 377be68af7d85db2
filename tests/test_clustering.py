"""Deterministic Lloyd's k-means: planted-cluster recovery, invariants
(partition of the input, monotone inertia), and rerun stability."""

from __future__ import annotations

import numpy as np

from sentiment_analysis_bigdata_spark.operators.clustering import (
    kmeans_lloyd,
    kmeans_summary,
)

DIM = 8
PER = 20


def _planted(spark):
    """Three well-separated gaussian blobs; ids interleave the blobs so
    the k-smallest-id seeds land one per blob."""
    rng = np.random.default_rng(7)
    centers = np.array(
        [[5.0] * DIM, [-5.0] * DIM, [5.0] * (DIM // 2) + [-5.0] * (DIM // 2)]
    )
    rows = []
    for j in range(PER):
        for b in range(3):
            v = centers[b] + 0.1 * rng.normal(size=DIM)
            rows.append((j * 3 + b, [float(x) for x in v], b))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>, blob int")


def test_recovers_planted_blobs(spark):
    df = _planted(spark)
    out = kmeans_lloyd(df, "embedding", "vec_id", k=3, iterations=2)
    joined = out.join(df.select("vec_id", "blob"), "vec_id").collect()
    # every blob maps to exactly one cluster and vice versa
    mapping = {}
    for r in joined:
        mapping.setdefault(r["blob"], set()).add(r["cluster_id"])
    assert all(len(cids) == 1 for cids in mapping.values())
    assert len({next(iter(c)) for c in mapping.values()}) == 3


def test_partition_and_inertia_monotone(spark):
    df = _planted(spark)
    s1 = {
        r["cluster_id"]: (r["n_points"], r["inertia"])
        for r in kmeans_summary(df, "embedding", "vec_id", k=3, iterations=1).collect()
    }
    s2 = {
        r["cluster_id"]: (r["n_points"], r["inertia"])
        for r in kmeans_summary(df, "embedding", "vec_id", k=3, iterations=3).collect()
    }
    assert sum(n for n, _ in s1.values()) == 3 * PER
    assert sum(n for n, _ in s2.values()) == 3 * PER
    assert sum(i for _, i in s2.values()) <= sum(i for _, i in s1.values()) + 1e-9


def test_broadcast_assign_identical_small_k(spark):
    """The broadcast-frame path must reproduce the literal path exactly
    (same argmin, same dist2 bits) — k below the auto threshold, forced."""
    df = _planted(spark)
    lit = sorted(
        map(tuple, kmeans_lloyd(df, "embedding", "vec_id", k=3, iterations=2,
                                assign_method="literal").collect())
    )
    bc = sorted(
        map(tuple, kmeans_lloyd(df, "embedding", "vec_id", k=3, iterations=2,
                                assign_method="broadcast").collect())
    )
    assert lit == bc


def test_broadcast_assign_identical_k512(spark):
    """Equality proof at large k (past the auto switchover): 1,024
    deterministic vectors, k=512, literal vs broadcast assignments are
    identical tuple-for-tuple (incl. dist2 bits). This is what licenses
    the broadcast path as the scale route for SemDeDup-style k."""
    import math

    rows = [
        (
            i,
            [
                math.sin(0.31 * i + 0.17 * d) + 0.001 * d
                for d in range(DIM)
            ],
        )
        for i in range(1024)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    lit = sorted(
        map(tuple, kmeans_lloyd(df, "embedding", "vec_id", k=512, iterations=1,
                                assign_method="literal").collect())
    )
    bc = sorted(
        map(tuple, kmeans_lloyd(df, "embedding", "vec_id", k=512, iterations=1,
                                assign_method="auto").collect())
    )
    assert lit == bc


def test_gemm_assign_identical_k512_on_grid(spark):
    """The BLAS assign path must reproduce the broadcast path exactly on
    GRID-QUANTIZED input — the quantize_grid contract: on the 2^-16
    lattice every distance term and partial sum is exactly representable
    in float64, so BLAS accumulation order and the sequential zip_with
    fold give identical bits (same argmin, same dist2)."""
    import math

    from pyspark.sql import functions as F

    from sentiment_analysis_bigdata_spark.operators.clustering import quantize_grid

    rows = [
        (i, [math.sin(0.31 * i + 0.17 * d) * 0.9 for d in range(DIM)])
        for i in range(1024)
    ]
    raw = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    df = raw.select("vec_id", quantize_grid(F.col("embedding")).alias("embedding"))
    # iterations=0 isolates the ASSIGN: both paths argmin over the same
    # on-grid seed centroids. (With iterations > 0 the paths legitimately
    # diverge — re-estimation rounds to 9dp on the broadcast path but
    # floors onto the grid on the gemm path, by design.)
    bc = sorted(
        map(tuple, kmeans_lloyd(df, "embedding", "vec_id", k=512, iterations=0,
                                assign_method="broadcast").collect())
    )
    gm = sorted(
        map(tuple, kmeans_lloyd(df, "embedding", "vec_id", k=512, iterations=0,
                                assign_method="gemm").collect())
    )
    assert bc == gm


def test_gemm_jobs_per_round_bounded_k4096(spark):
    """VERDICT r5 #6 done-criterion: at k=4096 the gemm Lloyd loop costs
    a CONSTANT number of Spark jobs per round — independent of k
    (measured via a job group, not asserted from the code). Per round:
    one re-estimation agg collect; plus the seed collect and the final
    assign action. The same measurement at k=512 must give the SAME
    count, proving job count is O(1) in k."""
    import math

    def run(k: int) -> int:
        rows = [
            (i, [math.sin(0.29 * i + 0.13 * d) * 0.9 for d in range(8)])
            for i in range(5000)
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        sc = spark.sparkContext
        group = f"gemm-jobs-{k}"
        sc.setJobGroup(group, "", interruptOnCancel=False)
        try:
            kmeans_lloyd(
                df, "embedding", "vec_id", k=k, iterations=2,
                assign_method="gemm",
            ).count()
        finally:
            sc.setJobGroup("", "")
        return len(sc.statusTracker().getJobIdsForGroup(group))

    j4096 = run(4096)
    j512 = run(512)
    assert j4096 <= 8, j4096  # seeds + 2 re-estimates + final count + slack
    assert j4096 == j512  # O(1) in k


def test_broadcast_jobs_per_round_bounded_k4096(spark):
    """VERDICT r5 #6, broadcast-path side: the Lloyd loop's Spark job
    count is O(1) in k — the seed collect and the per-round means collect
    are per-ROUND costs, not per-centroid. Measured via job groups at
    k=512 and k=4096 on the same frame; counts must be equal and small
    (9 measured, plus the gemm test's slack of 1 — a per-round barrier
    would exceed it)."""
    import math

    rows = [(i, [math.sin(0.3 * i), math.cos(0.2 * i)]) for i in range(4200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    sc = spark.sparkContext

    def run(k: int) -> int:
        group = f"bc-jobs-{k}"
        sc.setJobGroup(group, "", interruptOnCancel=False)
        try:
            kmeans_lloyd(
                df, "embedding", "vec_id", k=k, iterations=1,
                assign_method="broadcast",
            ).count()
        finally:
            sc.setJobGroup("", "")
        return len(sc.statusTracker().getJobIdsForGroup(group))

    j4096 = run(4096)
    j512 = run(512)
    assert j4096 == j512
    assert j4096 <= 10, j4096


def test_empty_and_overk_guards(spark):
    import pytest

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    for method in ("literal", "broadcast", "gemm"):
        with pytest.raises(ValueError, match="empty"):
            kmeans_lloyd(empty, "embedding", "vec_id", k=2,
                         assign_method=method)
    small = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [3.0, 4.0])],
        "vec_id long, embedding array<double>",
    )
    for method in ("literal", "broadcast", "gemm"):
        with pytest.raises(ValueError, match="exceeds row count"):
            kmeans_lloyd(small, "embedding", "vec_id", k=5,
                         assign_method=method)
    # strict=False caps at the row count: every row its own seed
    out = kmeans_lloyd(small, "embedding", "vec_id", k=5, iterations=1,
                       strict=False, assign_method="broadcast").collect()
    assert len(out) == 2 and {r["cluster_id"] for r in out} == {0, 1}


def test_rerun_stable(spark):
    df = _planted(spark)
    a = sorted(map(tuple, kmeans_lloyd(df, "embedding", "vec_id", k=3, iterations=2).collect()))
    b = sorted(map(tuple, kmeans_lloyd(df, "embedding", "vec_id", k=3, iterations=2).collect()))
    assert a == b


def test_semdedup_planted_near_dup(spark):
    from sentiment_analysis_bigdata_spark.operators.clustering import semdedup

    df = _planted(spark)
    # duplicate blob-0 point with a new highest id -> must be removed
    dup = df.where("vec_id = 0").selectExpr(
        "CAST(999 AS LONG) AS vec_id", "embedding", "blob"
    )
    out = semdedup(
        df.unionByName(dup), "embedding", "vec_id", k=3, iterations=2,
        threshold=0.99,
    ).collect()
    assert sum(r["n_points"] for r in out) == 3 * PER + 1
    assert sum(r["n_removed"] for r in out) >= 1
    for r in out:
        assert r["n_removed"] + r["n_kept"] == r["n_points"]


def test_knn_graph_planted_neighbor(spark):
    from sentiment_analysis_bigdata_spark.operators.clustering import knn_graph

    df = _planted(spark)
    # clone point 0 with tiny noise as id 999: each must be the other's
    # top neighbor (same blob -> same cluster)
    import numpy as np

    v0 = df.where("vec_id = 0").first()["embedding"]
    rng = np.random.default_rng(3)
    near = [float(x + 0.001 * rng.normal()) for x in v0]
    dup = spark.createDataFrame([(999, near, 0)], df.schema)
    out = knn_graph(
        df.unionByName(dup), "embedding", "vec_id", k=3, iterations=2,
        n_neighbors=2,
    ).collect()
    top = {r["id"]: r["neighbor"] for r in out if r["rank"] == 1}
    assert top[0] == 999 and top[999] == 0
    # every vector gets exactly n_neighbors edges (blocks are large enough)
    from collections import Counter

    c = Counter(r["id"] for r in out)
    assert all(v == 2 for v in c.values())


def test_knn_recall_high_on_clustered_data(spark, tmp_path):
    """Single-probe blocking recovers neighbors when the data actually
    clusters: with well-separated blobs every exact neighbor shares the
    anchor's blob, so block-local search is near-exact."""
    from sentiment_analysis_bigdata_spark.workloads.cluster_q import (
        SEM_K,
        q_knn_recall,
    )

    # SEM_K well-separated blobs, ids interleaved so the k smallest-id
    # seeds land one per blob (k matches the natural structure; the
    # sf-fixture's isotropic vectors are the documented worst case)
    import numpy as np

    rng = np.random.default_rng(11)
    centers = 5.0 * rng.choice([-1.0, 1.0], size=(SEM_K, 8))
    rows = []
    for j in range(10):
        for b in range(SEM_K):
            v = centers[b] + 0.05 * rng.normal(size=8)
            rows.append((j * SEM_K + b, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    d = str(tmp_path / "sf")
    df.write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    r = q_knn_recall(spark, d).first()
    assert r["n_edges"] > 0
    assert r["recall"] >= 0.9


def test_cluster_diversity_entropy_bounds(spark, tmp_path):
    from sentiment_analysis_bigdata_spark.workloads.cluster_q import (
        q_cluster_diversity,
    )
    import math

    # blob 0 single-source, blobs 1/2 two sources each
    df = _planted(spark)
    d = str(tmp_path / "sf")
    df.select("vec_id", "embedding").write.mode("overwrite").parquet(
        f"{d}/embeddings.parquet"
    )
    docs = df.selectExpr(
        "vec_id AS doc_id", "'x' AS text",
        "CASE WHEN blob = 0 THEN 'solo' "
        "WHEN vec_id % 2 = 0 THEN 'a' ELSE 'b' END AS source",
    )
    docs.write.mode("overwrite").parquet(f"{d}/documents.parquet")
    # k=4 per the query config; with 3 blobs one cluster may be empty or
    # split, but the invariants below hold regardless
    rows = q_cluster_diversity(spark, d).collect()
    assert sum(r["n_points"] for r in rows) == df.count()
    for r in rows:
        assert 0.0 <= r["source_entropy"] <= math.log(r["n_sources"]) + 1e-9
        assert r["top_share"] >= 1.0 / r["n_sources"] - 1e-9
    solo = [r for r in rows if r["n_sources"] == 1]
    assert all(r["source_entropy"] == 0.0 and r["top_share"] == 1.0 for r in solo)


class TestKmeansSilhouette:
    def test_two_separated_pairs_hand_values(self, spark):
        import math

        from sentiment_analysis_bigdata_spark.operators.clustering import (
            kmeans_silhouette,
        )

        # seeds = ids 0,1 -> centers (0,0),(10,0); after 1 round both
        # centroids move to y=0.5; every point then has a = 0.5 and
        # b = sqrt(100.25), so all four silhouettes are identical
        rows = [
            (0, [0.0, 0.0]),
            (1, [10.0, 0.0]),
            (2, [0.0, 1.0]),
            (3, [10.0, 1.0]),
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        out = {
            r["cluster_id"]: (r["n_points"], r["mean_silhouette"])
            for r in kmeans_silhouette(
                df, k=2, iterations=1
            ).collect()
        }
        b = math.sqrt(100.25)
        expect = round((b - 0.5) / b, 6)
        assert out == {0: (2, expect), 1: (2, expect)}

    def test_k_below_two_rejected(self, spark):
        import pytest

        from sentiment_analysis_bigdata_spark.operators.clustering import (
            kmeans_silhouette,
        )

        df = spark.createDataFrame(
            [(0, [0.0]), (1, [1.0])], "vec_id long, embedding array<double>"
        )
        with pytest.raises(ValueError, match="k must be >= 2"):
            kmeans_silhouette(df, k=1)

    def test_matches_lloyd_assignment_sizes(self, spark):
        # silhouette's per-cluster counts must equal kmeans_lloyd's —
        # both derive from the same final centroids
        import numpy as np
        from pyspark.sql import functions as F

        from sentiment_analysis_bigdata_spark.operators.clustering import (
            kmeans_lloyd,
            kmeans_silhouette,
        )

        rng = np.random.default_rng(7)
        rows = [
            (i, (rng.normal(size=4) + (i % 3) * 5).tolist()) for i in range(60)
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        sizes_lloyd = {
            r["cluster_id"]: r["cnt"]
            for r in kmeans_lloyd(df, k=3, iterations=2)
            .groupBy("cluster_id")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }
        sil = kmeans_silhouette(df, k=3, iterations=2)
        assert {
            r["cluster_id"]: r["n_points"] for r in sil.collect()
        } == sizes_lloyd
        # well-separated blobs: strongly positive silhouette everywhere
        assert all(r["mean_silhouette"] > 0.5 for r in sil.collect())


def test_iter_cluster_blocks_matches_groupby():
    """Clusters spanning 1, 2 and 6 batches, empty batches between them
    and a final single-row cluster come out as exactly the per-cluster
    groups, in order, positionally equal to ``groupby`` (pandas only)."""
    import pandas as pd

    from sentiment_analysis_bigdata_spark.operators.clustering import _iter_cluster_blocks

    sizes = {0: 3, 1: 1, 2: 7, 3: 25, 4: 2, 5: 1}
    cids = [c for c, n in sizes.items() for _ in range(n)]
    full = pd.DataFrame(
        {"cluster_id": cids, "id": range(len(cids)), "v": [[float(i)] for i in range(len(cids))]}
    )
    empty = full.iloc[:0]
    cuts = [0, 4, 8, 14, 18, 22, 26, 30, 38, 39]
    batches = []
    for lo, hi in zip(cuts, cuts[1:]):
        batches += [full.iloc[lo:hi].reset_index(drop=True), empty]
    spans = {c: sum(c in set(b["cluster_id"]) for b in batches) for c in sizes}
    assert spans == {0: 1, 1: 1, 2: 2, 3: 6, 4: 1, 5: 1}

    blocks = list(_iter_cluster_blocks(iter([empty] + batches)))
    groups = [g for _, g in full.groupby("cluster_id", sort=False)]
    assert [b["cluster_id"].iat[0] for b in blocks] == list(sizes)
    assert len(blocks) == len(groups)
    for b, g in zip(blocks, groups):
        pd.testing.assert_frame_equal(b.reset_index(drop=True), g.reset_index(drop=True))
