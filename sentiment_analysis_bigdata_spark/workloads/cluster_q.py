"""Clustering workload: deterministic Lloyd's k-means over the embeddings
table, with the full recursion (seed → assign → re-estimate → assign →
re-estimate → final assign) replayed by the DuckDB oracle as unrolled
CTEs. Every intermediate centroid is rounded to 9 decimals in BOTH
engines before it feeds the next round, so cross-engine float drift in
the mean (partial-agg association order, ~1e-15) cannot flip an
assignment — the final sizes and inertias match exactly at round(6).

Reference parity: the reference has no clustering (SURVEY §2.6 stops at
three classifiers); this is north-star surface for corpus organization
(topic balancing, per-cluster sampling) in a training-data pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sentiment_analysis_bigdata_spark.operators.clustering import (
    kmeans_lloyd,
    kmeans_summary,
    knn_graph,
    semdedup,
)
from sentiment_analysis_bigdata_spark.plans.barrier import barrier_lazy
from sentiment_analysis_bigdata_spark.sources import (
    ensure_min_parallelism,
    load_table,
)

K = 4
ITERATIONS = 2
ROUND_DIGITS = 9


def q_kmeans_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Cluster the corpus embeddings (k=4, 2 Lloyd rounds from the
    4 smallest vec_ids) and report per-cluster size + inertia."""
    emb = load_table(spark, sf, "embeddings")
    return kmeans_summary(emb, "embedding", "vec_id", k=K, iterations=ITERATIONS)


def _sql_dist(vec: str, ctr: str) -> str:
    """Sequential squared-L2, same left-to-right IEEE sum as the Spark
    side's F.aggregate-over-zip_with."""
    d = f"(CAST({vec}[CAST(i AS INT)] AS DOUBLE) - {ctr}[CAST(i AS INT)])"
    return (
        f"list_sum(list_transform(range(1, len({vec}) + 1), i -> {d} * {d}))"
    )


def _sql_assign(name: str, centers: str) -> str:
    """One assign round: argmin cluster per vector, ties → lowest cid."""
    return f"""{name} AS (
  SELECT vec_id, cid, d FROM (
    SELECT vec_id, cid, d,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
    FROM (
      SELECT e.vec_id, c.cid, {_sql_dist("e.embedding", "c.c")} AS d
      FROM embeddings e CROSS JOIN {centers} c))
  WHERE rn = 1
)"""


def _sql_reestimate(mname: str, cname: str, assign: str, prev: str) -> str:
    """Per-(cluster, dim) rounded mean, reassembled to a centroid list;
    an empty cluster keeps its previous centroid (same rule as the
    operator)."""
    return f"""{mname} AS (
  SELECT a.cid, CAST(t.i - 1 AS INT) AS dim,
         round(avg(CAST(e.embedding[CAST(t.i AS INT)] AS DOUBLE)), {ROUND_DIGITS}) AS m
  FROM {assign} a
  JOIN embeddings e USING (vec_id),
       unnest(range(1, len(e.embedding) + 1)) AS t(i)
  GROUP BY 1, 2
),
{cname} AS (
  SELECT p.cid,
         CASE WHEN count(m.m) > 0 THEN list(m.m ORDER BY m.dim)
              ELSE any_value(p.c) END AS c
  FROM {prev} p LEFT JOIN {mname} m ON m.cid = p.cid
  GROUP BY p.cid
)"""


def sql_kmeans_ctes(k: int = K) -> str:
    """CTE chain replaying the full k-centroid, {ITERATIONS}-round Lloyd
    recursion, ending in ``a3`` (vec_id, cid, d) — the final assignment.
    Shared by the clustering report and the SemDeDup oracle."""
    return f"""seeds AS (
  SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {k}
),
c0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS c
  FROM seeds
),
{_sql_assign("a1", "c0")},
{_sql_reestimate("m1", "c1", "a1", "c0")},
{_sql_assign("a2", "c1")},
{_sql_reestimate("m2", "c2", "a2", "c1")},
{_sql_assign("a3", "c2")}"""


SQL_KMEANS_CLUSTERS = f"""
WITH {sql_kmeans_ctes()}
SELECT cid AS cluster_id,
       count(*) AS n_points,
       round(sum(d), 6) AS inertia
FROM a3
GROUP BY 1
"""


SEM_THRESHOLD = 0.25  # embeddings are near-isotropic (see q_embedding_near_dup)
SEM_K = 16  # more blocks than the report query: in-cluster pairs ∝ n²/k


def q_semdedup(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup per-cluster pruning report: k-means blocks then
    within-cluster cosine keep-first removal
    (operators/clustering.semdedup). The oracle chains the full Lloyd
    CTE recursion with the in-cluster pair check, so cluster sizes AND
    removal counts are value-checked. k=16 here (vs the report query's
    4): the whole point of SemDeDup's clustering step is that per-block
    pair work shrinks as n²/k."""
    emb = ensure_min_parallelism(
        load_table(spark, sf, "embeddings"),
        spark.sparkContext.defaultParallelism,
        "vec_id",
    )
    return semdedup(
        emb, "embedding", "vec_id", k=SEM_K, iterations=ITERATIONS,
        threshold=SEM_THRESHOLD,
    )


def _sql_cosine(a: str, b: str) -> str:
    dot = f"list_sum(list_transform(range(1, len({a}) + 1), i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    na = f"sqrt(list_sum(list_transform(range(1, len({a}) + 1), i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE))))"
    nb = f"sqrt(list_sum(list_transform(range(1, len({b}) + 1), i -> CAST({b}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))))"
    return f"(CASE WHEN {na} * {nb} > 0 THEN {dot} / ({na} * {nb}) ELSE 0.0 END)"


SQL_SEMDEDUP = f"""
WITH {sql_kmeans_ctes(SEM_K)},
sem AS (
  SELECT a3.vec_id AS id, a3.cid, e.embedding AS v
  FROM a3 JOIN embeddings e USING (vec_id)
),
pairs AS (
  SELECT l.id AS a, r.id AS b
  FROM sem l JOIN sem r ON l.cid = r.cid AND l.id < r.id
  WHERE {_sql_cosine('l.v', 'r.v')} >= {SEM_THRESHOLD}
),
removed AS (SELECT DISTINCT b AS id FROM pairs)
SELECT s.cid AS cluster_id,
       count(*) AS n_points,
       CAST(sum(CASE WHEN r.id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       CAST(sum(CASE WHEN r.id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM sem s LEFT JOIN removed r ON r.id = s.id
GROUP BY 1
"""


N_NEIGHBORS = 3


def q_knn_graph(spark: SparkSession, sf: str) -> DataFrame:
    """Cluster-blocked approximate kNN graph
    (operators/clustering.knn_graph): each vector's top-3 cosine
    neighbors within its own k=16 k-means block, deterministic
    (cos desc, neighbor asc) cut. The oracle chains the Lloyd CTEs with
    the in-cluster ranking, value-checking every edge."""
    emb = ensure_min_parallelism(
        load_table(spark, sf, "embeddings"),
        spark.sparkContext.defaultParallelism,
        "vec_id",
    )
    return knn_graph(
        emb, "embedding", "vec_id", k=SEM_K, iterations=ITERATIONS,
        n_neighbors=N_NEIGHBORS,
    )


SQL_KNN_GRAPH = f"""
WITH {sql_kmeans_ctes(SEM_K)},
sem AS (
  SELECT a3.vec_id AS id, a3.cid, e.embedding AS v
  FROM a3 JOIN embeddings e USING (vec_id)
),
pairs AS (
  SELECT l.id AS id, r.id AS neighbor, {_sql_cosine('l.v', 'r.v')} AS cos
  FROM sem l JOIN sem r ON l.cid = r.cid AND l.id <> r.id
)
SELECT id, neighbor, round(cos, 6) AS cosine, CAST(rank AS INT) AS rank
FROM (
  SELECT id, neighbor, cos,
         row_number() OVER (PARTITION BY id ORDER BY cos DESC, neighbor) AS rank
  FROM pairs)
WHERE rank <= {N_NEIGHBORS}
"""


def q_knn_recall(spark: SparkSession, sf: str) -> DataFrame:
    """Recall@3 of the cluster-blocked kNN graph against EXACT brute
    force — the approximation gate for ``knn_graph``, same pattern as
    ``ann_recall``/``minhash_recall``: both sides run in Spark (brute
    force is the all-pairs verifier, viable at oracle scale and bounded
    by blocking in production), the oracle replays both, and the recall
    number is value-checked per round. An approx edge counts as a hit
    when it appears in the exact top-3.

    Honest number: ~0.26 on the sf0.01 fixture — the embeddings are
    near-isotropic random vectors, the worst case for single-probe
    cluster blocking (blocks carry little neighborhood signal). On
    clustered data recall is high (see the planted-blob pytest); the
    production levers are multi-probe and larger k, exactly the knobs
    ``similarity.ivf_topk`` exposes."""
    from pyspark.sql import Window as W

    from sentiment_analysis_bigdata_spark.functions import vector as V

    emb = load_table(spark, sf, "embeddings")
    approx = q_knn_graph(spark, sf).select("id", "neighbor")
    base = emb.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("v"),
        V.norm(F.col("embedding")).alias("nrm"),
    )
    l, r = base.alias("l"), base.alias("r")
    denom = F.col("l.nrm") * F.col("r.nrm")
    pairs = l.join(r, F.col("l.id") != F.col("r.id")).select(
        F.col("l.id").alias("id"),
        F.col("r.id").alias("neighbor"),
        F.when(denom > 0, V.dot(F.col("l.v"), F.col("r.v")) / denom)
        .otherwise(F.lit(0.0))
        .alias("cos"),
    )
    w = W.partitionBy("id").orderBy(F.col("cos").desc(), F.col("neighbor"))
    exact = (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= N_NEIGHBORS)
        .select("id", "neighbor")
    )
    n_edges = approx.agg(F.count(F.lit(1)).alias("n_edges"))
    n_hits = approx.join(exact, ["id", "neighbor"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    return n_edges.crossJoin(F.broadcast(n_hits)).select(
        "n_edges",
        "n_hits",
        F.round(F.col("n_hits") / F.col("n_edges"), 6).alias("recall"),
    )


SQL_KNN_RECALL = f"""
WITH approx AS ({SQL_KNN_GRAPH}),
base AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
ep AS (
  SELECT l.id AS id, r.id AS neighbor, {_sql_cosine('l.v', 'r.v')} AS cos
  FROM base l JOIN base r ON l.id <> r.id
),
exact AS (
  SELECT id, neighbor FROM (
    SELECT id, neighbor,
           row_number() OVER (PARTITION BY id ORDER BY cos DESC, neighbor) AS rank
    FROM ep)
  WHERE rank <= {N_NEIGHBORS}
),
hits AS (
  SELECT count(*) AS n_hits
  FROM approx a WHERE EXISTS (
    SELECT 1 FROM exact e WHERE e.id = a.id AND e.neighbor = a.neighbor)
)
SELECT (SELECT count(*) FROM approx) AS n_edges,
       hits.n_hits AS n_hits,
       round(hits.n_hits / (SELECT count(*) FROM approx), 6) AS recall
FROM hits
"""


def q_cluster_diversity(spark: SparkSession, sf: str) -> DataFrame:
    """Per-cluster source-diversity report: after the same K=4 Lloyd
    clustering as ``kmeans_clusters``, join each vector's document source
    (vec_id ≡ doc_id in the fixture) and report per cluster the point
    count, distinct sources, Shannon source-entropy, and the dominant
    source's share — the balance check a curation run uses to spot
    clusters dominated by one crawl/source (candidates for capping).
    Shape: assignment (audited) + two model-sized aggregations; the
    entropy folds over cluster×source rows, never raw docs."""
    emb = load_table(spark, sf, "embeddings")
    docs = load_table(spark, sf, "documents").select(
        F.col("doc_id").alias("vec_id"), "source"
    )
    assigned = kmeans_lloyd(
        emb, "embedding", "vec_id", k=K, iterations=ITERATIONS
    ).select("vec_id", "cluster_id")
    cs = (
        assigned.join(docs, "vec_id")
        .groupBy("cluster_id", "source")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = cs.groupBy("cluster_id").agg(F.sum("n").alias("t"))
    per = cs.join(tot, "cluster_id").withColumn(
        "p", F.col("n") / F.col("t")
    )
    return per.groupBy("cluster_id").agg(
        F.first("t").alias("n_points"),
        F.countDistinct("source").alias("n_sources"),
        F.round(-F.sum(F.col("p") * F.log("p")), 6).alias("source_entropy"),
        F.round(F.max("p"), 6).alias("top_share"),
    )


SQL_CLUSTER_DIVERSITY = f"""
WITH {sql_kmeans_ctes()},
cs AS (
  SELECT a3.cid AS cluster_id, d.source, count(*) AS n
  FROM a3 JOIN documents d ON d.doc_id = a3.vec_id
  GROUP BY 1, 2
),
tot AS (SELECT cluster_id, CAST(sum(n) AS BIGINT) AS t FROM cs GROUP BY 1),
per AS (
  SELECT cs.cluster_id, cs.source, cs.n, tot.t,
         CAST(cs.n AS DOUBLE) / tot.t AS p
  FROM cs JOIN tot USING (cluster_id)
)
SELECT cluster_id,
       any_value(t) AS n_points,
       CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       round(-sum(p * ln(p)), 6) AS source_entropy,
       round(max(p), 6) AS top_share
FROM per
GROUP BY 1
"""


BCAST_K = 64  # exercises the broadcast-frame assign explicitly (auto
# threshold is 256; forcing it here keeps the oracle cheap while the
# k=512 pytest equality proof covers the auto switchover)


def q_kmeans_broadcast(spark: SparkSession, sf: str) -> DataFrame:
    """Same Lloyd recursion as ``kmeans_clusters`` but k=64 and the
    BROADCAST assign step (operators/clustering.py ``_assign_broadcast``):
    the one Lloyd loop every path shares collects the k×d means to the
    driver each round, and the centroids ship to executors as one
    broadcast array row instead of k inline literal folds (plan size
    O(1) in k). This is the large-k SemDeDup shape (Abbas et al. use
    k=50k); the oracle replays the identical recursion, proving the
    broadcast assign is value-exact.

    The scan is wrapped in ``ensure_min_parallelism`` (the posture
    ``semdedup_512`` already takes on the same table): the embeddings
    fixture is a single-row-group parquet, so without the pre-shuffle
    every n·k·d interpreted assign fold of the Lloyd loop runs in ONE
    task."""
    emb = ensure_min_parallelism(
        load_table(spark, sf, "embeddings"),
        spark.sparkContext.defaultParallelism,
        "vec_id",
    )
    return kmeans_summary(
        emb, "embedding", "vec_id", k=BCAST_K, iterations=ITERATIONS,
        assign_method="broadcast",
    )


SQL_KMEANS_BROADCAST = f"""
WITH {sql_kmeans_ctes(BCAST_K)}
SELECT cid AS cluster_id,
       count(*) AS n_points,
       round(sum(d), 6) AS inertia
FROM a3
GROUP BY 1
"""


SEM512_K = 512


def q_semdedup_512(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup at k=512 — the paper-realistic cluster count relative to
    corpus size (the real recipe scales k with n so block sizes stay
    bounded). Runs the broadcast-frame assign (k > 256 auto-threshold)
    with ``strict=False``: when the table has fewer than 512 rows (the
    sf0.01 oracle fixture) the seed set caps at the row count, exactly
    the SQL ``LIMIT 512`` semantics the oracle replays."""
    emb = ensure_min_parallelism(
        load_table(spark, sf, "embeddings"),
        spark.sparkContext.defaultParallelism,
        "vec_id",
    )
    return semdedup(
        emb, "embedding", "vec_id", k=SEM512_K, iterations=ITERATIONS,
        threshold=SEM_THRESHOLD, strict=False,
    )


SQL_SEMDEDUP_512 = f"""
WITH {sql_kmeans_ctes(SEM512_K)},
sem AS (
  SELECT a3.vec_id AS id, a3.cid, e.embedding AS v
  FROM a3 JOIN embeddings e USING (vec_id)
),
pairs AS (
  SELECT l.id AS a, r.id AS b
  FROM sem l JOIN sem r ON l.cid = r.cid AND l.id < r.id
  WHERE {_sql_cosine('l.v', 'r.v')} >= {SEM_THRESHOLD}
),
removed AS (SELECT DISTINCT b AS id FROM pairs)
SELECT s.cid AS cluster_id,
       count(*) AS n_points,
       CAST(sum(CASE WHEN r.id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       CAST(sum(CASE WHEN r.id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM sem s LEFT JOIN removed r ON r.id = s.id
GROUP BY 1
"""


SEM4096_K = 4096
SEM4096_TILE = 9  # 500-row fixtures tile to 4500 ≥ k, so k=4096 is REAL at every SF
SEM4096_DIMS = 16  # matryoshka-style truncation bounds the oracle's replay cost
SEM4096_SHIFT = 2.0**-12  # per-copy offset; a multiple of the 2^-16 grid
SEM4096_THRESHOLD = 0.9
SEM4096_GRID = 65536.0


def q_semdedup_4096(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup at k=4096 — VERDICT r5 #6: prove wall-time stays bounded
    as k grows 8× past ``semdedup_512``. Assign rides the GEMM path
    (operators/clustering.py ``_assign_gemm``): one BLAS matmul per
    Arrow batch — the FAISS assign shape, the honest wall-time answer at
    k ≥ 4096 where even the O(1)-plan broadcast HOF fold pays n·k·d
    interpreted ops. Exactness is by GRID QUANTIZATION (quantize_grid):
    on the 2^-16 lattice every distance/dot term and partial sum is
    exactly representable in float64, so BLAS order, FMA, and DuckDB's
    sequential list_sum all produce identical bits and the oracle replay
    is exact by arithmetic.

    The corpus is the embeddings table tiled ×9 (copy j shifts every
    dimension by j·2^-12 — planted near-dup groups with cosine ≈ 1, and
    4,500-18,000 rows so k=4096 has real seeds at every SF). Matryoshka
    16-dim truncation keeps the oracle's n×k recursive replay feasible.
    Output: block-size histogram with removal totals — the shape of the
    dedup yield curve."""
    from sentiment_analysis_bigdata_spark.operators.clustering import quantize_grid

    emb = load_table(spark, sf, "embeddings")
    base = emb.select(
        "vec_id",
        quantize_grid(
            F.slice(F.col("embedding").cast("array<double>"), 1, SEM4096_DIMS)
        ).alias("vq"),
    )
    tiled = base.select(
        F.col("vec_id"),
        F.col("vq"),
        F.explode(F.sequence(F.lit(0), F.lit(SEM4096_TILE - 1))).alias("j"),
    ).select(
        (F.col("vec_id") * SEM4096_TILE + F.col("j")).alias("vec_id"),
        F.transform(
            "vq", lambda x: x + F.col("j").cast("double") * F.lit(SEM4096_SHIFT)
        ).alias("v"),
    )
    tiled = ensure_min_parallelism(
        tiled, spark.sparkContext.defaultParallelism, "vec_id"
    )
    # barrier the tiled corpus ONCE (r12, "not yet optimized" #1): the
    # explode-×9 + repartition lineage is otherwise re-executed by every
    # consumer inside semdedup (kmeans seed collect, the Lloyd GEMM pass,
    # the final assign, and the pair-join base — 4 executions measured)
    tiled = barrier_lazy(tiled)
    rep = semdedup(
        tiled, "v", "vec_id", k=SEM4096_K, iterations=1,
        threshold=SEM4096_THRESHOLD, assign_method="gemm",
    )
    return (
        rep.groupBy("n_points")
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("n_removed").alias("n_removed"),
            F.sum("n_kept").alias("n_kept"),
        )
        .orderBy("n_points")
    )


def _sql_dist16(vec: str, ctr: str) -> str:
    d = f"({vec}[CAST(i AS INT)] - {ctr}[CAST(i AS INT)])"
    return (
        f"list_sum(list_transform(range(1, {SEM4096_DIMS} + 1), i -> {d} * {d}))"
    )


SQL_SEMDEDUP_4096 = f"""
WITH
tiled AS MATERIALIZED (
  SELECT e.vec_id * {SEM4096_TILE} + j.j AS vec_id,
         list_transform(e.embedding[1:{SEM4096_DIMS}],
           x -> floor(CAST(x AS DOUBLE) * {SEM4096_GRID}) / {SEM4096_GRID}
                + j.j * {SEM4096_SHIFT!r}) AS v
  FROM embeddings e, (SELECT unnest(range({SEM4096_TILE})) AS j) j
),
seeds AS (SELECT vec_id, v FROM tiled ORDER BY vec_id LIMIT {SEM4096_K}),
c0 AS MATERIALIZED (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS c FROM seeds
),
a1 AS MATERIALIZED (
  SELECT vec_id, cid FROM (
    SELECT t.vec_id, c.cid,
           row_number() OVER (PARTITION BY t.vec_id
                              ORDER BY {_sql_dist16("t.v", "c.c")}, c.cid) AS rn
    FROM tiled t CROSS JOIN c0 c)
  WHERE rn = 1
),
m1 AS (
  SELECT a.cid, CAST(u.i - 1 AS INT) AS dim,
         floor(avg(t.v[CAST(u.i AS INT)]) * {SEM4096_GRID}) / {SEM4096_GRID} AS m
  FROM a1 a JOIN tiled t USING (vec_id),
       unnest(range(1, {SEM4096_DIMS} + 1)) AS u(i)
  GROUP BY 1, 2
),
c1 AS MATERIALIZED (
  SELECT p.cid,
         CASE WHEN count(m.m) > 0 THEN list(m.m ORDER BY m.dim)
              ELSE any_value(p.c) END AS c
  FROM c0 p LEFT JOIN m1 m ON m.cid = p.cid
  GROUP BY p.cid
),
a2 AS MATERIALIZED (
  SELECT vec_id, cid FROM (
    SELECT t.vec_id, c.cid,
           row_number() OVER (PARTITION BY t.vec_id
                              ORDER BY {_sql_dist16("t.v", "c.c")}, c.cid) AS rn
    FROM tiled t CROSS JOIN c1 c)
  WHERE rn = 1
),
sem AS MATERIALIZED (
  SELECT a2.vec_id AS id, a2.cid, t.v,
         sqrt(list_sum(list_transform(t.v, x -> x * x))) AS nrm
  FROM a2 JOIN tiled t USING (vec_id)
),
pairs AS (
  SELECT l.id AS a, r.id AS b
  FROM sem l JOIN sem r ON l.cid = r.cid AND l.id < r.id
  WHERE CASE WHEN l.nrm * r.nrm > 0 THEN
          list_sum(list_transform(range(1, {SEM4096_DIMS} + 1),
            i -> l.v[CAST(i AS INT)] * r.v[CAST(i AS INT)])) / (l.nrm * r.nrm)
        ELSE 0.0 END >= {SEM4096_THRESHOLD}
),
removed AS (SELECT DISTINCT b AS id FROM pairs),
rep AS (
  SELECT s.cid, count(*) AS n_points,
         CAST(sum(CASE WHEN r.id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
         CAST(sum(CASE WHEN r.id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
  FROM sem s LEFT JOIN removed r ON r.id = s.id
  GROUP BY 1
)
SELECT n_points, count(*) AS n_clusters,
       CAST(sum(n_removed) AS BIGINT) AS n_removed,
       CAST(sum(n_kept) AS BIGINT) AS n_kept
FROM rep
GROUP BY 1
ORDER BY 1
"""


def q_silhouette_kmeans(spark: SparkSession, sf: str) -> DataFrame:
    """Per-cluster simplified silhouette of the k=4 clustering
    (operators/clustering.kmeans_silhouette): a = distance to own
    centroid, b = distance to nearest other centroid,
    s = (b−a)/max(a,b) — the O(n·k) clustering-quality score that
    replaces O(n²) pairwise silhouette at corpus scale. The oracle
    chains the full Lloyd CTE recursion, recomputes every point's
    distance to every final centroid, and replays the score — the
    quality number itself is value-checked."""
    emb = load_table(spark, sf, "embeddings")
    from sentiment_analysis_bigdata_spark.operators.clustering import (
        kmeans_silhouette,
    )

    return kmeans_silhouette(emb, "embedding", "vec_id", k=K, iterations=ITERATIONS)


SQL_SILHOUETTE_KMEANS = f"""
WITH {sql_kmeans_ctes()},
alld AS (
  SELECT e.vec_id, c.cid, {_sql_dist("e.embedding", "c.c")} AS d
  FROM embeddings e CROSS JOIN c2 c
),
sil AS (
  SELECT a.vec_id, a.cid, sqrt(a.d) AS ad, sqrt(min(x.d)) AS bd
  FROM a3 a JOIN alld x ON x.vec_id = a.vec_id AND x.cid <> a.cid
  GROUP BY a.vec_id, a.cid, a.d
)
SELECT cid AS cluster_id,
       count(*) AS n_points,
       round(avg(CASE WHEN greatest(ad, bd) > 0
                      THEN (bd - ad) / greatest(ad, bd)
                      ELSE 0.0 END), 6) AS mean_silhouette
FROM sil
GROUP BY 1
"""


def q_embedding_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Per-dimension embedding-distribution drift between two cohorts
    (here: even vs odd vec_id — in production, yesterday's embeddings vs
    today's after a model or preprocessing change): mean gap, variance
    ratio, and the two-sample z statistic per dimension — the vector
    analogue of the scalar score_drift_ks/psi gates (a retrained encoder
    that shifts dimension means silently poisons every downstream ANN
    index and dedup threshold).

    100 TB shape: one posexplode to (cohort, dim) partial sums — the
    aggregation state is 2·d cells regardless of corpus size — then a
    d-row join; identical double formulas on both engines, rounded at
    6dp."""
    emb = load_table(spark, sf, "embeddings")
    e = emb.select(
        (F.col("vec_id") % 2).alias("cohort"),
        F.posexplode("embedding").alias("d", "v"),
    ).withColumn("v", F.col("v").cast("double"))
    st = e.groupBy("cohort", "d").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("s"),
        F.sum(F.col("v") * F.col("v")).alias("sq"),
    )
    a = st.filter("cohort = 0").select(
        "d", F.col("n").alias("na"), F.col("s").alias("sa"), F.col("sq").alias("qa")
    )
    b = st.filter("cohort = 1").select(
        "d", F.col("n").alias("nb"), F.col("s").alias("sb"), F.col("sq").alias("qb")
    )
    ma, mb = F.col("sa") / F.col("na"), F.col("sb") / F.col("nb")
    va = F.col("qa") / F.col("na") - ma * ma
    vb = F.col("qb") / F.col("nb") - mb * mb
    return a.join(b, "d").select(
        "d",
        F.round(ma - mb, 6).alias("mean_gap"),
        F.round(va / vb, 6).alias("var_ratio"),
        F.round(
            F.abs(ma - mb) / F.sqrt(va / F.col("na") + vb / F.col("nb")), 6
        ).alias("z"),
    )


SQL_EMBEDDING_DRIFT = """
WITH e AS (
  SELECT vec_id % 2 AS cohort, di.i AS d, CAST(embedding[di.i + 1] AS DOUBLE) AS v
  FROM embeddings, unnest(range(len(embedding))) AS di(i)
),
st AS (
  SELECT cohort, d, count(*) AS n, sum(v) AS s, sum(v * v) AS sq
  FROM e GROUP BY 1, 2
),
a AS (SELECT d, n AS na, s AS sa, sq AS qa FROM st WHERE cohort = 0),
b AS (SELECT d, n AS nb, s AS sb, sq AS qb FROM st WHERE cohort = 1)
SELECT a.d,
       round(sa / na - sb / nb, 6) AS mean_gap,
       round((qa / na - (sa / na) * (sa / na))
             / (qb / nb - (sb / nb) * (sb / nb)), 6) AS var_ratio,
       round(abs(sa / na - sb / nb)
             / sqrt((qa / na - (sa / na) * (sa / na)) / na
                    + (qb / nb - (sb / nb) * (sb / nb)) / nb), 6) AS z
FROM a JOIN b USING (d)
"""


_ELBOW_KS = (2, 4, 8)


def q_kmeans_elbow(spark: SparkSession, sf: str) -> DataFrame:
    """Elbow curve — total inertia at k ∈ {2, 4, 8} (each the same
    deterministic 2-round Lloyd as kmeans_clusters) — the diagnostic
    read before fixing the SemDeDup/kNN-blocking cluster count: where
    the inertia drop flattens, extra clusters stop buying block-size
    reduction. Three bounded Lloyd runs; output is |ks| rows. Inertia is
    non-increasing in k BY CONSTRUCTION here because the k seeds are
    nested (smallest-id init): every k=4 centroid set contains the k=2
    seeds' basin structure refined further."""
    emb = load_table(spark, sf, "embeddings")
    parts = []
    for k in _ELBOW_KS:
        summary = kmeans_summary(emb, "embedding", "vec_id", k=k, iterations=ITERATIONS)
        parts.append(
            summary.agg(
                F.lit(k).alias("k"),
                F.sum("n_points").alias("n_points"),
                F.round(F.sum("inertia"), 6).alias("total_inertia"),
            )
        )
    out = parts[0]
    for frame in parts[1:]:
        out = out.unionByName(frame)
    return out.orderBy("k")


def _sql_elbow() -> str:
    def chain(k: int) -> str:
        sfx = f"k{k}"
        return f"""seeds_{sfx} AS (
  SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {k}
),
c0_{sfx} AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS c
  FROM seeds_{sfx}
),
{_sql_assign(f"a1_{sfx}", f"c0_{sfx}")},
{_sql_reestimate(f"m1_{sfx}", f"c1_{sfx}", f"a1_{sfx}", f"c0_{sfx}")},
{_sql_assign(f"a2_{sfx}", f"c1_{sfx}")},
{_sql_reestimate(f"m2_{sfx}", f"c2_{sfx}", f"a2_{sfx}", f"c1_{sfx}")},
{_sql_assign(f"a3_{sfx}", f"c2_{sfx}")}"""

    # two-level rounding mirrors the Spark side exactly: per-cluster
    # inertia rounds to 6dp (kmeans_summary's contract) BEFORE the
    # cross-cluster total — a raw 500-term sum differs in the last ULP
    # across engines' summation orders
    selects = [
        f"SELECT {k} AS k, CAST(sum(n_points) AS BIGINT) AS n_points, "
        f"round(sum(inertia), 6) AS total_inertia FROM ("
        f"SELECT cid, count(*) AS n_points, round(sum(d), 6) AS inertia "
        f"FROM a3_k{k} GROUP BY 1)"
        for k in _ELBOW_KS
    ]
    return (
        "WITH "
        + ",\n".join(chain(k) for k in _ELBOW_KS)
        + "\nSELECT * FROM (\n"
        + "\nUNION ALL\n".join(selects)
        + "\n) ORDER BY k"
    )


SQL_KMEANS_ELBOW = _sql_elbow()


QUERIES = {
    "kmeans_clusters": (q_kmeans_clusters, SQL_KMEANS_CLUSTERS),
    "kmeans_elbow": (q_kmeans_elbow, SQL_KMEANS_ELBOW),
    "embedding_drift": (q_embedding_drift, SQL_EMBEDDING_DRIFT),
    "silhouette_kmeans": (q_silhouette_kmeans, SQL_SILHOUETTE_KMEANS),
    "semdedup": (q_semdedup, SQL_SEMDEDUP),
    "knn_graph": (q_knn_graph, SQL_KNN_GRAPH),
    "knn_recall": (q_knn_recall, SQL_KNN_RECALL),
    "cluster_diversity": (q_cluster_diversity, SQL_CLUSTER_DIVERSITY),
    "kmeans_broadcast": (q_kmeans_broadcast, SQL_KMEANS_BROADCAST),
    "semdedup_512": (q_semdedup_512, SQL_SEMDEDUP_512),
    "semdedup_4096": (q_semdedup_4096, SQL_SEMDEDUP_4096),
}
