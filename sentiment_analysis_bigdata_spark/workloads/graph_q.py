"""Graph workload: 13 queries over three graphs, each backed by an
``operators/graph.py`` operator and checked by a DuckDB oracle that
replays the same fixed-round recursion as unrolled or recursive CTEs.

- The customer→supplier purchase graph (``_purchase_edges``; one directed
  edge per lineitem, who buys from whom): ``pagerank_purchases``,
  ``personalized_pagerank`` and ``hits_purchases`` — crawl-prioritization
  and source-scoring shapes of a training-data pipeline.
- The undirected co-purchase graph (``_copurchase_pairs``; parts ordered
  together in >= 2 orders, a < b): ``triangle_count``,
  ``clustering_coeffs``, ``label_propagation``, ``bfs_hops``,
  ``weighted_sssp``, ``kcore_parts``, ``link_prediction``,
  ``neighborhood_function`` and ``anf_hll``.
- The adjacent-token co-occurrence graph of ``documents``:
  ``textrank_keywords``.

The oracles share the same graphs as SQL fragments
(``SQL_PURCHASE_EDGES``, ``SQL_COPURCHASE_PAIRS``) and the PageRank
normalization and rounds (``SQL_PAGERANK_NORM``, ``SQL_PAGERANK_ROUNDS``);
each recursion step is the same IEEE arithmetic on both engines, so the
rounded values match exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sentiment_analysis_bigdata_spark.workloads.text_q import SQL_TOKS
from sentiment_analysis_bigdata_spark.operators.graph import (
    bfs_hops,
    clustering_coefficients,
    hits,
    kcore_peel,
    label_propagation,
    link_prediction_scores,
    neighborhood_function,
    neighborhood_hll,
    pagerank,
    personalized_pagerank,
    sssp_weighted,
    triangle_count,
)
from sentiment_analysis_bigdata_spark.plans.barrier import barrier_lazy
from sentiment_analysis_bigdata_spark.sources import load_table

PR_ITERATIONS = 3
PR_DAMPING = 0.85


def _purchase_edges(spark: SparkSession, sf: str) -> DataFrame:
    """The purchase graph: one directed (src, dst) edge customer→supplier
    per lineitem; parallel edges stay for the operators to collapse."""
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    return li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        F.concat(F.lit("c:"), F.col("o_custkey").cast("string")).alias("src"),
        F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("dst"),
    )


def _copurchase_pairs(spark: SparkSession, sf: str, *extra: Column) -> DataFrame:
    """The co-purchase graph: one (a, b) edge per part pair ordered together
    in >= 2 orders, a < b, plus ``extra`` columns over the pair frame's
    ``support``."""
    from sentiment_analysis_bigdata_spark.operators import affinity

    li = load_table(spark, sf, "lineitem")
    return affinity.co_occurrence_pairs(
        li, "l_orderkey", "l_partkey", min_support=2
    ).select(F.col("item_a").alias("a"), F.col("item_b").alias("b"), *extra)


def _lowest_nodes(edges: DataFrame) -> DataFrame:
    """The 3 smallest node ids of an (a, b) edge frame: the BFS/SSSP seeds."""
    nodes = (
        edges.select(F.col("a").alias("node"))
        .unionByName(edges.select(F.col("b").alias("node")))
        .distinct()
    )
    return nodes.orderBy("node").limit(3)


# DuckDB twins of _purchase_edges (collapsed to weights, as the operators
# do) and _copurchase_pairs
SQL_PURCHASE_EDGES = """SELECT 'c:' || CAST(o_custkey AS VARCHAR) AS src,
         's:' || CAST(l_suppkey AS VARCHAR) AS dst,
         CAST(count(*) AS DOUBLE) AS w
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
  GROUP BY 1, 2"""

SQL_COPURCHASE_PAIRS = """SELECT a.item AS a, c.item AS b, count(*) AS support
  FROM (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem) a
  JOIN (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem) c
    ON a.basket = c.basket
  WHERE a.item < c.item
  GROUP BY 1, 2 HAVING count(*) >= 2"""

# the node set of a (src, dst) edge CTE `e`, and its weighted-share edges
SQL_NODES = "nodes AS (SELECT DISTINCT src AS node FROM e UNION SELECT DISTINCT dst FROM e)"
SQL_PAGERANK_NORM = f"""outw AS (SELECT src, sum(w) AS ow FROM e GROUP BY 1),
norm AS (SELECT e.src, e.dst, e.w / outw.ow AS share FROM e JOIN outw ON outw.src = e.src),
{SQL_NODES}"""


def _sql_rounds(first: str, step: str) -> str:
    """CTEs r0 … r{PR_ITERATIONS}: ``first`` defines r0, ``step`` (with a
    ``{prev}`` placeholder) each later round from the one before."""
    rounds = [
        f"r{i} AS (\n" + step.format(prev=f"r{i - 1}") + "\n)"
        for i in range(1, PR_ITERATIONS + 1)
    ]
    return f"r0 AS ({first}),\n" + ",".join(rounds)


# the dense PageRank recursion over `norm` and `nodes`, final ranks in
# r{PR_ITERATIONS}
SQL_PAGERANK_ROUNDS = _sql_rounds(
    "SELECT node, 1.0 AS rank FROM nodes",
    f"""  SELECT n.node,
         {1.0 - PR_DAMPING} + {PR_DAMPING} * coalesce(sum(p.rank * m.share), 0) AS rank
  FROM nodes n
  LEFT JOIN norm m ON m.dst = n.node
  LEFT JOIN {{prev}} p ON p.node = m.src
  GROUP BY n.node""",
)


def q_pagerank_purchases(spark: SparkSession, sf: str) -> DataFrame:
    """Rank customers and suppliers in the bipartite purchase graph: one
    directed edge customer→supplier per lineitem (parallel edges collapse
    to weights inside the operator)."""
    ranks = pagerank(
        _purchase_edges(spark, sf), iterations=PR_ITERATIONS, damping=PR_DAMPING
    )
    return ranks.select("node", F.round("rank", 6).alias("rank"))


SQL_PAGERANK_PURCHASES = f"""
WITH e AS (
  {SQL_PURCHASE_EDGES}
),
{SQL_PAGERANK_NORM},
{SQL_PAGERANK_ROUNDS}
SELECT node, round(rank, 6) AS rank FROM r{PR_ITERATIONS}
"""



def q_triangle_count(spark: SparkSession, sf: str) -> DataFrame:
    """Triangle census of the co-purchase graph (parts ordered together in
    >= 2 orders): ordered-wedge formulation — each triangle x<y<z builds
    exactly once from wedge (x,y)+(y,z) closed by a semi join on (x,z), so
    two equi joins and no permutation double-counting
    (operators/graph.py triangle_count). The oracle replays the identical
    census; edges/wedges/triangles are all value-checked."""
    return triangle_count(_copurchase_pairs(spark, sf))


SQL_TRIANGLE_COUNT = f"""
WITH e AS (
  {SQL_COPURCHASE_PAIRS}
)
SELECT (SELECT count(*) FROM e) AS n_edges,
       (SELECT count(*) FROM e e1 JOIN e e2 ON e1.b = e2.a) AS n_wedges,
       (SELECT count(*) FROM e e1 JOIN e e2 ON e1.b = e2.a
          JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b) AS n_triangles
"""



def q_clustering_coeffs(spark: SparkSession, sf: str) -> DataFrame:
    """Per-node local clustering coefficient of the co-purchase graph
    (operators/graph.py clustering_coefficients): each triangle enumerates
    once (ordered wedges) and credits its three corners; cc = 2T/deg(deg-1),
    rounded for cross-engine float parity. Value-checks degree, per-node
    triangle count, AND the coefficient for every node."""
    out = clustering_coefficients(_copurchase_pairs(spark, sf))
    return out.select(
        "node", "degree", "n_triangles", F.round("clustering_coeff", 6).alias("cc")
    )


SQL_CLUSTERING_COEFFS = f"""
WITH e AS (
  {SQL_COPURCHASE_PAIRS}
),
deg AS (
  SELECT node, count(*) AS degree FROM (
    SELECT a AS node FROM e UNION ALL SELECT b FROM e
  ) GROUP BY 1
),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e e1 JOIN e e2 ON e1.b = e2.a
  WHERE EXISTS (SELECT 1 FROM e e3 WHERE e3.a = e1.a AND e3.b = e2.b)
),
per_node AS (
  SELECT node, count(*) AS n_triangles FROM (
    SELECT x AS node FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri
  ) GROUP BY 1
)
SELECT d.node, CAST(d.degree AS BIGINT) AS degree,
       CAST(coalesce(p.n_triangles, 0) AS BIGINT) AS n_triangles,
       round(CASE WHEN d.degree >= 2
                  THEN 2.0 * coalesce(p.n_triangles, 0) / (d.degree * (d.degree - 1))
                  ELSE 0.0 END, 6) AS cc
FROM deg d LEFT JOIN per_node p USING (node)
"""


LPA_ROUNDS = 4


def q_label_propagation(spark: SparkSession, sf: str) -> DataFrame:
    """Community detection over the co-purchase graph: 4 synchronous
    label-propagation rounds with the deterministic (count desc, label asc)
    vote (operators/graph.py label_propagation). Per-node community ids
    are value-checked; the oracle replays every round as unrolled
    MATERIALIZED CTEs."""
    return label_propagation(_copurchase_pairs(spark, sf), rounds=LPA_ROUNDS)


def _sql_label_propagation(rounds: int = LPA_ROUNDS) -> str:
    ctes = [
        f"pairs AS MATERIALIZED (\n  {SQL_COPURCHASE_PAIRS}\n)",
        """e AS MATERIALIZED (
  SELECT a AS s, b AS d FROM pairs UNION SELECT b, a FROM pairs
)""",
        "n AS MATERIALIZED (SELECT DISTINCT s AS node FROM e)",
        "l0 AS MATERIALIZED (SELECT node, node AS label FROM n)",
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"""c{r} AS MATERIALIZED (
  SELECT e.s AS node, l.label, count(*) AS cnt
  FROM e JOIN l{r - 1} l ON l.node = e.d
  GROUP BY 1, 2
)"""
        )
        ctes.append(
            f"""b{r} AS MATERIALIZED (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node ORDER BY cnt DESC, label ASC) AS rn
    FROM c{r}
  ) WHERE rn = 1
)"""
        )
        ctes.append(
            f"""l{r} AS MATERIALIZED (
  SELECT n.node, coalesce(b.label, n.node) AS label
  FROM n LEFT JOIN b{r} b USING (node)
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT node, label AS community FROM l{rounds}"
    )


SQL_LABEL_PROPAGATION = _sql_label_propagation()


BFS_MAX_HOPS = 6


def q_bfs_hops(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-source BFS over the co-purchase graph: hop distance to the
    nearest of the 3 smallest part ids in the graph, capped at 6 hops
    (operators/graph.py bfs_hops — frontier-proportional work per round).
    The oracle replays the capped recursion as a recursive CTE taking
    min(depth) per node."""
    # barrier the basket self-join ONCE: `edges` feeds both the operator
    # (which checkpoints its own symmetrized copy) and the nodes→seeds
    # derivation — without this the co-occurrence join executes twice
    # (r12; the pair frame is support-capped, so the checkpoint is small)
    edges = _copurchase_pairs(spark, sf).transform(barrier_lazy)
    return bfs_hops(edges, _lowest_nodes(edges), max_hops=BFS_MAX_HOPS)


# the symmetric co-purchase edges (s, d) and their node set, over `pairs`
SQL_SYMMETRIC_PAIRS = """e AS (SELECT a AS s, b AS d FROM pairs UNION SELECT b, a FROM pairs),
n AS (SELECT DISTINCT s AS node FROM e)"""

# the walks UNION (not UNION ALL) their (node, hop) states: equal states
# extend identically, and on a dense graph the number of distinct walks
# of <= 6 hops outgrows any disk
SQL_BFS_HOPS = f"""
WITH RECURSIVE
pairs AS (
  {SQL_COPURCHASE_PAIRS}
),
{SQL_SYMMETRIC_PAIRS},
seeds AS (SELECT node FROM n ORDER BY node LIMIT 3),
walk(node, hop) AS (
  SELECT node, 0 FROM seeds
  UNION
  SELECT e.d, walk.hop + 1
  FROM walk JOIN e ON e.s = walk.node
  WHERE walk.hop < {BFS_MAX_HOPS}
)
SELECT node, CAST(min(hop) AS INTEGER) AS hop FROM walk GROUP BY node
"""


def q_textrank_keywords(spark: SparkSession, sf: str) -> DataFrame:
    """TextRank (Mihalcea & Tarau 2004) keyword extraction: undirected
    token co-occurrence graph from adjacent-token bigrams across the
    corpus (self-loops dropped, parallel edges accumulate to weights),
    ranked with the SAME weighted PageRank recursion as
    ``pagerank_purchases`` (3 iterations, damping 0.85), top 10 by
    rounded rank with token tie-break.

    Scale shape: the edge frame is vocabulary-bounded (tokens × adjacent
    tokens), so every per-iteration join/agg runs over a model-sized
    frame, not the corpus; the corpus is touched exactly once to build
    bigram counts (explode → groupBy — one shuffle). At web scale the
    vocabulary would first pass through a df-cap / heavy-hitter filter
    (see ``heavy_hitters``) — here the synthetic vocabulary is tiny.
    """
    from sentiment_analysis_bigdata_spark.functions import text as TXT

    docs = load_table(spark, sf, "documents")
    toks = docs.select(TXT.tokenize_nonempty("text").alias("l")).where(
        F.size("l") >= 2
    )
    bi = toks.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("l") - 1),
                lambda i: F.struct(
                    F.element_at("l", i).alias("a"),
                    F.element_at("l", i + F.lit(1)).alias("b"),
                ),
            )
        ).alias("p")
    ).select("p.a", "p.b").where(F.col("a") != F.col("b"))
    # pre-aggregate bigram counts BEFORE symmetrizing: the union's two
    # branches then share one corpus tokenize+explode pass (identical
    # aggregate subtree → the exchange is reused; the un-aggregated form
    # exploded the corpus once per branch), and pagerank's own edge
    # collapse sums the per-direction counts to the exact same per-edge
    # weights (integer-valued doubles — both sum orders are exact)
    bi_w = bi.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("double").alias("w")
    )
    edges = bi_w.unionByName(
        bi_w.select(F.col("b").alias("a"), F.col("a").alias("b"), "w")
    )
    ranks = pagerank(
        edges, src_col="a", dst_col="b", weight_col="w",
        iterations=PR_ITERATIONS, damping=PR_DAMPING,
    )
    # rank on the ROUNDED value so the cutoff ordering is identical in
    # both engines even at float-drift ties; keyword breaks exact ties
    w = Window.orderBy(F.col("rank").desc(), F.col("keyword"))
    return (
        ranks.select(
            F.col("node").alias("keyword"), F.round("rank", 6).alias("rank")
        )
        .withColumn("pos", F.row_number().over(w))
        .where(F.col("pos") <= 10)
    )


SQL_TEXTRANK_KEYWORDS = f"""
WITH toks AS (SELECT {SQL_TOKS} AS l FROM documents),
bi AS (
  SELECT l[CAST(i AS INT)] AS a, l[CAST(i AS INT) + 1] AS b
  FROM toks, unnest(range(1, len(l))) AS t(i)
  WHERE len(l) >= 2 AND l[CAST(i AS INT)] <> l[CAST(i AS INT) + 1]
),
e AS (
  SELECT a AS src, b AS dst, CAST(count(*) AS DOUBLE) AS w
  FROM (SELECT a, b FROM bi UNION ALL SELECT b AS a, a AS b FROM bi)
  GROUP BY 1, 2
),
{SQL_PAGERANK_NORM},
{SQL_PAGERANK_ROUNDS}
SELECT keyword, rank, CAST(pos AS INT) AS pos FROM (
  SELECT node AS keyword, round(rank, 6) AS rank,
         row_number() OVER (ORDER BY round(rank, 6) DESC, node) AS pos
  FROM r{PR_ITERATIONS})
WHERE pos <= 10
"""


_KCORE_K = 4
_KCORE_ROUNDS = 3


def q_kcore_parts(spark: SparkSession, sf: str) -> DataFrame:
    """Bounded k-core peeling (operators/graph.kcore_peel) of the
    co-purchase graph: 3 peel rounds at k=4 extract the densely
    co-ordered part community (the dense-subgraph primitive; in curation
    the same peel isolates mutual near-duplicate cliques). The fixed
    round budget is what makes the recursion oracle-replayable — the
    oracle unrolls the identical 3 rounds as CTEs."""
    return kcore_peel(
        _copurchase_pairs(spark, sf), k=_KCORE_K, rounds=_KCORE_ROUNDS
    ).orderBy("node")


def _sql_kcore() -> str:
    rounds = []
    prev = "e0"
    for r in range(1, _KCORE_ROUNDS + 1):
        rounds.append(f"""
d{r} AS (
  SELECT node, count(*) AS degree FROM (
    SELECT a AS node FROM {prev} UNION ALL SELECT b AS node FROM {prev}
  ) GROUP BY 1
),
k{r} AS (SELECT node FROM d{r} WHERE degree >= {_KCORE_K}),
e{r} AS MATERIALIZED (
  SELECT e.a, e.b FROM {prev} e
  JOIN k{r} ka ON ka.node = e.a
  JOIN k{r} kb ON kb.node = e.b
)""")
        prev = f"e{r}"
    return f"""
WITH pairs AS (
  {SQL_COPURCHASE_PAIRS}
),
e0 AS MATERIALIZED (SELECT a, b FROM pairs),
{",".join(rounds)},
last_removed AS (
  SELECT (SELECT count(*) FROM e{_KCORE_ROUNDS - 1})
       - (SELECT count(*) FROM e{_KCORE_ROUNDS}) AS n
)
SELECT node, degree,
       (SELECT n FROM last_removed) = 0 AS converged
FROM (
  SELECT node, count(*) AS degree FROM (
    SELECT a AS node FROM e{_KCORE_ROUNDS}
    UNION ALL SELECT b AS node FROM e{_KCORE_ROUNDS}
  ) GROUP BY 1
)
ORDER BY node
"""


SQL_KCORE_PARTS = _sql_kcore()


def q_link_prediction(spark: SparkSession, sf: str) -> DataFrame:
    """Common-neighbor link prediction over the co-purchase graph
    (operators/graph.py ``link_prediction_scores``): every non-adjacent
    part pair sharing >= 2 co-purchase neighbors, scored by common-neighbor
    count, neighborhood Jaccard, and Adamic–Adar — the "customers who
    bought X also bought Y" recommendation shape, and in curation the
    knn-graph densification step. Candidates come from the wedge join only
    (never all-pairs); the oracle replays wedge generation, the NOT-EXISTS
    edge filter, and all three scores value-exactly."""
    out = link_prediction_scores(_copurchase_pairs(spark, sf), min_common=2)
    return out.select(
        "a",
        "b",
        "n_common",
        F.round("jaccard", 6).alias("jaccard"),
        F.round("adamic_adar", 6).alias("adamic_adar"),
    )


SQL_LINK_PREDICTION = f"""
WITH e AS (
  {SQL_COPURCHASE_PAIRS}
),
adj AS (SELECT a AS node, b AS nbr FROM e UNION ALL SELECT b, a FROM e),
deg AS (SELECT node, count(*) AS degree FROM adj GROUP BY 1),
wedges AS (
  SELECT l.nbr AS x, l.node AS mid, r.nbr AS z
  FROM adj l JOIN adj r ON l.node = r.node
  WHERE l.nbr < r.nbr
),
cand AS (
  SELECT w.x, w.z, count(*) AS n_common,
         sum(1.0 / ln(d.degree)) AS adamic_adar
  FROM wedges w JOIN deg d ON d.node = w.mid
  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = w.x AND e.b = w.z)
  GROUP BY w.x, w.z
  HAVING count(*) >= 2
)
SELECT c.x AS a, c.z AS b, CAST(c.n_common AS BIGINT) AS n_common,
       round(c.n_common / CAST(dx.degree + dz.degree - c.n_common AS DOUBLE), 6) AS jaccard,
       round(c.adamic_adar, 6) AS adamic_adar
FROM cand c
JOIN deg dx ON dx.node = c.x
JOIN deg dz ON dz.node = c.z
"""


def q_weighted_sssp(spark: SparkSession, sf: str) -> DataFrame:
    """Weighted shortest paths over the co-purchase graph
    (operators/graph.py sssp_weighted — bounded Bellman-Ford,
    relaxations in unrolled pairs): edge weight = max(1, 6 − support), so
    frequently co-purchased pairs are 'close' and a chain of strong ties
    can beat one weak direct edge — the weighted complement of
    ``bfs_hops`` on the same graph and seed set. Integer weights keep
    min() exact across engines; the oracle replays the ≤6-edge
    relaxation closure as a recursive CTE."""
    # barrier the basket self-join ONCE (same reason as q_bfs_hops): the
    # edge frame feeds the operator AND the nodes→seeds derivation, and
    # the co-occurrence join alone measures ~2.2 s warm at sf0.1 — it
    # used to execute twice per run (r12)
    edges = _copurchase_pairs(
        spark,
        sf,
        F.greatest(F.lit(1), F.lit(6) - F.col("support").cast("int")).alias("w"),
    ).transform(barrier_lazy)
    return sssp_weighted(edges, _lowest_nodes(edges), rounds=BFS_MAX_HOPS)


# walks UNION their (node, dist, steps) states, as in SQL_BFS_HOPS
SQL_WEIGHTED_SSSP = f"""
WITH RECURSIVE
pairs AS (
  {SQL_COPURCHASE_PAIRS}
),
we AS (
  SELECT a AS s, b AS d, GREATEST(1, 6 - CAST(support AS INTEGER)) AS w FROM pairs
  UNION ALL
  SELECT b, a, GREATEST(1, 6 - CAST(support AS INTEGER)) FROM pairs
),
e AS (SELECT s, d, min(w) AS w FROM we GROUP BY 1, 2),
n AS (SELECT DISTINCT s AS node FROM e),
seeds AS (SELECT node FROM n ORDER BY node LIMIT 3),
walk(node, dist, steps) AS (
  SELECT node, 0, 0 FROM seeds
  UNION
  SELECT e.d, walk.dist + e.w, walk.steps + 1
  FROM walk JOIN e ON e.s = walk.node
  WHERE walk.steps < {BFS_MAX_HOPS}
)
SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM walk GROUP BY node
"""


_PPR_SEEDS = ["c:1", "c:2", "c:4", "c:7", "c:10"]


def q_personalized_pagerank(spark: SparkSession, sf: str) -> DataFrame:
    """Personalized PageRank from a 5-customer seed set over the bipartite
    purchase graph (operators/graph.py ``personalized_pagerank``) — the
    crawl-frontier scorer: rank mass diffuses ONLY from the seeds, so the
    output is the seeds' structural neighborhood, not global importance.
    Nodes unreachable in ≤ 3 damped steps stay exactly 0 and are dropped;
    the oracle replays teleport construction and all three unrolled
    iterations, so the diffusion VALUES are checked, not just the
    reachable set."""
    edges = _purchase_edges(spark, sf)
    seeds = spark.createDataFrame([(s,) for s in _PPR_SEEDS], "node string")
    ranks = personalized_pagerank(
        edges, seeds, iterations=PR_ITERATIONS, damping=PR_DAMPING
    )
    return ranks.filter(F.col("rank") > 0).select(
        "node", F.round("rank", 6).alias("rank")
    )


def _sql_personalized_pagerank() -> str:
    seed_list = ", ".join(f"'{s}'" for s in _PPR_SEEDS)
    rounds = _sql_rounds(
        "SELECT node, tele AS rank FROM tele",
        f"""  SELECT t.node,
         {1.0 - PR_DAMPING} * t.tele
           + {PR_DAMPING} * coalesce(sum(p.rank * m.share), 0) AS rank
  FROM tele t
  LEFT JOIN norm m ON m.dst = t.node
  LEFT JOIN {{prev}} p ON p.node = m.src
  GROUP BY t.node, t.tele""",
    )
    return f"""
WITH e AS (
  {SQL_PURCHASE_EDGES}
),
{SQL_PAGERANK_NORM},
in_seeds AS (SELECT node FROM nodes WHERE node IN ({seed_list})),
ns AS (SELECT count(*) AS n FROM in_seeds),
tele AS (
  SELECT nodes.node,
         CASE WHEN s.node IS NOT NULL THEN 1.0 / ns.n ELSE 0.0 END AS tele
  FROM nodes LEFT JOIN in_seeds s ON s.node = nodes.node CROSS JOIN ns
),
{rounds}
SELECT node, round(rank, 6) AS rank FROM r{PR_ITERATIONS} WHERE rank > 0
"""


SQL_PERSONALIZED_PAGERANK = _sql_personalized_pagerank()


def q_hits_purchases(spark: SparkSession, sf: str) -> DataFrame:
    """HITS hubs & authorities over the bipartite purchase graph
    (operators/graph.py ``hits``): customers score as hubs (they choose
    many good suppliers), suppliers as authorities (chosen by many good
    hubs) — the mutual-reinforcement complement to pagerank_purchases on
    the same edges. The oracle unrolls all three alternating half-steps
    and the final max-normalization, so the reinforcement VALUES are
    checked, not just rankings."""
    out = hits(_purchase_edges(spark, sf), iterations=PR_ITERATIONS)
    return out.select(
        "node",
        F.round("hub", 6).alias("hub"),
        F.round("authority", 6).alias("authority"),
    )


def _sql_hits() -> str:
    steps = []
    prev_h = "h0"
    last_a = None
    for i in range(1, PR_ITERATIONS + 1):
        steps.append(
            f"""a{i} AS (
  SELECT n.node, coalesce(sum(h.hub), 0) AS auth
  FROM nodes n
  LEFT JOIN e ON e.dst = n.node
  LEFT JOIN {prev_h} h ON h.node = e.src
  GROUP BY n.node
)"""
        )
        steps.append(
            f"""h{i} AS (
  SELECT n.node, coalesce(sum(a.auth), 0) AS hub
  FROM nodes n
  LEFT JOIN e ON e.src = n.node
  LEFT JOIN a{i} a ON a.node = e.dst
  GROUP BY n.node
)"""
        )
        prev_h = f"h{i}"
        last_a = f"a{i}"
    return f"""
WITH e AS (
  {SQL_PURCHASE_EDGES}
),
{SQL_NODES},
h0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS hub FROM nodes),
{",".join(steps)},
mx AS (SELECT max(hub) AS mh FROM {prev_h}),
ma AS (SELECT max(auth) AS maa FROM {last_a})
SELECT h.node,
       round(CASE WHEN mx.mh > 0 THEN h.hub / mx.mh ELSE 0.0 END, 6) AS hub,
       round(CASE WHEN ma.maa > 0 THEN a.auth / ma.maa ELSE 0.0 END, 6)
         AS authority
FROM {prev_h} h JOIN {last_a} a USING (node)
CROSS JOIN mx CROSS JOIN ma
"""


SQL_HITS_PURCHASES = _sql_hits()


ANF_MAX_HOPS = 3


def q_neighborhood_function(spark: SparkSession, sf: str) -> DataFrame:
    """Exact neighborhood function N(h) over the co-purchase graph
    (operators/graph.py neighborhood_function — pair-level multi-source
    BFS, one frontier-vs-edges equi join per hop): for each hop 1..3 the
    number of ordered node pairs at exactly that shortest-path distance,
    the cumulative pair count, and the average per-node reach. This is
    the connectivity profile (ANF, Palmer et al. 2002) read before
    choosing a dedup-component or crawl propagation depth; the oracle
    replays the capped expansion as a recursive CTE and takes min(hop)
    per pair."""
    return neighborhood_function(_copurchase_pairs(spark, sf), max_hops=ANF_MAX_HOPS)


# c(hop, n_pairs): ordered co-purchase pairs at exactly `hop` (>= 1), and
# the node set n
SQL_PAIRS_PER_HOP = f"""
WITH RECURSIVE
pairs AS (
  {SQL_COPURCHASE_PAIRS}
),
{SQL_SYMMETRIC_PAIRS},
walk(src, node, hop) AS (
  SELECT node, node, 0 FROM n
  UNION
  SELECT walk.src, e.d, walk.hop + 1
  FROM walk JOIN e ON e.s = walk.node
  WHERE walk.hop < {ANF_MAX_HOPS}
),
m AS (SELECT src, node, min(hop) AS hop FROM walk GROUP BY 1, 2),
c AS (SELECT CAST(hop AS INTEGER) AS hop, count(*) AS n_pairs FROM m WHERE hop >= 1 GROUP BY 1)"""

SQL_NEIGHBORHOOD_FUNCTION = f"""{SQL_PAIRS_PER_HOP}
SELECT hop, n_pairs,
       CAST(sum(n_pairs) OVER (ORDER BY hop) AS BIGINT) AS cum_pairs,
       round(sum(n_pairs) OVER (ORDER BY hop)
             / (SELECT CAST(count(*) AS DOUBLE) FROM n), 6) AS avg_reach
FROM c ORDER BY hop
"""


def q_anf_hll(spark: SparkSession, sf: str) -> DataFrame:
    """HyperBall approximate neighborhood function checked against the
    exact pair-BFS twin — the same measured-recall contract as the ANN
    and HLL-rollup lanes: per hop the EXACT cumulative pair count (which
    the oracle recomputes) plus a boolean pinning the HLL estimate
    within 10% of it, so a broken sketch union turns the row red. The
    sketch path is the one that runs at 100 TB (nodes-sized state); the
    exact path is its certification."""
    edges = _copurchase_pairs(spark, sf)
    exact = neighborhood_function(edges, max_hops=ANF_MAX_HOPS).select(
        "hop", "cum_pairs"
    )
    approx = neighborhood_hll(edges, max_hops=ANF_MAX_HOPS)
    return (
        exact.join(approx, "hop")
        .select(
            "hop",
            "cum_pairs",
            (
                F.abs(F.col("cum_pairs_est") - F.col("cum_pairs"))
                <= 0.10 * F.col("cum_pairs")
            ).alias("est_within_10pct"),
        )
        .orderBy("hop")
    )


SQL_ANF_HLL = f"""{SQL_PAIRS_PER_HOP}
SELECT hop, CAST(sum(n_pairs) OVER (ORDER BY hop) AS BIGINT) AS cum_pairs,
       TRUE AS est_within_10pct
FROM c ORDER BY hop
"""


QUERIES = {
    "pagerank_purchases": (q_pagerank_purchases, SQL_PAGERANK_PURCHASES),
    "neighborhood_function": (q_neighborhood_function, SQL_NEIGHBORHOOD_FUNCTION),
    "anf_hll": (q_anf_hll, SQL_ANF_HLL),
    "personalized_pagerank": (q_personalized_pagerank, SQL_PERSONALIZED_PAGERANK),
    "hits_purchases": (q_hits_purchases, SQL_HITS_PURCHASES),
    "weighted_sssp": (q_weighted_sssp, SQL_WEIGHTED_SSSP),
    "kcore_parts": (q_kcore_parts, SQL_KCORE_PARTS),
    "textrank_keywords": (q_textrank_keywords, SQL_TEXTRANK_KEYWORDS),
    "label_propagation": (q_label_propagation, SQL_LABEL_PROPAGATION),
    "bfs_hops": (q_bfs_hops, SQL_BFS_HOPS),
    "triangle_count": (q_triangle_count, SQL_TRIANGLE_COUNT),
    "clustering_coeffs": (q_clustering_coeffs, SQL_CLUSTERING_COEFFS),
    "link_prediction": (q_link_prediction, SQL_LINK_PREDICTION),
}
