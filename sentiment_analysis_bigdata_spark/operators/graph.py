"""Graph operators over Spark edge lists: twelve link-analysis, path,
community and cohesion primitives of a training-data pipeline (crawl
prioritization, source expansion, co-purchase communities, the
mutually-near-duplicate cliques a pairwise threshold misses).

- Diffusion over directed, weighted edges: :func:`pagerank`,
  :func:`personalized_pagerank` (seed teleport, sparse rank frame) and
  :func:`hits` (hubs and authorities).
- Paths over undirected edges: :func:`bfs_hops` (frontier BFS from a seed
  set), :func:`sssp_weighted` (bounded Bellman-Ford, relaxations in
  unrolled pairs), :func:`neighborhood_function` (exact per-hop pair
  counts) and :func:`neighborhood_hll` (its HyperBall sketch twin).
- Communities and cohesion: :func:`label_propagation`, :func:`kcore_peel`,
  :func:`triangle_count`, :func:`clustering_coefficients` and
  :func:`link_prediction_scores`.

Every operator is built from a few shared blocks, so one edge frame has
one derivation:

- ``_weighted_shares``: parallel edges collapse to summed weights, each
  divided by its source's out-weight, plus the node set; both PageRank
  variants read it every round, and ``_gather`` is their per-destination
  incoming sum (one join + one aggregation on the same key, so AQE reuses
  the exchange; no sort anywhere).
- ``_symmetric``: both orientations of an undirected edge list, one row
  per ordered pair, materialized once by an eager barrier; ``_canonical``: one ``a < b`` row per undirected edge,
  self-loops dropped.
- ``_degrees`` over an ``a``/``b`` edge frame, and ``_wedge_triangles``:
  ordered wedges (x,y)+(y,z) closed by edge (x,z), so every triangle
  x < y < z is built exactly once.
- ``_bfs_layers``: the frontier loop of node-level BFS and pair-level ANF;
  each hop joins the frontier to the edge list, drops visited keys with
  one anti join, and stops early on an empty frontier.

Iterative operators cap plan growth with ``plans.barrier`` (a
``localCheckpoint`` per round, or a reliable checkpoint when
``SPARK_GRAFT_CHECKPOINT_DIR`` is set); the PageRank loops run a fixed,
caller-set number of rounds over lazily barriered inputs. PageRank uses
the classic per-node form ``r = (1-d) + d·Σ contrib`` (Page et al. 1999):
dangling nodes keep the base rank ``1 - d`` and no round needs a global
normalization.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from sentiment_analysis_bigdata_spark.plans.barrier import barrier_eager, barrier_lazy


def _weighted_shares(
    edges: DataFrame, src_col: str, dst_col: str, weight_col: str | Column | None
) -> tuple[DataFrame, DataFrame]:
    """``(norm, nodes)``: per distinct (src, dst) its share of the source's
    total out-weight as (_src, _dst, _share), and the (node) set. Parallel
    edges collapse once, behind a lazy barrier: norm and nodes both derive
    from the collapsed frame, and without it the (possibly expensive) raw
    edge derivation executes once per derived frame. norm and nodes are
    barriered too, as every round's join reuses them."""
    w = (
        F.lit(1.0)
        if weight_col is None
        else (F.col(weight_col) if isinstance(weight_col, str) else weight_col)
    )
    e = edges.select(
        F.col(src_col).alias("_src"), F.col(dst_col).alias("_dst"), w.alias("_w")
    )
    agg_e = e.groupBy("_src", "_dst").agg(F.sum("_w").alias("_w")).transform(
        barrier_lazy
    )
    out_w = agg_e.groupBy("_src").agg(F.sum("_w").alias("_out_w"))
    norm = agg_e.join(out_w, "_src").select(
        "_src", "_dst", (F.col("_w") / F.col("_out_w")).alias("_share")
    ).transform(barrier_lazy)
    # agg_e keeps the distinct (src, dst) pairs of e, so its node set is
    # the raw edge list's
    return norm, _endpoints(agg_e).transform(barrier_lazy)


def _endpoints(e: DataFrame) -> DataFrame:
    """The distinct (node) set of an (_src, _dst) edge frame."""
    return (
        e.select(F.col("_src").alias("node"))
        .unionByName(e.select(F.col("_dst").alias("node")))
        .distinct()
    )


def _gather(norm: DataFrame, ranks: DataFrame) -> DataFrame:
    """One PageRank round's incoming mass: (node, _in) = Σ rank(src) ·
    share over the in-edges of every node a ranked source reaches."""
    contrib = norm.join(
        ranks, norm._src == ranks.node
    ).select("_dst", (F.col("rank") * F.col("_share")).alias("_c"))
    return contrib.groupBy(F.col("_dst").alias("node")).agg(
        F.sum("_c").alias("_in")
    )


def _symmetric(edges: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Both orientations of an undirected edge list as (s, d), one row per
    ordered pair, materialized once so no round re-runs the upstream edge
    derivation."""
    fwd = edges.select(F.col(a_col).alias("s"), F.col(b_col).alias("d"))
    return (
        fwd.unionByName(edges.select(F.col(b_col).alias("s"), F.col(a_col).alias("d")))
        .distinct()
        .transform(barrier_eager)
    )


def _canonical(edges: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """One (a, b) row with a < b per undirected edge, self-loops dropped.
    Canonicalizes BEFORE distinct: a list carrying both orientations would
    otherwise count every edge twice."""
    return (
        edges.select(
            F.least(F.col(a_col), F.col(b_col)).alias("a"),
            F.greatest(F.col(a_col), F.col(b_col)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _degrees(e: DataFrame) -> DataFrame:
    """(node, degree) of an undirected (a, b) edge frame, one row per edge."""
    return (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )


def _wedge_triangles(e: DataFrame) -> tuple[DataFrame, DataFrame]:
    """``(wedges, triangles)`` of a canonical a < b edge frame: ordered
    wedges (y, x, z) from (x,y)+(y,z), and the ones edge (x,z) closes —
    each triangle x < y < z exactly once, from two equi joins."""
    e1 = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = e.select(F.col("a").alias("y"), F.col("b").alias("z"))
    wedges = e1.join(e2, "y")
    closed = wedges.join(
        e.select(F.col("a").alias("x"), F.col("b").alias("z")),
        ["x", "z"],
        "left_semi",
    )
    return wedges, closed


def _bfs_layers(
    e: DataFrame, start: DataFrame, keys: list[str], max_hops: int
) -> tuple[DataFrame, list[DataFrame]]:
    """Frontier BFS over a symmetric (s, d) edge frame from ``start``
    (``keys`` + hop 0; the last key is the node the frontier stands on):
    each hop joins the frontier to ``e.s``, keeps the distinct unvisited
    keys by one anti join against the visited set, and barriers the new
    layer; an empty layer stops the loop. Returns the visited set (keys,
    hop) and the non-empty layers. Node-level BFS walks keys ``[node]``;
    the exact neighborhood function walks ``[src, dst]`` pairs."""
    *carried, node = keys
    visited, frontier, layers = start, start.select(*keys), []
    for h in range(1, max_hops + 1):
        nxt = (
            frontier.join(e, frontier[node] == e.s)
            .select(*carried, F.col("d").alias(node))
            .distinct()
            .join(visited.select(*keys), keys, "left_anti")
            .withColumn("hop", F.lit(h))
            .transform(barrier_eager)
        )
        if nxt.isEmpty():
            break
        layers.append(nxt)
        visited = visited.unionByName(nxt).transform(barrier_eager)
        frontier = nxt.select(*keys)
    return visited, layers


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | Column | None = None,
    iterations: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Weighted PageRank: returns (node, rank) for every node appearing as
    a source or destination. ``weight_col=None`` treats every edge as
    weight 1; parallel edges accumulate.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    norm, nodes = _weighted_shares(edges, src_col, dst_col, weight_col)
    ranks = nodes.withColumn("rank", F.lit(1.0))
    base = F.lit(1.0 - damping)
    for _ in range(iterations):
        ranks = (
            nodes.join(_gather(norm, ranks), "node", "left")
            .select(
                "node",
                (base + damping * F.coalesce(F.col("_in"), F.lit(0.0))).alias(
                    "rank"
                ),
            )
        )
    return ranks


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | Column | None = None,
    iterations: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Personalized PageRank (Haveliwala 2002): teleport mass returns to a
    SEED set instead of uniformly — the crawl-frontier/source-expansion
    scorer ("given these known-good domains, which unvisited nodes are
    closest in link structure?"). ``seeds`` is a (node) frame; teleport is
    1/|S∩V| on in-graph seeds, 0 elsewhere, and ranks start at the
    teleport vector, so after k rounds rank mass is exactly the k-step
    damped diffusion from the seeds (nodes unreachable from S stay 0 —
    unlike global PageRank there is no floor rank).

    Same per-iteration shape as :func:`pagerank` (one join + one agg on
    the dst key, edge normalization reused every round). The seed frame
    is intersected with the node set declaratively and its count rides a
    1-row broadcast crossJoin — nothing collects to the driver, so a
    100 TB edge list with a million-node seed set runs the same plan.

    The diffusion runs SPARSE (r12): the rank frame carries only nodes
    with teleport mass or incoming mass — everything else is EXACTLY 0
    by the unreachable-stays-zero semantics, and an exact zero
    contributes exactly nothing to a float sum (x + 0.0 == x), so
    per-iteration work is proportional to the seeds' k-step
    neighborhood, not |V| (the whole point of personalization: 5 seeds
    on a 100 TB graph touch a vanishing fraction of it). The dense
    (node, rank) contract is restored by ONE final left join against
    the node set with ``coalesce(0.0)``.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    norm, nodes = _weighted_shares(edges, src_col, dst_col, weight_col)
    in_seeds = nodes.join(
        seeds.select(F.col(seeds.columns[0]).alias("node")).distinct(),
        "node",
        "left_semi",
    )
    n_seeds = in_seeds.agg(F.count(F.lit(1)).alias("_ns"))
    tele = (
        in_seeds.crossJoin(F.broadcast(n_seeds))
        .select("node", (F.lit(1.0) / F.col("_ns")).alias("tele"))
        .transform(barrier_lazy)
    )
    ranks = tele.select("node", F.col("tele").alias("rank"))
    for _ in range(iterations):
        # full-outer sparse merge: a node missing from `tele` has
        # teleport exactly 0, one missing from the gather received
        # exactly 0 — identical arithmetic to the dense left join
        ranks = (
            tele.join(_gather(norm, ranks), "node", "full_outer")
            .select(
                "node",
                (
                    F.lit(1.0 - damping) * F.coalesce(F.col("tele"), F.lit(0.0))
                    + F.lit(damping) * F.coalesce(F.col("_in"), F.lit(0.0))
                ).alias("rank"),
            )
        )
    return nodes.join(ranks, "node", "left").select(
        "node", F.coalesce("rank", F.lit(0.0)).alias("rank")
    )


def hits(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 3,
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999): authority(v) = Σ hub over
    in-neighbors, hub(v) = Σ authority over out-neighbors, alternated for
    a fixed iteration count — the classic complement to PageRank when the
    graph is bipartite-ish (here: customers are hubs choosing suppliers;
    suppliers are authorities chosen by many good hubs).

    Spark-first shape, same as :func:`pagerank`: the distinct edge frame
    is reused every round; each half-step is ONE join + ONE aggregation
    on the gathered key. Normalization is deferred to a single final
    max-division (scores stay bounded at these iteration counts: they
    grow like degree^k, far inside double range) — per-round L2 norms
    would add two global aggregates per iteration for no semantic gain
    at fixed k. Returns (node, hub, authority) for every node.

    The loop runs SPARSE (r12): score frames inside the loop carry only
    nodes the gather can reach — every ``_src`` after a hub step, every
    ``_dst`` after an authority step — and the dense node set joins back
    exactly once at the end with ``coalesce(0.0)``. A node absent from a
    sparse frame has score exactly 0.0, and an exact zero contributes
    exactly nothing to a float sum (x + 0.0 == x), so the values are the
    ones the dense loop computed while the plan drops two node-set joins
    per iteration (6 shuffle stages at the default 3 iterations;
    measured 6.6 s → 4.8 s warm on the sf0.1 purchase graph, and cold
    codegen drops superlinearly with the operator count: 36 s → 6.4 s).
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    e = edges.select(
        F.col(src_col).alias("_src"), F.col(dst_col).alias("_dst")
    ).distinct().transform(barrier_lazy)
    nodes = _endpoints(e).transform(barrier_lazy)
    # dense start: every src is covered, so the first gather sees the
    # same hub=1.0 rows the dense form did
    hubs = nodes.withColumn("hub", F.lit(1.0))
    a_in = None
    for _ in range(iterations):
        # authority update: gather hub scores along in-edges (sparse —
        # only _dst nodes; pure hubs have authority exactly 0)
        a_in = (
            e.join(hubs, e._src == hubs.node)
            .groupBy(F.col("_dst").alias("node"))
            .agg(F.sum("hub").alias("_a"))
        )
        # hub update: gather fresh authority scores along out-edges
        # (sparse — only _src nodes; every _dst carries an _a row, so
        # nothing the dense form summed is missing)
        hubs = (
            e.join(a_in, e._dst == a_in.node)
            .groupBy(F.col("_src").alias("node"))
            .agg(F.sum("_a").alias("hub"))
        )
    maxes = hubs.agg(F.max("hub").alias("_mh")).crossJoin(
        F.broadcast(a_in.agg(F.max("_a").alias("_ma")))
    )
    return (
        nodes.join(hubs, "node", "left")
        .join(a_in, "node", "left")
        .crossJoin(F.broadcast(maxes))
        .select(
            "node",
            F.when(F.col("_mh") > 0, F.coalesce("hub", F.lit(0.0)) / F.col("_mh"))
            .otherwise(F.lit(0.0))
            .alias("hub"),
            F.when(F.col("_ma") > 0, F.coalesce("_a", F.lit(0.0)) / F.col("_ma"))
            .otherwise(F.lit(0.0))
            .alias("authority"),
        )
    )


def triangle_count(
    edges: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    max_degree: int | None = None,
) -> DataFrame:
    """Global triangle census over an undirected edge list — the classic
    graph cohesion statistic (clustering coefficients, community density,
    spam/bot subgraph detection on link graphs).

    Input edges must be canonicalized a < b (one row per undirected edge).
    The count uses the ordered-wedge formulation: every triangle
    {x < y < z} is generated EXACTLY once as wedge (x,y)+(y,z) closed by
    edge (x,z) — two equi joins, no permutation double-counting, no
    post-hoc division. Wedge fan-out is Σ deg⁺·deg⁻, so ``max_degree``
    optionally drops hub nodes first (the same cap discipline as the
    basket/df caps elsewhere): on power-law graphs this bounds the shuffle
    at the cost of ignoring hub-centered triangles, which is the standard
    approximate-census trade.

    Returns one row: (n_edges, n_wedges, n_triangles).
    """
    e = edges.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
    if max_degree is not None:
        keep = _degrees(e).filter(F.col("degree") <= max_degree).select("node")
        e = (
            e.join(keep.withColumnRenamed("node", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("node", "b"), "b", "left_semi")
            .select("a", "b")
        )
    wedges, closed = _wedge_triangles(e)
    return (
        e.agg(F.count(F.lit(1)).alias("n_edges"))
        .crossJoin(wedges.agg(F.count(F.lit(1)).alias("n_wedges")))
        .crossJoin(closed.agg(F.count(F.lit(1)).alias("n_triangles")))
    )


def clustering_coefficients(
    edges: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """Per-node local clustering coefficient over an undirected a<b edge
    list: cc(v) = 2·T(v) / (deg(v)·(deg(v)−1)) — how close each node's
    neighborhood is to a clique; the node-level cohesion signal behind
    community detection and link-spam scoring.

    Triangles enumerate once via the ordered-wedge join (see
    :func:`triangle_count`); each triangle {x,y,z} then credits all three
    corners through a 3-element explode. Degrees are one aggregation over
    the symmetrized edge list. Every stage is an equi join or a keyed agg
    with map-side partials — no cartesian anywhere.

    Returns (node, degree, n_triangles, clustering_coeff) for every node
    in the edge list (cc = 0 when degree < 2).
    """
    e = edges.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
    deg = _degrees(e)
    _, triangles = _wedge_triangles(e)
    per_node = (
        triangles.select(
            F.explode(F.array(F.col("x"), F.col("y"), F.col("z"))).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return deg.join(per_node, "node", "left").select(
        "node",
        "degree",
        F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
        F.when(
            F.col("degree") >= 2,
            2.0
            * F.coalesce("n_triangles", F.lit(0))
            / (F.col("degree") * (F.col("degree") - 1)),
        )
        .otherwise(F.lit(0.0))
        .alias("clustering_coeff"),
    )


def label_propagation(
    edges: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    rounds: int = 4,
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et al.
    2007) with a DETERMINISTIC vote: each round every node adopts the most
    frequent label among its neighbors, ties broken by smallest label —
    so a fixed round count yields an engine-independent labeling that a
    SQL oracle can replay round-for-round (the async/random-order variant
    of the original paper converges faster but is irreproducible; the
    synchronous form is what distributed implementations use).

    Scale shape: per round one (edge ⋈ labels) equi join on the node key,
    one (node, label) count aggregation, one per-node argmax window —
    PageRank's exact join+agg skeleton, reusing the same partitioning key
    every round. ``localCheckpoint`` per round keeps lineage flat (the
    connected-components guard). Isolated nodes keep their own label.

    Returns (node, community) for every node of the undirected graph.
    """
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    # materialized once: otherwise every round re-runs the upstream edge
    # generation (e.g. the co-purchase basket self-join), which dominated
    # the measured cost
    e = _symmetric(edges, a_col, b_col)
    nodes = e.select(F.col("s").alias("node")).distinct().transform(barrier_eager)
    labels = nodes.withColumn("label", F.col("node"))
    for _ in range(rounds):
        neigh = e.join(
            labels.select(F.col("node").alias("d"), "label"), "d"
        ).select(F.col("s").alias("node"), "label")
        counts = neigh.groupBy("node", "label").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        # deterministic argmax (cnt desc, label asc) as ONE aggregation:
        # max(struct(cnt, -label)) — labels are numeric node ids, so the
        # negation turns "smallest label" into the struct-max tie-break
        # (one shuffle; the window form added a per-partition sort)
        best = counts.groupBy("node").agg(
            F.max(
                F.struct(F.col("cnt"), (-F.col("label")).alias("nl"))
            ).alias("m")
        ).select("node", (-F.col("m.nl")).alias("label"))
        # best covers EVERY node: e is symmetric so each node in `nodes`
        # has >= 1 neighbor, and labels covers all nodes inductively
        # (base: labels = nodes; step: best's key set = distinct e.s =
        # nodes) — so the former nodes-left-join + coalesce fallback was
        # an identity and its per-round shuffle is dropped (r12)
        labels = best.transform(barrier_eager)
    return labels.select("node", F.col("label").alias("community"))


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    seed_col: str = "node",
    max_hops: int = 10,
) -> DataFrame:
    """Unweighted shortest-path (hop) distances from a seed set by
    frontier BFS: (node, hop) for every node within ``max_hops`` of any
    seed — multi-source, so "distance to nearest seed" (the reachability /
    blast-radius / crawl-depth primitive).

    Scale shape: per hop ONE equi join of the FRONTIER (not the full
    visited set) against the edge list plus one anti join to drop
    already-visited nodes — work per round is proportional to the
    frontier, total work to edges-within-radius. ``localCheckpoint`` per
    round keeps lineage flat; an empty frontier stops early. The hop cap
    bounds the recursion for the oracle (a DuckDB recursive CTE with the
    same cap) and for pathological graphs.
    """
    e = _symmetric(edges, a_col, b_col)
    dist = (
        seeds.select(F.col(seed_col).alias("node"))
        .distinct()
        .withColumn("hop", F.lit(0))
        .transform(barrier_eager)
    )
    return _bfs_layers(e, dist, ["node"], max_hops)[0]


def sssp_weighted(
    edges: DataFrame,
    seeds: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    w_col: str = "w",
    seed_col: str = "node",
    rounds: int = 6,
) -> DataFrame:
    """Weighted single-source (multi-seed) shortest paths by bounded
    Bellman-Ford: (node, dist) = min total weight over any path of at
    most ``rounds`` edges from the nearest seed — the weighted complement
    of :func:`bfs_hops` (hop counts ignore edge strength; here a chain of
    strong ties can beat a single weak direct edge).

    INTEGER weights keep ``min()`` exact on both engines (no float-sum
    ordering surface), and the FIXED round budget makes the recursion
    oracle-replayable: a recursive CTE enumerating paths of <= ``rounds``
    edges and taking ``min(dist)`` computes the identical relaxation
    closure.

    Scale shape: relaxations run in UNROLLED PAIRS (r13): per outer
    round, TWO chained frontier⋈edges relaxations feed ONE min-merge
    against the distance table and ONE improved-frontier derivation —
    halving the per-round barrier/action cadence (two
    ``localCheckpoint`` materializations + one isEmpty per TWO edge
    relaxations instead of per one). Values are provably unchanged: the
    second relaxation extends the UN-merged first-step candidates, a
    superset of what the per-round delta form would extend, and any
    inflated intermediate candidate is absorbed by the min-merge (every
    candidate is a real ≤k-edge path weight; min over a superset of the
    same path set is identical — fuzz-pinned in tests/test_iterative.py
    (``TestSsspWeighted.test_fuzz_matches_reference_closure``) and
    replayed exactly by the ≤rounds-edge oracle CTE). Work per
    relaxation stays proportional to the changed set; an empty improved
    frontier stops early. The symmetrized edge frame collapses parallel
    edges to their min weight once, up front.
    """
    fwd = edges.select(
        F.col(a_col).alias("s"), F.col(b_col).alias("d"), F.col(w_col).alias("w")
    )
    e = (
        fwd.unionByName(
            edges.select(
                F.col(b_col).alias("s"),
                F.col(a_col).alias("d"),
                F.col(w_col).alias("w"),
            )
        )
        .groupBy("s", "d")
        .agg(F.min("w").alias("w"))
        .transform(barrier_eager)
    )
    dist = (
        seeds.select(F.col(seed_col).alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
        .transform(barrier_eager)
    )
    frontier = dist
    left = rounds
    while left > 0:
        steps = 2 if left >= 2 else 1
        cur = frontier
        cands = []
        for si in range(steps):
            # per-step alias: the second relaxation joins a frame whose
            # lineage already contains `e`
            tag = f"_e{left}_{si}"
            ei = e.alias(tag)
            cur = (
                cur.join(ei, cur["node"] == F.col(f"{tag}.s"))
                .select(
                    F.col(f"{tag}.d").alias("node"),
                    (cur["dist"] + F.col(f"{tag}.w")).alias("dist"),
                )
                .groupBy("node")
                .agg(F.min("dist").alias("dist"))
            )
            cands.append(cur)
        merged = dist
        for c in cands:
            merged = merged.unionByName(c)
        merged = (
            merged.groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .transform(barrier_eager)
        )
        improved = (
            merged.join(
                dist.select("node", F.col("dist").alias("_old")), "node", "left"
            )
            .filter(F.col("_old").isNull() | (F.col("dist") < F.col("_old")))
            .select("node", "dist")
            .transform(barrier_eager)
        )
        dist = merged
        left -= steps
        if improved.isEmpty():
            break
        frontier = improved
    return dist


def kcore_peel(
    edges: DataFrame,
    k: int,
    rounds: int = 3,
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """Bounded k-core peeling (Seidman 1983 degeneracy cores): drop every
    node with degree < ``k``, recompute degrees on the induced subgraph,
    repeat ``rounds`` times — the dense-subgraph extractor used to find
    tightly-connected item/user communities (and, in curation, the
    mutually-near-duplicate cliques a pairwise threshold misses).

    The FIXED round budget makes the recursion oracle-replayable
    (unrolled CTEs) and bounds the iteration for adversarial graphs; a
    fixpoint usually lands within a few rounds because each peel removes
    entire low-degree fringes at once. The exact k-core is the fixpoint
    — reached whenever a round removes nothing, which the output makes
    visible (``converged`` is true when the last round's survivor set
    equals the previous round's).

    Scale shape: per round one degree aggregation over the edge frame
    plus two semi joins to induce the subgraph — the same join+agg round
    shape as label propagation; ``localCheckpoint`` per round keeps
    lineage flat. Returns ``(node, degree, converged)``, the induced
    degree after the final round.
    """
    e = _canonical(edges, a_col, b_col).transform(barrier_eager)
    before = e
    for _ in range(rounds):
        keep = _degrees(e).filter(F.col("degree") >= k).select("node")
        before = e
        e = (
            e.join(keep.withColumnRenamed("node", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("node", "b"), "b", "left_semi")
            .select("a", "b")
            .transform(barrier_eager)
        )
    # only the LAST round's removal count feeds `converged`; counting
    # every round paid 2 driver actions/round for values that were
    # discarded (both frames are barriered, so these two counts are
    # metadata-cheap)
    removed_last = before.count() - e.count() if rounds else None
    # output = the induced subgraph's degree table after the final peel
    # (nodes whose every edge vanished with dropped neighbors disappear
    # with it); no extra filter, so the oracle replays rounds verbatim
    return _degrees(e).select(
        "node",
        "degree",
        F.lit(removed_last == 0).alias("converged"),
    )


def link_prediction_scores(
    edges: DataFrame,
    min_common: int = 2,
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """Neighborhood link prediction (Liben-Nowell & Kleinberg 2003): for
    every NON-adjacent node pair reachable through a wedge, score the
    likelihood of a future edge by common-neighbor count, neighborhood
    Jaccard, and Adamic–Adar (rare shared neighbors weigh more,
    Σ 1/ln deg(m)) — the classic "users also bought" / knn-graph
    densification primitive.

    Candidate generation is the wedge join (adjacency ⋈ adjacency on the
    middle node), NOT an all-pairs product: only pairs that share at
    least one neighbor are ever materialized, and ``min_common`` prunes
    the long tail at the aggregation. Existing edges leave via one anti
    join. Scale shape: two equi joins + one keyed agg, all map-side
    partial; hub middles are the skew risk exactly as in
    :func:`triangle_count` (cap or AQE-skew-split them at crawl scale).

    Returns (a, b, n_common, jaccard, adamic_adar) with a < b.
    """
    und = _canonical(edges, a_col, b_col)
    adj = und.select(F.col("a").alias("node"), F.col("b").alias("nbr")).unionAll(
        und.select(F.col("b").alias("node"), F.col("a").alias("nbr"))
    )
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    # wedge (x —mid— z), x < z, annotated with the middle's degree
    left = adj.select(F.col("nbr").alias("x"), F.col("node").alias("mid"))
    right = adj.select(F.col("node").alias("mid"), F.col("nbr").alias("z"))
    wedges = (
        left.join(right, "mid")
        .filter(F.col("x") < F.col("z"))
        .join(deg.withColumnRenamed("node", "mid"), "mid")
    )
    cand = (
        wedges.join(
            und.select(F.col("a").alias("x"), F.col("b").alias("z")),
            ["x", "z"],
            "left_anti",
        )
        .groupBy("x", "z")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum(1.0 / F.log(F.col("degree"))).alias("adamic_adar"),
        )
        .filter(F.col("n_common") >= min_common)
    )
    return (
        cand.join(deg.withColumnRenamed("node", "x").withColumnRenamed("degree", "deg_x"), "x")
        .join(deg.withColumnRenamed("node", "z").withColumnRenamed("degree", "deg_z"), "z")
        .select(
            F.col("x").alias("a"),
            F.col("z").alias("b"),
            F.col("n_common"),
            (
                F.col("n_common")
                / (F.col("deg_x") + F.col("deg_z") - F.col("n_common")).cast("double")
            ).alias("jaccard"),
            "adamic_adar",
        )
    )


def neighborhood_function(
    edges: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    max_hops: int = 3,
) -> DataFrame:
    """Exact neighborhood function N(h) (Palmer et al. 2002, the ANF
    statistic): for h = 1..``max_hops``, the number of ordered (src, dst)
    pairs whose shortest-path distance is exactly h, plus the cumulative
    count and the average per-node reach — the connectivity/diameter
    profile a crawl or dedup-blast-radius analysis reads before picking
    a propagation depth.

    Implementation is pair-level multi-source BFS: the frontier is a
    (src, node) pair set; each hop is ONE equi join of the frontier
    against the edge list plus one anti join against the visited pair
    set, both on the node key — no all-pairs product is ever formed, and
    ``localCheckpoint`` per round keeps lineage flat. Exactness costs
    O(reachable pairs) state, which is the right trade at oracle scale;
    the 100 TB path is the HyperBall/HLL variant of the same loop (one
    mergeable registers-sketch per node instead of the exact pair set,
    union via max-register groupBy — the same per-hop join shape at
    O(nodes) state), which this exact operator is the ground-truth twin
    for.
    """
    e = _symmetric(edges, a_col, b_col)
    nodes = e.select(F.col("s").alias("node")).distinct()
    visited = nodes.select(
        F.col("node").alias("src"), F.col("node").alias("dst")
    ).withColumn("hop", F.lit(0)).transform(barrier_eager)
    _, layers = _bfs_layers(e, visited, ["src", "dst"], max_hops)
    if not layers:
        return edges.sparkSession.createDataFrame(
            [], "hop int, n_pairs bigint, cum_pairs bigint, avg_reach double"
        )
    per_hop = [
        nxt.groupBy("hop").agg(F.count(F.lit(1)).alias("n_pairs")) for nxt in layers
    ]
    counts = per_hop[0]
    for f in per_hop[1:]:
        counts = counts.unionByName(f)
    n_nodes = nodes.count()
    w = Window.orderBy("hop").rowsBetween(Window.unboundedPreceding, 0)
    return (
        counts.withColumn("cum_pairs", F.sum("n_pairs").over(w))
        .withColumn(
            "avg_reach", F.round(F.col("cum_pairs") / F.lit(float(n_nodes)), 6)
        )
        .orderBy("hop")
    )


def neighborhood_hll(
    edges: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    max_hops: int = 3,
    lgk: int = 12,
) -> DataFrame:
    """HyperBall (Boldi, Rosa & Vigna 2011): the approximate neighborhood
    function with O(nodes × sketch) state — the form of
    :func:`neighborhood_function` that survives 100 TB graphs, where the
    exact pair set does not fit anywhere. Each node carries an HLL
    sketch of the node ids within h hops (Spark's built-in DataSketches
    ``hll_sketch_agg`` / ``hll_union_agg``, so the registers live JVM-side
    as binary columns and merge inside codegen'd aggregates); one hop is
    ONE equi join of the state against the edge list plus one
    max-register groupBy — identical join shape to the exact operator,
    but per-round state is nodes-sized, never pairs-sized.

    Returns (hop, cum_pairs_est) — the estimated count of ordered pairs
    within distance ≤ hop, self-pairs excluded. Estimates are
    deterministic (the sketch is a pure function of the hashed ids), and
    on small graphs the sketch's sparse mode makes them near-exact; the
    registry query value-checks them against the exact twin."""
    e = _symmetric(edges, a_col, b_col)
    nodes = e.select(F.col("s").alias("node")).distinct()
    n_nodes = nodes.count()
    state = (
        nodes.groupBy("node")
        .agg(F.hll_sketch_agg("node", F.lit(lgk)).alias("sk"))
        .transform(barrier_eager)
    )
    rows = []
    for h in range(1, max_hops + 1):
        nbr = e.join(state, e.d == state.node).select(
            F.col("s").alias("node"), "sk"
        )
        state = (
            state.unionByName(nbr)
            .groupBy("node")
            .agg(F.hll_union_agg("sk").alias("sk"))
            .transform(barrier_eager)
        )
        est = state.agg(
            F.sum(F.hll_sketch_estimate("sk")).alias("reach")
        ).collect()[0]["reach"]
        rows.append((h, int(est) - n_nodes))
    spark = edges.sparkSession
    return spark.createDataFrame(rows, "hop int, cum_pairs_est bigint")
