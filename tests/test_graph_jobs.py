"""Job counts of the iterative graph operators, and BFS/ANF agreement.

Each pin is the number of Spark jobs one operator call runs (building the
frame, with its eager barriers and early-stop probes, plus one collect of
the result) on a small fixed graph, counted with a job group and the
``statusTracker`` as ``test_corpus.test_cluster_dedup_corpus_jobs_per_call``
does. Input graphs are driver-held local relations, so the counts do not
depend on the session's default parallelism. A refactor that adds or drops
a barrier, an action or an early-stop probe moves a count.
"""

from __future__ import annotations

import itertools
import random

import pytest

from sentiment_analysis_bigdata_spark.operators import graph as G
from sentiment_analysis_bigdata_spark.sources import local_frame

_groups = itertools.count()

# directed, weighted: a→b, a→c (weights 1/3), b→c, c→a, d→a
_DIRECTED = (["a", "a", "b", "c", "d"], ["b", "c", "c", "a", "a"], [1.0, 3.0, 1.0, 2.0, 1.0])
# two triangles joined by the bridge 3-4
_TWO_TRIANGLES = ([1, 2, 1, 3, 4, 5, 4], [2, 3, 3, 4, 5, 6, 6])


def _jobs(spark, call) -> int:
    sc = spark.sparkContext
    group = f"graph-jobs-{next(_groups)}"
    sc.setJobGroup(group, "", interruptOnCancel=False)
    try:
        call().collect()
    finally:
        sc.setJobGroup("", "")
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _directed(spark):
    return local_frame(spark, _DIRECTED, "src string, dst string, w double")


def _undirected(spark):
    return local_frame(spark, _TWO_TRIANGLES, "a long, b long")


def _seeds(spark, nodes, dtype="long"):
    return local_frame(spark, [nodes], f"node {dtype}")


CALLS = {
    "pagerank": lambda s: G.pagerank(_directed(s), weight_col="w", iterations=3),
    "personalized_pagerank": lambda s: G.personalized_pagerank(
        _directed(s), _seeds(s, ["a"], "string"), weight_col="w", iterations=3
    ),
    "hits": lambda s: G.hits(_directed(s), iterations=3),
    "label_propagation": lambda s: G.label_propagation(_undirected(s), rounds=4),
    # the frontier empties after hop 3 of 10: covers the early stop
    "bfs_hops": lambda s: G.bfs_hops(_undirected(s), _seeds(s, [1]), max_hops=10),
    "sssp_weighted": lambda s: G.sssp_weighted(
        local_frame(s, ([1, 1, 3, 2], [2, 3, 2, 4], [5, 1, 1, 2]), "a long, b long, w long"),
        _seeds(s, [1]),
        rounds=6,
    ),
    "kcore_peel": lambda s: G.kcore_peel(
        local_frame(s, ([1, 2, 1, 1], [2, 3, 3, 4]), "a long, b long"), k=2, rounds=3
    ),
    "neighborhood_function": lambda s: G.neighborhood_function(_undirected(s), max_hops=5),
    "neighborhood_hll": lambda s: G.neighborhood_hll(_undirected(s), max_hops=3),
}

PINS = {
    "pagerank": 14,
    "personalized_pagerank": 15,
    "hits": 21,
    "label_propagation": 21,
    "bfs_hops": 27,
    "sssp_weighted": 34,
    "kcore_peel": 17,
    "neighborhood_function": 36,
    "neighborhood_hll": 23,
}


@pytest.mark.parametrize("name", sorted(CALLS))
def test_graph_operator_jobs_per_call(spark, name):
    assert _jobs(spark, lambda: CALLS[name](spark)) == PINS[name]


def _random_undirected(seed: int, n: int, m: int) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    edges = set()
    while len(edges) < m:
        a, b = rng.randrange(n), rng.randrange(n)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    return sorted(edges)


@pytest.mark.parametrize("seed", [3, 11, 29])
def test_bfs_per_seed_sums_to_neighborhood_function(spark, seed):
    """Node-level BFS and pair-level ANF run the same frontier step: BFS
    from each node as a single seed, counted per hop and summed over
    seeds, equals the number of ordered pairs at exactly that distance."""
    pairs = _random_undirected(seed, n=9, m=11)
    edges = local_frame(spark, list(zip(*pairs)), "a long, b long")
    nodes = sorted({v for p in pairs for v in p})
    per_hop: dict[int, int] = {}
    for v in nodes:
        for r in G.bfs_hops(edges, _seeds(spark, [v]), max_hops=4).collect():
            if r["hop"] > 0:
                per_hop[r["hop"]] = per_hop.get(r["hop"], 0) + 1
    anf = {
        r["hop"]: r["n_pairs"]
        for r in G.neighborhood_function(edges, max_hops=4).collect()
    }
    assert per_hop and anf == per_hop
