"""Tests for iterative / approximate distributed algorithms: connected
components, histogram AUC, cross-validated tuning."""

from __future__ import annotations

import random

import pytest

from sentiment_analysis_bigdata_spark.operators import dedup as DD
from sentiment_analysis_bigdata_spark.operators import evaluation as EV


class TestConnectedComponents:
    def test_transitive_chain(self, spark):
        # a→b, b→c, plus an isolated pair (10, 11)
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11)], "a long, b long"
        )
        comp = {r["node"]: r["component"] for r in DD.connected_components(pairs).collect()}
        assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}

    def test_long_chain_converges(self, spark):
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(12)], "a long, b long"
        )
        comp = {r["node"]: r["component"] for r in DD.connected_components(pairs).collect()}
        assert set(comp.values()) == {0}

    def test_dedup_cluster_integration(self, spark):
        """a≈b and b≈c but a and c are not directly paired — components
        still cluster all three (the thing pairwise filtering misses)."""
        docs = spark.createDataFrame(
            [
                (0, "alpha beta gamma delta epsilon zeta"),
                (1, "alpha beta gamma delta epsilon eta"),  # near-dup of 0
                (2, "alpha beta gamma delta theta eta"),  # near-dup of 1, not of 0
                (3, "unrelated words entirely different topic"),
            ],
            "doc_id long, text string",
        )
        pairs = DD.minhash_near_duplicates(docs, threshold=0.4, num_hashes=16, bands=8)
        comp = DD.connected_components(pairs)
        labels = {r["node"]: r["component"] for r in comp.collect()}
        assert labels.get(0) == labels.get(1) == labels.get(2) == 0
        assert 3 not in labels  # isolated nodes don't appear in the edge set


class TestConnectedComponentsTwoSteps:
    """The driver-side numpy round and the distributed join + aggregate
    round run the same min-label rounds: equal labels (and id types) on
    every graph, or the same error. ``LOCAL_COMPONENTS_MAX_EDGES = 0``
    forces the distributed step."""

    def _both(self, spark, monkeypatch, edges, schema="a long, b long", **kw):
        df = spark.createDataFrame(edges, schema)

        def run():
            try:
                out = DD.connected_components(df, **kw)
            except RuntimeError as exc:
                return ("raised", str(exc)), None
            return sorted(tuple(r) for r in out.collect()), out.schema

        local = run()
        with monkeypatch.context() as m:
            m.setattr(DD, "LOCAL_COMPONENTS_MAX_EDGES", 0)
            distributed = run()
        return local, distributed

    @pytest.mark.parametrize("seed", [1, 2, 3])
    def test_random_graphs(self, spark, monkeypatch, seed):
        rng = random.Random(seed)
        edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(45)]
        edges = [(a, b) for a, b in edges if a != b]
        schema = "a long, b long" if seed != 2 else "a int, b int"
        (labels, s_local), (want, s_dist) = self._both(
            spark, monkeypatch, edges, schema
        )
        assert labels == want
        assert [f.dataType for f in s_local] == [f.dataType for f in s_dist]
        nodes = {n for e in edges for n in e}
        assert {n for n, _ in labels} == nodes

    @pytest.mark.parametrize("budget", [5, 20, 31])
    @pytest.mark.parametrize("require", [True, False])
    def test_chain_budgets(self, spark, monkeypatch, budget, require):
        """The 30-edge chain needs 30 rounds plus one fixed-point round:
        budgets 5 and 20 raise (or return the same partial labels), 31
        converges on both steps."""
        edges = [(i, i + 1) for i in range(30)]
        local, distributed = self._both(
            spark, monkeypatch, edges,
            max_iterations=budget, require_convergence=require,
        )
        assert local[0] == distributed[0]
        if budget == 31:
            assert {c for _, c in local[0]} == {0}
        elif require:
            assert local[0][0] == "raised"
            assert "did not converge in" in local[0][1]
        else:
            assert len(local[0]) == 31
            assert max(c for _, c in local[0]) > 0  # partial labels


class TestHistogramAuc:
    def test_close_to_exact(self, spark):
        rng = random.Random(7)
        rows = [
            (y, rng.random() * 0.7 + y * 0.3)
            for y in (rng.randint(0, 1) for _ in range(2000))
        ]
        df = spark.createDataFrame(rows, "label int, score double")
        exact = EV.roc_auc(df, score_col="score")
        approx = EV.roc_auc_approx(df, score_col="score", num_bins=10_000)
        assert approx == pytest.approx(exact, abs=2e-3)

    def test_degenerate_inputs(self, spark):
        const = spark.createDataFrame([(1, 0.5), (0, 0.5)], "label int, score double")
        assert EV.roc_auc_approx(const, score_col="score") == 0.5
        one_class = spark.createDataFrame([(1, 0.1), (1, 0.9)], "label int, score double")
        assert EV.roc_auc_approx(one_class, score_col="score") == 0.0


class TestTuning:
    def test_cross_validator_picks_a_grid_point(self, spark):
        from sentiment_analysis_bigdata_spark.operators import ml as ML

        rows = []
        for i in range(200):
            label = i % 2
            words = ("good fine nice" if label else "bad poor sad").split()
            rows.append((label, " ".join(words[: 1 + i % 3] + [f"w{i % 13}"])))
        df = spark.createDataFrame(rows, "label int, text string")
        cfg = ML.PipelineConfig(num_features=2**10, max_iter=5)
        best, info = ML.tune(df, "lr", cfg, reg_params=(0.01, 1.0), num_folds=2)
        assert info["best_reg_param"] in (0.01, 1.0)
        assert set(info["avg_metrics"]) == {"0.01", "1.0"}
        # best model is usable
        assert best.transform(df).select("prediction").count() == 200

    def test_nb_tunes_smoothing(self, spark):
        # regression: NaiveBayes has no regParam; tune() must grid smoothing
        from sentiment_analysis_bigdata_spark.operators import ml as ML

        rows = []
        for i in range(120):
            label = i % 2
            words = ("good fine nice" if label else "bad poor sad").split()
            rows.append((label, " ".join(words[: 1 + i % 3] + [f"w{i % 7}"])))
        df = spark.createDataFrame(rows, "label int, text string")
        cfg = ML.PipelineConfig(num_features=2**10)
        best, info = ML.tune(df, "nb", cfg, reg_params=(0.5, 1.0), num_folds=2)
        assert info["best_reg_param"] in (0.5, 1.0)
        assert best.transform(df).select("prediction").count() == 120


class TestResampleFfill:
    def test_grid_and_forward_fill(self, spark):
        from datetime import datetime

        from sentiment_analysis_bigdata_spark.operators.timeseries import resample_ffill

        rows = [
            (1, datetime(2024, 1, 1, 0, 10), 1.0),
            (1, datetime(2024, 1, 1, 0, 50), 2.0),  # same bucket, later ts wins
            (1, datetime(2024, 1, 1, 3, 5), 9.0),  # 2-hour gap -> ffill 2.0
            (2, datetime(2024, 1, 1, 5, 0), 7.0),  # single-bucket key
        ]
        ev = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
        out = resample_ffill(ev, step="1 hour").orderBy("user_id", "bucket").collect()
        u1 = [(r["bucket"].hour, r["value"], r["observed"]) for r in out if r["user_id"] == 1]
        assert u1 == [(0, 2.0, True), (1, 2.0, False), (2, 2.0, False), (3, 9.0, True)]
        u2 = [(r["bucket"].hour, r["value"], r["observed"]) for r in out if r["user_id"] == 2]
        assert u2 == [(5, 7.0, True)]

    def test_sub_hour_step_keeps_observations_on_grid(self, spark):
        # regression: with step='15 minutes' the old hour/minute date_trunc
        # put observed buckets off the stride grid and the join dropped them
        from datetime import datetime

        from sentiment_analysis_bigdata_spark.operators.timeseries import resample_ffill

        rows = [
            (1, datetime(2024, 1, 1, 0, 7), 1.0),   # bucket 00:00
            (1, datetime(2024, 1, 1, 0, 44), 3.0),  # bucket 00:30
            (1, datetime(2024, 1, 1, 1, 16), 5.0),  # bucket 01:15
        ]
        ev = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
        out = resample_ffill(ev, step="15 minutes").orderBy("bucket").collect()
        got = [((r["bucket"].hour, r["bucket"].minute), r["value"], r["observed"]) for r in out]
        assert got == [
            ((0, 0), 1.0, True),
            ((0, 15), 1.0, False),
            ((0, 30), 3.0, True),
            ((0, 45), 3.0, False),
            ((1, 0), 3.0, False),
            ((1, 15), 5.0, True),
        ]

    def test_time_weighted_avg(self, spark):
        from datetime import datetime

        from sentiment_analysis_bigdata_spark.operators.timeseries import time_weighted_avg

        rows = [
            # value 1.0 holds 10s, value 3.0 holds 30s -> twap 2.5; the last
            # observation (5.0) carries no weight
            (1, datetime(2024, 1, 1, 0, 0, 0), 1.0),
            (1, datetime(2024, 1, 1, 0, 0, 10), 3.0),
            (1, datetime(2024, 1, 1, 0, 0, 40), 5.0),
            # single-event key falls back to its value
            (2, datetime(2024, 1, 1, 5, 0, 0), 7.0),
            # sub-second spacing: 0.25s @ 2.0 then 0.75s @ 4.0 -> 3.5
            (3, datetime(2024, 1, 1, 0, 0, 0, 0), 2.0),
            (3, datetime(2024, 1, 1, 0, 0, 0, 250_000), 4.0),
            (3, datetime(2024, 1, 1, 0, 0, 1, 0), 0.0),
        ]
        ev = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
        out = {
            r["user_id"]: (r["twap"], r["n_events"])
            for r in time_weighted_avg(ev).collect()
        }
        assert out[1] == (2.5, 3)
        assert out[2] == (7.0, 1)
        assert abs(out[3][0] - 3.5) < 1e-9 and out[3][1] == 3

    def test_rejects_unsupported_step(self, spark):
        import pytest as _pytest

        from sentiment_analysis_bigdata_spark.operators.timeseries import resample_ffill

        ev = spark.createDataFrame([], "user_id long, ts timestamp, value double")
        with _pytest.raises(ValueError, match="unsupported step"):
            resample_ffill(ev, step="1 fortnight")


class TestPagerank:
    def test_weighted_one_iteration_hand_values(self, spark):
        from sentiment_analysis_bigdata_spark.operators.graph import pagerank

        # A links to B (w=1) and C (w=3): shares 0.25 / 0.75
        edges = spark.createDataFrame(
            [("a", "b", 1.0), ("a", "c", 3.0)], "src string, dst string, w double"
        )
        got = {
            r["node"]: r["rank"]
            for r in pagerank(edges, weight_col="w", iterations=1).collect()
        }
        assert abs(got["a"] - 0.15) < 1e-12
        assert abs(got["b"] - (0.15 + 0.85 * 0.25)) < 1e-12
        assert abs(got["c"] - (0.15 + 0.85 * 0.75)) < 1e-12

    def test_cycle_is_stationary(self, spark):
        from sentiment_analysis_bigdata_spark.operators.graph import pagerank

        edges = spark.createDataFrame(
            [("a", "b"), ("b", "a")], "src string, dst string"
        )
        for r in pagerank(edges, iterations=4).collect():
            assert abs(r["rank"] - 1.0) < 1e-12

    def test_parallel_edges_accumulate(self, spark):
        from sentiment_analysis_bigdata_spark.operators.graph import pagerank

        # three parallel a->b edges + one a->c: b gets share 0.75
        edges = spark.createDataFrame(
            [("a", "b"), ("a", "b"), ("a", "b"), ("a", "c")],
            "src string, dst string",
        )
        got = {r["node"]: r["rank"] for r in pagerank(edges, iterations=1).collect()}
        assert abs(got["b"] - (0.15 + 0.85 * 0.75)) < 1e-12

    def test_rejects_zero_iterations(self, spark):
        import pytest as _pytest

        from sentiment_analysis_bigdata_spark.operators.graph import pagerank

        edges = spark.createDataFrame([("a", "b")], "src string, dst string")
        with _pytest.raises(ValueError, match="iterations"):
            pagerank(edges, iterations=0)


class TestPersonalizedPagerank:
    def _ppr(self, spark, edges, seeds, **kw):
        from sentiment_analysis_bigdata_spark.operators.graph import (
            personalized_pagerank,
        )

        seed_df = spark.createDataFrame([(s,) for s in seeds], "node string")
        return {
            r["node"]: r["rank"]
            for r in personalized_pagerank(edges, seed_df, **kw).collect()
        }

    def test_one_iteration_hand_values(self, spark):
        # seed a; a → b and c (shares 0.25/0.75); teleport 1.0 on a
        edges = spark.createDataFrame(
            [("a", "b", 1.0), ("a", "c", 3.0)], "src string, dst string, w double"
        )
        got = self._ppr(spark, edges, ["a"], weight_col="w", iterations=1)
        assert abs(got["a"] - 0.15) < 1e-12          # (1−d)·tele, no in-edges
        assert abs(got["b"] - 0.85 * 0.25) < 1e-12   # no teleport mass on b
        assert abs(got["c"] - 0.85 * 0.75) < 1e-12

    def test_unreachable_nodes_stay_zero(self, spark):
        # two components: seeds in {a,b}; {x,y} must stay exactly 0
        edges = spark.createDataFrame(
            [("a", "b"), ("b", "a"), ("x", "y"), ("y", "x")],
            "src string, dst string",
        )
        got = self._ppr(spark, edges, ["a"], iterations=3)
        assert got["x"] == 0.0 and got["y"] == 0.0
        assert got["a"] > 0 and got["b"] > 0

    def test_out_of_graph_seeds_ignored(self, spark):
        # teleport normalizes over seeds ∩ nodes: 'zz' contributes nothing
        edges = spark.createDataFrame(
            [("a", "b"), ("b", "a")], "src string, dst string"
        )
        with_ghost = self._ppr(spark, edges, ["a", "zz"], iterations=2)
        without = self._ppr(spark, edges, ["a"], iterations=2)
        assert with_ghost == without


class TestHits:
    def test_star_graph_hand_values(self, spark):
        from sentiment_analysis_bigdata_spark.operators.graph import hits

        # hub h points at a1..a3; one stray edge x→a1.
        # After any number of iterations h is the best hub (3 authorities)
        # and a1 the best authority (2 hubs point at it).
        edges = spark.createDataFrame(
            [("h", "a1"), ("h", "a2"), ("h", "a3"), ("x", "a1")],
            "src string, dst string",
        )
        got = {r["node"]: (r["hub"], r["authority"]) for r in hits(edges, iterations=2).collect()}
        assert got["h"][0] == 1.0          # max hub normalizes to 1
        assert got["a1"][1] == 1.0         # max authority normalizes to 1
        assert got["a2"][1] < 1.0          # only one (good) hub points here
        assert got["a1"][0] == 0.0         # pure authorities have no out-edges
        assert got["h"][1] == 0.0          # pure hubs have no in-edges
        assert got["x"][0] < got["h"][0]   # weaker hub: fewer authorities

    def test_rejects_zero_iterations(self, spark):
        import pytest as _pytest

        from sentiment_analysis_bigdata_spark.operators.graph import hits

        edges = spark.createDataFrame([("a", "b")], "src string, dst string")
        with _pytest.raises(ValueError, match="iterations"):
            hits(edges, iterations=0)


class TestTriangleCount:
    def test_known_graphs(self, spark):
        from sentiment_analysis_bigdata_spark.operators.graph import triangle_count

        # K4: 6 edges, 4 triangles; plus a disjoint path a-b-c (0 triangles)
        k4 = [(i, j) for i in range(4) for j in range(i + 1, 4)]
        path = [(10, 11), (11, 12)]
        edges = spark.createDataFrame(k4 + path, "a long, b long")
        row = triangle_count(edges).collect()[0]
        assert row["n_edges"] == 8
        assert row["n_triangles"] == 4
        # ordered wedges (x<y<z, both edges present): K4 has one per
        # vertex triple = C(4,3) = 4; the path contributes 1
        assert row["n_wedges"] == 4 + 1

    def test_degree_cap_drops_hub(self, spark):
        from sentiment_analysis_bigdata_spark.operators.graph import triangle_count

        # star center 0 with 5 leaves + one leaf-leaf edge forming 1 triangle
        edges = spark.createDataFrame(
            [(0, i) for i in range(1, 6)] + [(1, 2)], "a long, b long"
        )
        full = triangle_count(edges).collect()[0]
        assert full["n_triangles"] == 1
        capped = triangle_count(edges, max_degree=2).collect()[0]
        assert capped["n_triangles"] == 0  # hub (deg 5) dropped


class TestClusteringCoefficients:
    def test_known_values(self, spark):
        from sentiment_analysis_bigdata_spark.operators.graph import (
            clustering_coefficients,
        )

        # K3 (perfect cc=1 everywhere) + pendant node 3 attached to 0
        edges = spark.createDataFrame(
            [(0, 1), (0, 2), (1, 2), (0, 3)], "a long, b long"
        )
        out = {r["node"]: r for r in clustering_coefficients(edges).collect()}
        assert out[1]["clustering_coeff"] == 1.0
        assert out[2]["clustering_coeff"] == 1.0
        # node 0: deg 3, 1 triangle -> 2*1/(3*2) = 1/3
        assert abs(out[0]["clustering_coeff"] - 1 / 3) < 1e-9
        assert out[3]["degree"] == 1 and out[3]["clustering_coeff"] == 0.0


class TestLabelPropagation:
    def test_two_cliques_with_bridge(self, spark):
        from sentiment_analysis_bigdata_spark.operators.graph import label_propagation

        # K3 {1,2,3} + K3 {10,11,12} joined by one bridge 3-10: after
        # enough rounds each triangle converges to its min label; the
        # bridge is outvoted by each side's clique
        edges = [(1, 2), (1, 3), (2, 3), (10, 11), (10, 12), (11, 12), (3, 10)]
        df = spark.createDataFrame(edges, "a long, b long")
        got = {
            r.node: r.community
            for r in label_propagation(df, rounds=6).collect()
        }
        assert got[1] == got[2] == got[3] == 1
        assert got[10] == got[11] == got[12]
        assert got[10] != got[1]

    def test_isolated_pair_keeps_min(self, spark):
        from sentiment_analysis_bigdata_spark.operators.graph import label_propagation

        df = spark.createDataFrame([(5, 7)], "a long, b long")
        got = {
            r.node: r.community
            for r in label_propagation(df, rounds=2).collect()
        }
        # a 2-cycle oscillates label-swaps; an even round count returns
        # each node's own label — determinism is the contract, and the
        # vote is neighbors-only by construction
        assert set(got) == {5, 7}
        assert got[5] in (5, 7) and got[7] in (5, 7)

    def test_deterministic_across_layouts(self, spark):
        from sentiment_analysis_bigdata_spark.operators.graph import label_propagation

        edges = [(i, (i + 1) % 9) for i in range(9)] + [(0, 4), (2, 6)]
        a = spark.createDataFrame(edges, "a long, b long").repartition(2)
        b = spark.createDataFrame(list(reversed(edges)), "a long, b long").repartition(7)
        ra = sorted((r.node, r.community) for r in label_propagation(a, rounds=4).collect())
        rb = sorted((r.node, r.community) for r in label_propagation(b, rounds=4).collect())
        assert ra == rb


class TestConnectedComponentsStar:
    def _cc(self, spark, edges, prop_iters=40):
        from sentiment_analysis_bigdata_spark.operators import dedup

        df = spark.createDataFrame(edges, "a long, b long")
        star = {
            r.node: r.component
            for r in dedup.connected_components_star(df).collect()
        }
        # min-label propagation needs >= diameter rounds — exactly the
        # weakness star contraction removes (its default budget of 20
        # fails LOUD on the 30-edge chain since r10; see
        # test_default_budget_fails_loud_on_deep_chain)
        prop = {
            r.node: r.component
            for r in dedup.connected_components(df, max_iterations=prop_iters).collect()
        }
        return star, prop

    def test_equals_label_propagation_on_chain(self, spark):
        # long chain: the diameter-killer case star contraction exists for
        edges = [(i, i + 1) for i in range(30)]
        star, prop = self._cc(spark, edges)
        assert star == prop
        assert set(star.values()) == {0}

    def test_default_budget_fails_loud_on_deep_chain(self, spark):
        """A graph deeper than the round budget must RAISE under the
        default (r10: require_convergence=True), never return
        silently-partial labels — at corpus scale that silent path was
        under-deduplication through apps corpus-cluster-dedup. The star
        variant handles the same graph inside its default budget."""
        edges = [(i, i + 1) for i in range(30)]
        df = spark.createDataFrame(edges, "a long, b long")
        with pytest.raises(RuntimeError, match="did not converge"):
            DD.connected_components(df).collect()
        # explicit opt-out preserves the old partial-labels behavior
        partial = DD.connected_components(
            df, require_convergence=False
        ).collect()
        assert len(partial) == 31
        star = DD.connected_components_star(df).collect()
        assert {r.component for r in star} == {0}

    def test_star_budget_fails_loud_before_fixed_point(self, spark):
        """Same trap class in the star variant: short of the fixed point
        the edge set is not yet per-component stars and the final join
        would emit conflicting duplicate labels — must raise, and the
        explicit opt-out must be the only way past it."""
        edges = [(i, i + 1) for i in range(64)]
        df = spark.createDataFrame(edges, "a long, b long")
        with pytest.raises(RuntimeError, match="fixed point"):
            DD.connected_components_star(df, max_rounds=1).collect()
        ok = DD.connected_components_star(df).collect()  # default budget
        assert {r.component for r in ok} == {0} and len(ok) == 65

    def test_star_budget_on_exact_converging_round_accepted(self, spark):
        """ADVICE r10: the in-loop check compares each round's OUTPUT to
        its INPUT, so a budget ending exactly on the round that PRODUCES
        the fixed point used to read as unconverged and raise spuriously
        one round early; the post-loop confirming round must accept it.
        For this 17-node chain the fixed point is produced on round 4
        (measured; deterministic — min/greatest/least only), so budget 4
        must succeed with full labels and budget 3 must still raise."""
        edges = [(i, i + 1) for i in range(16)]
        df = spark.createDataFrame(edges, "a long, b long")
        ok = DD.connected_components_star(df, max_rounds=4).collect()
        assert {r.component for r in ok} == {0} and len(ok) == 17
        with pytest.raises(RuntimeError, match="fixed point"):
            DD.connected_components_star(df, max_rounds=3).collect()

    def test_equals_label_propagation_random(self, spark):
        import random

        rng = random.Random(3)
        edges = [
            (rng.randrange(60), rng.randrange(60)) for _ in range(45)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        star, prop = self._cc(spark, edges)
        assert star == prop

    def test_two_components_and_isolated_root(self, spark):
        edges = [(7, 3), (3, 9), (20, 21)]
        star, _ = self._cc(spark, edges)
        assert star == {3: 3, 7: 3, 9: 3, 20: 20, 21: 20}


class TestBfsHops:
    def test_chain_distances_and_cap(self, spark):
        from pyspark.sql import Row

        from sentiment_analysis_bigdata_spark.operators.graph import bfs_hops

        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(8)], "a long, b long"
        )
        seeds = spark.createDataFrame([Row(node=0)])
        got = {r.node: r.hop for r in bfs_hops(edges, seeds, max_hops=5).collect()}
        # hops beyond the cap are absent
        assert got == {i: i for i in range(6)}

    def test_multi_source_nearest_seed(self, spark):
        from pyspark.sql import Row

        from sentiment_analysis_bigdata_spark.operators.graph import bfs_hops

        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(10)], "a long, b long"
        )
        seeds = spark.createDataFrame([Row(node=0), Row(node=10)])
        got = {r.node: r.hop for r in bfs_hops(edges, seeds, max_hops=10).collect()}
        assert got[5] == 5
        assert got[7] == 3  # nearer to seed 10
        assert got[0] == 0 and got[10] == 0

    def test_disconnected_unreached(self, spark):
        from pyspark.sql import Row

        from sentiment_analysis_bigdata_spark.operators.graph import bfs_hops

        edges = spark.createDataFrame([(1, 2), (8, 9)], "a long, b long")
        seeds = spark.createDataFrame([Row(node=1)])
        got = {r.node: r.hop for r in bfs_hops(edges, seeds).collect()}
        assert got == {1: 0, 2: 1}


class TestSsspWeighted:
    def test_strong_chain_beats_weak_direct_edge(self, spark):
        from pyspark.sql import Row

        from sentiment_analysis_bigdata_spark.operators.graph import sssp_weighted

        edges = spark.createDataFrame(
            [(1, 2, 5), (1, 3, 1), (3, 2, 1), (2, 4, 2)],
            "a long, b long, w long",
        )
        seeds = spark.createDataFrame([Row(node=1)])
        got = {r.node: r.dist for r in sssp_weighted(edges, seeds).collect()}
        # 1→3→2 (cost 2) beats the direct 1→2 edge (cost 5)
        assert got == {1: 0, 3: 1, 2: 2, 4: 4}

    def test_round_budget_caps_path_length(self, spark):
        from pyspark.sql import Row

        from sentiment_analysis_bigdata_spark.operators.graph import sssp_weighted

        edges = spark.createDataFrame(
            [(i, i + 1, 1) for i in range(6)], "a long, b long, w long"
        )
        seeds = spark.createDataFrame([Row(node=0)])
        got = {
            r.node: r.dist
            for r in sssp_weighted(edges, seeds, rounds=2).collect()
        }
        # only paths of <= 2 edges are relaxed
        assert got == {0: 0, 1: 1, 2: 2}

    def test_parallel_edges_collapse_to_min(self, spark):
        from pyspark.sql import Row

        from sentiment_analysis_bigdata_spark.operators.graph import sssp_weighted

        edges = spark.createDataFrame(
            [(1, 2, 5), (2, 1, 1)], "a long, b long, w long"
        )
        seeds = spark.createDataFrame([Row(node=1)])
        got = {r.node: r.dist for r in sssp_weighted(edges, seeds).collect()}
        # the symmetrized frame keeps min(w) per direction
        assert got == {1: 0, 2: 1}

    def test_fuzz_matches_reference_closure(self, spark):
        """r13 unrolled-pair relaxation: random graphs (odd AND even
        round budgets) against a pure-Python min-over-≤rounds-edge-paths
        Bellman-Ford — the semantics the oracle CTE replays. Guards the
        2-step unroll's coverage argument (the second relaxation extends
        UN-merged candidates; min-merge must absorb every inflation)."""
        import random

        from sentiment_analysis_bigdata_spark.operators.graph import sssp_weighted

        def reference(es, seeds_l, rounds):
            # symmetrize + min-collapse, then bounded relaxation over the
            # FULL table (textbook Bellman-Ford ≤rounds-edge closure)
            em = {}
            for a, b, w in es:
                em[(a, b)] = min(em.get((a, b), w), w)
                em[(b, a)] = min(em.get((b, a), w), w)
            dist = {s: 0 for s in seeds_l}
            for _ in range(rounds):
                nxt = dict(dist)
                for (s, d), w in em.items():
                    if s in dist and dist[s] + w < nxt.get(d, float("inf")):
                        nxt[d] = dist[s] + w
                dist = nxt
            return dist

        for trial in range(4):
            rnd = random.Random(100 + trial)
            n = rnd.randint(4, 18)
            es = [
                (rnd.randint(0, n - 1), rnd.randint(0, n - 1), rnd.randint(1, 9))
                for _ in range(rnd.randint(4, 40))
            ]
            es = [x for x in es if x[0] != x[1]]
            if not es:
                continue
            seeds_l = sorted({rnd.randint(0, n - 1) for _ in range(rnd.randint(1, 3))})
            rounds = rnd.choice([1, 2, 3, 5, 6])
            edf = spark.createDataFrame(es, "a long, b long, w long")
            sdf = spark.createDataFrame([(s,) for s in seeds_l], "node long")
            got = {
                r.node: r.dist
                for r in sssp_weighted(edf, sdf, rounds=rounds).collect()
            }
            want = reference(es, seeds_l, rounds)
            assert got == want, f"trial {trial}: {got} != {want}"


class TestTransitionMatrix:
    def test_hand_counts_and_probs(self, spark):
        from datetime import datetime

        from pyspark.sql import Row

        from sentiment_analysis_bigdata_spark.operators.timeseries import (
            transition_matrix,
        )

        def ev(u, i, t):
            return Row(
                user_id=u, event_id=i, event_type=t,
                ts=datetime(2024, 1, 1, 0, i),
            )

        # user 1: a→b→a→c ; user 2: b→b
        rows = [ev(1, 1, "a"), ev(1, 2, "b"), ev(1, 3, "a"), ev(1, 4, "c"),
                ev(2, 5, "b"), ev(2, 6, "b")]
        df = spark.createDataFrame(rows)
        got = {
            (r.from_state, r.to_state): (r.n, r.p)
            for r in transition_matrix(df).collect()
        }
        assert got[("a", "b")] == (1, 0.5)
        assert got[("a", "c")] == (1, 0.5)
        assert got[("b", "a")] == (1, 0.5)
        assert got[("b", "b")] == (1, 0.5)
        # no cross-user transition (user 1's last → user 2's first absent)
        assert ("c", "b") not in got

    def test_row_stochastic(self, spark):
        from datetime import datetime
        import random

        from pyspark.sql import Row

        from sentiment_analysis_bigdata_spark.operators.timeseries import (
            transition_matrix,
        )

        rng = random.Random(1)
        rows = [
            Row(user_id=u, event_id=i, event_type=rng.choice("xyz"),
                ts=datetime(2024, 1, 1, 0, i // 60, i % 60))
            for i in range(90)
            for u in [i % 5]
        ]
        df = spark.createDataFrame(rows)
        from pyspark.sql import functions as F

        sums = (
            transition_matrix(df)
            .groupBy("from_state")
            .agg(F.round(F.sum("p"), 4).alias("s"))
            .collect()
        )
        assert all(abs(r.s - 1.0) < 1e-3 for r in sums)


class TestTextrank:
    def test_hub_word_ranks_first(self, spark):
        from sentiment_analysis_bigdata_spark.workloads.graph_q import (
            q_textrank_keywords,
        )

        # "hub" neighbors every other word; spokes only touch the hub
        docs = spark.createDataFrame(
            [
                (i, f"hub w{i} hub w{i}", "en", "s", 10)
                for i in range(8)
            ],
            "doc_id long, text string, lang string, source string, n_chars int",
        )
        import tempfile

        with tempfile.TemporaryDirectory() as d:
            docs.write.mode("overwrite").parquet(f"{d}/documents.parquet")
            out = q_textrank_keywords(spark, d).collect()
        top = sorted(out, key=lambda r: r["pos"])
        assert top[0]["keyword"] == "hub"
        assert all(r["rank"] <= top[0]["rank"] for r in out)


class TestKcorePeel:
    def _peel(self, spark, edges, k, rounds):
        from sentiment_analysis_bigdata_spark.operators.graph import kcore_peel

        df = spark.createDataFrame(edges, "a long, b long")
        return {
            r["node"]: (r["degree"], r["converged"])
            for r in kcore_peel(df, k=k, rounds=rounds).collect()
        }

    def test_triangle_survives_pendant_peeled(self, spark):
        # triangle 1-2-3 plus pendant 4 hanging off 1
        edges = [(1, 2), (2, 3), (1, 3), (1, 4)]
        out = self._peel(spark, edges, k=2, rounds=3)
        assert set(out) == {1, 2, 3}
        assert all(deg == 2 for deg, _ in out.values())
        assert all(conv for _, conv in out.values())

    def test_path_cascades_across_rounds(self, spark):
        # path 1-2-3-4: k=2 peels endpoints, then the middle — the
        # cascade needs 2 rounds; a 1-round budget stops mid-peel
        edges = [(1, 2), (2, 3), (3, 4)]
        assert self._peel(spark, edges, k=2, rounds=3) == {}
        partial = self._peel(spark, edges, k=2, rounds=1)
        assert set(partial) == {2, 3}  # endpoints gone, middle not yet
        assert all(not conv for _, conv in partial.values())

    def test_k_above_max_degree_empties(self, spark):
        edges = [(1, 2), (2, 3), (1, 3)]
        assert self._peel(spark, edges, k=3, rounds=2) == {}


def test_kcore_symmetric_orientations_canonicalized(spark):
    """An edge list carrying BOTH orientations of each edge must peel
    identically to the canonical a<b list (degrees not double-counted)."""
    from sentiment_analysis_bigdata_spark.operators.graph import kcore_peel

    canon = [(1, 2), (2, 3), (3, 4)]
    both = canon + [(b, a) for a, b in canon]
    for edges in (canon, both):
        df = spark.createDataFrame(edges, "a long, b long")
        # path of 4 nodes, k=2: endpoints peel, then the middle — empty
        assert kcore_peel(df, k=2, rounds=3).count() == 0, edges
    tri_both = [(1, 2), (2, 1), (2, 3), (3, 2), (1, 3), (3, 1)]
    out = {
        r["node"]: r["degree"]
        for r in kcore_peel(
            spark.createDataFrame(tri_both, "a long, b long"), k=2, rounds=2
        ).collect()
    }
    assert out == {1: 2, 2: 2, 3: 2}


class TestLinkPrediction:
    def _scores(self, spark, edges, min_common):
        from sentiment_analysis_bigdata_spark.operators.graph import (
            link_prediction_scores,
        )

        df = spark.createDataFrame(edges, "a long, b long")
        return {
            (r["a"], r["b"]): (r["n_common"], r["jaccard"], r["adamic_adar"])
            for r in link_prediction_scores(df, min_common=min_common).collect()
        }

    def test_square_diagonals(self, spark):
        # 4-cycle 1-2-3-4-1: the two diagonals are the only non-edges,
        # each closed by BOTH off-diagonal nodes -> n_common=2,
        # jaccard = 2/(2+2-2) = 1, adamic_adar = 2/ln(2)
        import math

        out = self._scores(spark, [(1, 2), (2, 3), (3, 4), (1, 4)], min_common=2)
        assert set(out) == {(1, 3), (2, 4)}
        for n, j, aa in out.values():
            assert n == 2 and j == 1.0
            assert abs(aa - 2 / math.log(2)) < 1e-9

    def test_existing_edges_excluded_and_min_common_prunes(self, spark):
        # triangle + pendant: (1,4),(2,4) are wedge pairs through 3 with
        # n_common=1 -> pruned at min_common=2; present at min_common=1
        edges = [(1, 2), (2, 3), (1, 3), (3, 4)]
        assert self._scores(spark, edges, min_common=2) == {}
        out = self._scores(spark, edges, min_common=1)
        assert set(out) == {(1, 4), (2, 4)}
        # deg: 1->2, 2->2, 3->3, 4->1; common neighbor is 3 (deg 3)
        import math

        n, j, aa = out[(1, 4)]
        assert n == 1
        assert abs(j - 1 / (2 + 1 - 1)) < 1e-9
        assert abs(aa - 1 / math.log(3)) < 1e-9

    def test_symmetric_orientations_canonicalized(self, spark):
        canon = [(1, 2), (2, 3), (3, 4), (1, 4)]
        both = canon + [(b, a) for a, b in canon]
        assert self._scores(spark, canon, 2) == self._scores(spark, both, 2)
