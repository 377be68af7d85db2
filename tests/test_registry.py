"""Registry invariants: the driver-certification prefix and the canary
policy (``canary_prefix``).

Pure registry logic — no SparkSession needed, so these run in
milliseconds and guard the prefix machinery itself: the external
driver samples ``all_queries()``'s first 50 names, so a broken prefix
or a non-deterministic canary sample silently voids the correctness
gate.
"""

from __future__ import annotations

import pathlib
import re

import pytest

from sentiment_analysis_bigdata_spark.workloads import (
    _active_prefix,
    _latest_round,
    all_oracles,
    all_queries,
    canary_prefix,
)

REPO = pathlib.Path(__file__).resolve().parents[1]


@pytest.fixture(scope="module")
def registry():
    return list(all_queries()), all_oracles()


class TestDriverPrefix:
    def test_prefix_is_first_50_registry_entries(self, registry):
        names, _ = registry
        active = _active_prefix()
        assert names[:50] == active
        assert len(active) == 50
        assert len(set(active)) == 50

    def test_prefix_all_oracle_backed(self, registry):
        _, oracles = registry
        missing = [n for n in _active_prefix() if n not in oracles]
        assert not missing, f"prefix entries without oracle SQL: {missing}"

    def test_mode_switch_rotation_vs_canary(self, monkeypatch):
        """The prefix is canary_prefix(latest + 1) for every latest
        artifact round, including 0 (no artifacts, fresh clone)."""
        import sentiment_analysis_bigdata_spark.workloads as W

        for latest in (0, 10, 11):
            monkeypatch.setattr(W, "_latest_round", lambda latest=latest: latest)
            assert W._active_prefix() == W.canary_prefix(latest + 1)

    def test_certification_state_reads_artifacts(self):
        rounds = [
            int(m.group(1))
            for f in REPO.glob("CORRECTNESS_r*.json")
            if (m := re.fullmatch(r"CORRECTNESS_r(\d+)\.json", f.name))
        ]
        assert _latest_round() == max(rounds, default=0)


class TestCanaryPolicy:
    def test_deterministic_and_well_formed(self, registry):
        _, oracles = registry
        for r in (11, 12, 25, 100):
            s = canary_prefix(r)
            assert s == canary_prefix(r)
            assert len(s) == 50
            assert len(set(s)) == 50
            assert all(n in oracles for n in s)

    def test_stratified_every_family_sampled(self, registry):
        """Each round's sample must touch every family lane. Lane
        membership is recovered from module QUERIES dicts."""
        from sentiment_analysis_bigdata_spark.workloads import _FAMILIES

        lane_of: dict[str, str] = {}
        for family, modules in _FAMILIES:
            for m in modules:
                for n in m.QUERIES:
                    lane_of[n] = family
        families = {f for f, _ in _FAMILIES}
        for r in (11, 14, 19):
            sampled = {lane_of[n] for n in canary_prefix(r)}
            assert sampled == families, f"round {r} missed lanes: {families - sampled}"

    def test_full_registry_coverage_within_8_rounds(self, registry):
        _, oracles = registry
        cov: set[str] = set()
        for r in range(11, 19):
            cov |= set(canary_prefix(r))
        assert cov == set(oracles), f"uncovered after 8 rounds: {sorted(set(oracles) - cov)[:10]}"

    def test_consecutive_rounds_mostly_disjoint(self, registry):
        """Windows advance by the lane allocation each round, so two
        consecutive samples should overlap only where a lane wraps —
        far below half the slots."""
        overlap = len(set(canary_prefix(11)) & set(canary_prefix(12)))
        assert overlap < 25, overlap

    def test_slots_clamped_to_registry(self, registry):
        _, oracles = registry
        s = canary_prefix(11, slots=10_000)
        assert len(s) == len(oracles)
        assert set(s) == set(oracles)

    def test_allocator_invariants_property(self, registry):
        """The largest-remainder + floor + rebalance allocation must
        produce exactly ``slots`` distinct oracle-backed names for ANY
        (round, slots) — guards the rebalance while-loops' edge cases
        (floors overshooting small slot counts, caps at lane size)."""
        from hypothesis import given, settings
        from hypothesis import strategies as st

        _, oracles = registry
        n = len(oracles)

        @settings(max_examples=60, deadline=None)
        @given(
            round_no=st.integers(min_value=0, max_value=10_000),
            slots=st.integers(min_value=1, max_value=n + 40),
        )
        def check(round_no: int, slots: int) -> None:
            s = canary_prefix(round_no, slots=slots)
            assert len(s) == min(slots, n)
            assert len(set(s)) == len(s)
            assert all(name in oracles for name in s)

        check()
