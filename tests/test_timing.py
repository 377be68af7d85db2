"""The shared warm-up-and-timing core (``tools/timing.py``) behind
``bench.py``, ``tools/isolated_probe.py`` and ``tools/headline_floor.py``:
one raising query is recorded and skipped, and the rest of the run carries
on."""

from __future__ import annotations

import pytest

from tools.timing import time_passes


def test_failing_query_is_recorded_once_and_skipped(spark):
    calls = {"bad": 0}

    def bad(spark, sf_dir):
        calls["bad"] += 1
        raise ValueError("boom")

    queries = {
        "small": lambda spark, sf_dir: spark.range(3),
        "bad": bad,
        "doubled": lambda spark, sf_dir: spark.range(50).selectExpr("id * 2 AS x"),
    }
    cold, warm, errors = time_passes(spark, queries, "unused", ["small", "bad", "doubled"], 2)

    assert set(cold) == set(warm) == {"small", "doubled"}
    assert all(t > 0 for t in cold.values())
    assert all(len(v) == 2 and min(v) > 0 for v in warm.values())
    assert errors == {"bad": "ValueError: boom"}
    assert calls["bad"] == 1


def test_keyboard_interrupt_propagates(spark):
    def interrupted(spark, sf_dir):
        raise KeyboardInterrupt

    with pytest.raises(KeyboardInterrupt):
        time_passes(spark, {"q": interrupted}, "unused", ["q"], 1)
