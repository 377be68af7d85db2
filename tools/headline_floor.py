"""Headline-only floor probe: cold + N warm passes of bench.py's frozen
28-query headline set against a given repo checkout — the paired-A/B
instrument that separates host co-tenancy from real plan regressions.

Full bench runs cost ~13 min and spend most of it on the 131 extras, so
cross-round floor questions ("is 18.8 s a regression or a slow host?")
were previously answered by archaeology over old snapshots taken under
different load. This probe answers them experimentally: check out the
comparison commit in a worktree (``git worktree add /tmp/rNNcode <sha>``)
and run BOTH checkouts back-to-back in both orders — the r12 disposition
(bench_results/floor_ab_r12.json) found within-code spread (15.1-17.8 s)
exceeding the between-code delta (0.07 s), settling the question in four
5-minute runs.

The target checkout supplies HEADLINE and the registry; warm-up and
timing always come from THIS checkout's tools/timing.py (imported before
the target joins sys.path), so both sides of an A/B are measured by the
same timer even when the target predates it.

PYTHONPATH must carry the target checkout so local-mode Python workers
can import the package (driver-side sys.path does not propagate).

Usage:
    PYTHONPATH=<repo_dir> python tools/headline_floor.py <repo_dir> [warm_runs]

Env: SPARK_GRAFT_SF_DIR (default: the sf0.1 test data, as in bench.py).
"""
import json
import os
import sys

from timing import time_passes, warm_up  # this script's own directory

repo = sys.argv[1]
warm_runs = int(sys.argv[2]) if len(sys.argv) > 2 else 5
sys.path.insert(0, repo)

import bench  # noqa: E402  (the checkout's own HEADLINE list)
import __spark_entry__ as entrymod  # noqa: E402
from sentiment_analysis_bigdata_spark import get_spark  # noqa: E402

sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
load_start = os.getloadavg()[0]
spark = get_spark("headline-probe")
spark.sparkContext.setLogLevel("ERROR")
warm_up(spark, sf_dir)
cold, samples, errors = time_passes(
    spark, entrymod.queries(), sf_dir, bench.HEADLINE, warm_runs
)

warm_min = {n: round(min(v), 3) for n, v in samples.items()}
print(json.dumps({
    "repo": repo,
    "cold_total": round(sum(cold.values()), 3),
    "warm_min_total": round(sum(warm_min.values()), 3),
    "warm_runs": warm_runs,
    "queries_warm_min": warm_min,
    "load": {"start": round(load_start, 2), "end": round(os.getloadavg()[0], 2)},
    "errors": errors,
}))
spark.stop()
