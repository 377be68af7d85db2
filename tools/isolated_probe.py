"""Isolated per-query probe: 1 cold + N warm noop-sink runs per query in
one fresh session — the round-13 per-query instrument (full-bench extras
swing ±50% from the bench's own accumulated session load; this probe is
what r12/r13 per-query claims rest on).

Usage:
    python tools/isolated_probe.py [--sf DIR] [--warm N] query [query ...]

Prints one JSON line per query: {"query": ..., "cold": s, "warm": [s...],
"warm_min": s, "load_start": l}, or {"query": ..., "error": "<Type>: <msg>",
"load_start": l} when the query raised. Env: SPARK_GRAFT_SF_DIR overrides
--sf default. Warm-up and timing come from tools/timing.py, shared with
bench.py.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--sf",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    ap.add_argument("--warm", type=int, default=3)
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()
    if args.warm < 1:
        ap.error("--warm must be >= 1 (warm_min needs a sample)")

    import __spark_entry__ as entrymod
    from sentiment_analysis_bigdata_spark import get_spark
    from tools.timing import time_passes, warm_up

    spark = get_spark("isolated-probe")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    warm_up(spark, args.sf)

    for name in args.queries:
        load = os.getloadavg()[0]
        cold, warm, errors = time_passes(spark, qs, args.sf, [name], args.warm)
        if name in errors:
            row = {"query": name, "error": errors[name]}
        else:
            row = {
                "query": name,
                "cold": round(cold[name], 3),
                "warm": [round(w, 3) for w in warm[name]],
                "warm_min": round(min(warm[name]), 3),
            }
        print(json.dumps({**row, "load_start": round(load, 2)}), flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
