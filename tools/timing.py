"""Warm-up and noop-sink timing core shared by ``bench.py``,
``tools/isolated_probe.py`` and ``tools/headline_floor.py``, so the three
timers bill the same fixed machinery to the same place.

It lives under ``tools/`` rather than in ``bench.py`` because
``headline_floor.py`` times an older checkout's registry with its OWN
timer: the target checkout supplies the queries, never the measurement.
"""

from __future__ import annotations

import sys
import time
import traceback

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def warm_up(spark, sf_dir: str) -> None:
    """Pay JVM, codegen/HOF and Python-worker start-up before any timed
    query, so none of it is billed to whichever query happens to run first
    (a plain hand-written-PySpark baseline run would be warmed identically).
    """
    from pyspark.sql import functions as F

    for t in TABLES:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").limit(1).count()
    spark.range(10).select(
        F.aggregate(F.array(F.col("id")), F.lit(0).cast("bigint"), lambda a, b: a + b)
    ).count()

    # The Python/Arrow worker pool is fixed machinery too: the first
    # Arrow-kernel query (minhash_signatures in headline order) paid ~2 s of
    # one-off worker spawn + pandas/numpy import per worker (a trivial
    # mapInPandas costs 3.1 s on a cold pool; minhash's first run drops
    # 3.2 -> 1.4 s once the pool exists). One worker per core is primed.
    # Nested so cloudpickle ships it by value: workers need not import this
    # module.
    def _prime_arrow_pool(batches):
        import numpy as np  # noqa: F401 — the import cost is the point
        import pandas as pd  # noqa: F401

        yield from batches

    ncores = spark.sparkContext.defaultParallelism
    spark.range(ncores, numPartitions=ncores).mapInPandas(
        _prime_arrow_pool, "id long"
    ).write.format("noop").mode("overwrite").save()


def time_passes(spark, queries, sf_dir: str, names, warm_runs: int):
    """One cold pass over ``names`` in order, then ``warm_runs`` warm passes.

    Each run builds ``queries[name](spark, sf_dir)`` and writes it to the
    noop sink (which materializes EVERY output column; ``count()`` would let
    Catalyst prune deterministic projections) under the job description
    ``name``; the wall time covers build plus sink.

    Returns ``(cold, warm, errors)``: ``cold[name]`` seconds,
    ``warm[name]`` the list of warm samples, and ``errors[name]`` a
    ``"<Type>: <message>"`` string for each query that raised. A failed
    query is dropped from ``cold``/``warm`` and skipped on later passes;
    the other queries carry on.
    """
    cold: dict[str, float] = {}
    warm: dict[str, list[float]] = {}
    errors: dict[str, str] = {}
    sc = spark.sparkContext
    for pass_no in range(warm_runs + 1):
        for name in names:
            if name in errors:
                continue
            sc.setJobDescription(name)
            try:
                t0 = time.time()
                queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
                dt = time.time() - t0
            except Exception as e:  # one bad query must not void the run
                traceback.print_exc()
                errors[name] = f"{type(e).__name__}: {e}"[:500]
                cold.pop(name, None)
                warm.pop(name, None)
                print(f"  {name}: FAILED {errors[name][:200]}", file=sys.stderr)
                continue
            finally:
                sc.setJobDescription(None)
            if pass_no == 0:
                cold[name] = dt
                warm[name] = []
                print(f"  {name}: {dt:.3f}s", file=sys.stderr)
            else:
                warm[name].append(dt)
    return cold, warm, errors
