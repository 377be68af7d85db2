"""Lineage-truncation barriers with a reliable-storage switch.

Iterative operators (connected components, Lloyd rounds, BFS/SSSP,
ExactSubstr's shared candidate set) MUST truncate lineage each round or
the logical plan doubles per iteration and Catalyst analysis time
explodes. Locally (and by default) that barrier is
``DataFrame.localCheckpoint``: fast, executor-local block storage — but
NON-replicated, so on a real cluster a lost executor aborts the job
instead of recomputing.

``SPARK_GRAFT_CHECKPOINT_DIR`` flips every barrier in the engine to
reliable ``DataFrame.checkpoint`` against that directory (HDFS/object
store on a cluster), restoring executor-loss recovery — the same posture
switch the streaming side gets from ``SPARK_GRAFT_STATE_STORE=rocksdb``.
Two costs the switch pays and how they're bounded:

- **Double compute per barrier**: an RDD checkpoint write re-runs the
  subtree after the triggering action unless the RDD is persisted
  (Spark's documented persist-before-checkpoint recommendation). Eager
  barriers therefore persist(MEMORY_AND_DISK) → checkpoint →
  unpersist, so the checkpoint job reads cached blocks instead of
  recomputing; lazy barriers stay persisted (evictable) because their
  materialization point is unknown here.
- **File accumulation**: checkpoint files are only auto-deleted when
  ``spark.cleaner.referenceTracking.cleanCheckpoints`` is on (set by
  ``session.get_spark``) AND the RDD is garbage-collected; long-running
  jobs should still point the directory at storage with a TTL/lifecycle
  rule.

The environment variable is consulted on every call and re-pins
``sc.setCheckpointDir`` when it disagrees with the session's current
checkpoint root, so a stale directory from earlier session state never
silently wins. Call sites chain ``.transform(barrier_eager)`` /
``.transform(barrier_lazy)``; results are identical in either mode (the
barrier only changes storage, never semantics), which
``tests/test_reliable_checkpoint.py`` asserts by running representative
iterative operators under both modes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel


def _reliable_dir() -> str | None:
    return os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR") or None


def _under_root(current: str | None, d: str) -> bool:
    """True iff ``current`` (the session's resolved checkpoint root,
    always ``<dir>/<uuid>``) lives under directory ``d`` as a whole path
    component — a bare prefix match would accept a sibling such as
    ``<d>-old/<uuid>`` and silently keep checkpointing there. The
    resolved root may carry ANY filesystem scheme (``file:`` locally,
    ``hdfs://nn:8020`` / ``s3a://bucket`` on a cluster) while the
    env-var path is typically scheme-less. When the env-var side DOES
    carry an authority (``hdfs://nnA/...``), require the resolved root's
    (scheme, netloc) to match before comparing paths — otherwise
    ``hdfs://nnB/data/ckpt/<uuid>`` would be judged under root
    ``hdfs://nnA/data/ckpt`` and the barrier would keep checkpointing to
    the wrong cluster/bucket (ADVICE r11). Only a scheme-less env var
    falls back to path-only comparison (so a local ``file:`` resolution
    of a bare path still matches and doesn't re-pin + spray fresh
    ``<d>/<uuid>`` roots on every barrier)."""
    if not current:
        return False
    from urllib.parse import urlparse

    pd_, pc = urlparse(d), urlparse(current)
    if pd_.netloc and (pd_.scheme, pd_.netloc) != (pc.scheme, pc.netloc):
        return False
    root = pd_.path.rstrip("/") or d.rstrip("/")
    cur = pc.path
    return cur.startswith(root + "/") or os.path.dirname(cur.rstrip("/")) == root


def _barrier(df: DataFrame, eager: bool) -> DataFrame:
    d = _reliable_dir()
    if d is None:
        return df.localCheckpoint(eager=eager)
    sc = df.sparkSession.sparkContext
    # setCheckpointDir stores <d>/<uuid>; re-pin whenever the current
    # root is absent or points somewhere else (stale session state).
    if not _under_root(sc.getCheckpointDir(), d):
        sc.setCheckpointDir(d)
    if eager:
        cached = df.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            return cached.checkpoint(eager=True)
        finally:
            cached.unpersist(blocking=False)
    # lazy: persist so the eventual checkpoint write reads cached blocks
    # instead of recomputing. MEMORY_AND_DISK: if the frame is bigger
    # than executor memory, MEMORY_ONLY partitions get LRU-evicted before
    # the lazy checkpoint materializes and the write recomputes the whole
    # subtree — exactly the double-compute the persist exists to avoid
    # (ADVICE r10). The cost is spill blocks with no explicit unpersist
    # point here (the materialization site is unknown); they are
    # reclaimed when the session's ContextCleaner GCs the RDD.
    return df.persist(StorageLevel.MEMORY_AND_DISK).checkpoint(eager=False)


def barrier_eager(df: DataFrame) -> DataFrame:
    """Materialize now; truncate lineage. ``df.transform(barrier_eager)``."""
    return _barrier(df, eager=True)


def barrier_lazy(df: DataFrame) -> DataFrame:
    """Truncate lineage; materialize on first use. ``df.transform(barrier_lazy)``."""
    return _barrier(df, eager=False)
