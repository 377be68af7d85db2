"""Physical-plan introspection helpers — the 'is this the plan I want?'
toolkit used by tests and by the bench harness.

At 100 TB the difference between a broadcast-hash join and an accidental
sort-merge, or between a pruned scan and a full-column read, is the whole
job. These helpers make plan properties assertable in pytest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df)


def has_sort_merge_join(df: DataFrame) -> bool:
    return "SortMergeJoin" in formatted_plan(df)


def pushed_filters(df: DataFrame) -> str:
    """The PushedFilters section of the scan node ('' if none)."""
    plan = formatted_plan(df)
    out = []
    for line in plan.splitlines():
        if "PushedFilters" in line:
            out.append(line.strip())
    return "\n".join(out)


def read_schema(df: DataFrame) -> str:
    """ReadSchema lines — verify column pruning reached the scan."""
    plan = formatted_plan(df)
    return "\n".join(l.strip() for l in plan.splitlines() if "ReadSchema" in l)


def num_shuffles(df: DataFrame) -> int:
    """Count shuffle Exchange nodes in the physical plan. Counts only the
    numbered detail entries ("(4) Exchange") — each node also appears in
    the tree header, which would double-count — and excludes
    BroadcastExchange (not a shuffle)."""
    import re

    plan = formatted_plan(df)
    return len(re.findall(r"^\(\d+\) Exchange\b", plan, flags=re.M))
