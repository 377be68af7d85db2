"""Relational core (SURVEY §2.2-§2.5): CASE WHEN, joins, windows, set ops,
grouping sets, sampling, sorts, top-k.

The reference exercises only a sliver of this surface (dropna / select /
withColumn / when / groupBy-count — SURVEY P1-P7, A1-A3) and contains zero
joins/windows/set-ops (SURVEY §2.5); the engine provides the full family as
first-class, declaratively-planned operators so Catalyst chooses physical
strategies (broadcast-hash vs sort-merge, partial aggregation, AQE skew
handling). The reference's P1-P4 steps (``dropna``, ``select``,
``withColumn``) need no wrapper: callers use the DataFrame calls directly
(``apps/workflow.clean_tweets``; the ``null_handling`` and
``case_when_bands`` queries).

Scale notes baked into each operator's contract:
- ``join``: small dimension sides should be broadcast — pass
  ``broadcast_right=True`` (or rely on AQE + autoBroadcastJoinThreshold).
- ``top_k``: global ``orderBy().limit(k)`` is planned as TakeOrderedAndProject
  (per-partition heaps + driver merge of k rows) — no full sort, no full
  shuffle.
- ``top_k_per_group``: window + filter, one shuffle on the partition key.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


# --- CASE WHEN (P5) -------------------------------------------------------

def case_when(pairs: Sequence[tuple[Column, Column]], default: Column) -> Column:
    """P5 — CASE WHEN chain (reference preprocessing.py:93-96)."""
    expr = None
    for cond, val in pairs:
        expr = F.when(cond, val) if expr is None else expr.when(cond, val)
    return expr.otherwise(default)


# --- joins (§2.5) ----------------------------------------------------------

def join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str] | Column,
    how: str = "inner",
    broadcast_right: bool = False,
) -> DataFrame:
    """Equi/theta join; ``broadcast_right`` pins a broadcast-hash plan for
    dimension tables (region/nation/etc.) so no shuffle of the fact side.
    """
    r = F.broadcast(right) if broadcast_right else right
    return left.join(r, on=on, how=how)


def semi_join(left: DataFrame, right: DataFrame, on: str | Sequence[str] | Column) -> DataFrame:
    return left.join(right, on=on, how="left_semi")


def anti_join(left: DataFrame, right: DataFrame, on: str | Sequence[str] | Column) -> DataFrame:
    return left.join(right, on=on, how="left_anti")


# --- windows ---------------------------------------------------------------

def top_k(df: DataFrame, order_by: Sequence[Column], k: int) -> DataFrame:
    """Global top-k → TakeOrderedAndProject (no total sort at scale)."""
    return df.orderBy(*order_by).limit(k)


def top_k_per_group(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    k: int,
    rank_col: str = "rn",
) -> DataFrame:
    """Per-group top-k via ``row_number`` — one shuffle on the group key."""
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
    )


def running_agg(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    agg_expr: Column,
    out_col: str,
) -> DataFrame:
    """Cumulative window aggregate (rows unbounded-preceding → current)."""
    w = (
        Window.partitionBy(*partition_by)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(out_col, agg_expr.over(w))


def lag_lead(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    col: str,
    offsets: tuple[int, int] = (1, 1),
) -> DataFrame:
    """lag/lead neighbors — the building block for sessionization & as-of."""
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return df.withColumn(f"{col}_lag", F.lag(col, offsets[0]).over(w)).withColumn(
        f"{col}_lead", F.lead(col, offsets[1]).over(w)
    )


# --- set ops ----------------------------------------------------------------

def union_all(*dfs: DataFrame) -> DataFrame:
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def intersect(a: DataFrame, b: DataFrame, keep_duplicates: bool = False) -> DataFrame:
    return a.intersectAll(b) if keep_duplicates else a.intersect(b)


def except_(a: DataFrame, b: DataFrame, keep_duplicates: bool = False) -> DataFrame:
    return a.exceptAll(b) if keep_duplicates else a.subtract(b)


# --- grouping sets -----------------------------------------------------------

def rollup_agg(df: DataFrame, keys: Sequence[str], *aggs: Column) -> DataFrame:
    return df.rollup(*keys).agg(*aggs)


def cube_agg(df: DataFrame, keys: Sequence[str], *aggs: Column) -> DataFrame:
    return df.cube(*keys).agg(*aggs)


# --- sampling / splits (R1-R2) ----------------------------------------------

def bernoulli_sample(df: DataFrame, fraction: float, seed: int = 42) -> DataFrame:
    """R1 — partition-seeded Bernoulli sample (reference preprocessing.py:52)."""
    return df.sample(withReplacement=False, fraction=fraction, seed=seed)


def random_split(
    df: DataFrame, weights: Sequence[float], seed: int = 42
) -> list[DataFrame]:
    """R2 — reference model_*.py randomSplit([.8,.2], 42)."""
    return df.randomSplit(list(weights), seed=seed)


def stratified_sample(
    df: DataFrame, strata_col: str, fractions: dict, seed: int = 42
) -> DataFrame:
    """Per-stratum Bernoulli sample (``sampleBy``): class-rebalancing for
    training data — e.g. downsample the majority label without a shuffle
    (each row is kept/dropped locally by its stratum's fraction). Strata
    absent from ``fractions`` are dropped entirely."""
    return df.sampleBy(strata_col, fractions=fractions, seed=seed)
