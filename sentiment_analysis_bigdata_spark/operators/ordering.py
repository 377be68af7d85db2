"""Deterministic corpus ordering & splitting — the reproducibility layer of
a training-data pipeline.

``randomSplit`` (R2) re-rolls per partition layout and ``orderBy(rand())``
is neither reproducible nor resumable; at 100 TB a pipeline needs
content-addressed decisions instead: every row's shard, position, and split
derive from a hash of its OWN id + a seed, so any engine, any partitioning,
any re-run — and any subset of the data — produces the same assignment.
Both operators use the md5 hash family (``functions/hashing.py``), so the
DuckDB oracle replays them exactly.

Scale shapes:
- ``deterministic_shuffle`` writes shard-partitioned output; the only wide
  ops are one hash shuffle on shard id and a per-shard (never global) sort
  window of n/n_shards rows. Training jobs then read shards in id order —
  a fully shuffled, byte-stable curriculum.
- ``split_by_hash`` is a pure narrow projection — zero shuffle, usable as a
  filter predicate pushed into any scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sentiment_analysis_bigdata_spark.functions import hashing as H


def _shuffle_key(id_col: str, seed: int) -> Column:
    return H.md5_hash64(F.concat(F.col(id_col).cast("string"), F.lit(f":{seed}")))


def deterministic_shuffle(
    df: DataFrame,
    id_col: str = "doc_id",
    seed: int = 42,
    n_shards: int = 64,
    within: list[str] | None = None,
) -> DataFrame:
    """(…, shard, ordinal): a reproducible global permutation of the corpus.

    shard = md5(id:seed) mod n_shards; ordinal = rank of the row's hash key
    within its shard (ties broken by id — exact determinism even on hash
    collisions). Reading shards 0..n-1 each in ordinal order IS the
    permutation; no global sort ever runs. ``within`` scopes the ordinal
    to extra columns (e.g. a split label), so each (split, shard) file
    carries contiguous ordinals 1..n.
    """
    key = _shuffle_key(id_col, seed)
    w = Window.partitionBy(*(within or []), "shard").orderBy("__key", id_col)
    return (
        df.withColumn("__key", key)
        .withColumn("shard", F.pmod("__key", F.lit(n_shards)).cast("int"))
        .withColumn("ordinal", F.row_number().over(w).cast("bigint"))
        .drop("__key")
    )


def banded_global_ordinal(
    df: DataFrame,
    value_col: str,
    tiebreak_col: str,
    descending: bool = False,
    n_bands: int = 32,
    out_col: str = "pos",
) -> DataFrame:
    """Exact 1-based GLOBAL position of every row under the total order
    ``(value_col [DESC], tiebreak_col ASC)`` — without the
    single-partition sort a global ``row_number()``/``rank()`` window
    compiles to (which serializes the whole table through one task at
    100 TB).

    Three bounded stages: (1) ``n_bands - 1`` APPROXIMATE value
    percentiles from one constant-width sketch aggregate split the order
    into contiguous bands — cut placement only balances band sizes, the
    POSITIONS are exact wherever the cuts land, so the bounded-state
    ``approx_percentile`` sketch is strictly better here than the exact
    ``percentile`` aggregate (whose state grows with DISTINCT values —
    a corpus-cardinality value column would OOM one reducer); the band
    is a function of the VALUE alone, so order-by ties can never
    straddle a band; (2) ``row_number()`` within each band (one hash
    shuffle on the band id, per-band sorts of ~n/n_bands rows); (3) band
    offsets from the running sum of per-band counts.
    position = offset + in-band row number.

    Cuts and offsets are collected to the driver and inlined as
    LITERALS (two bounded collects: one row of ``n_bands - 1`` doubles,
    then ≤ ``n_bands`` count rows — both constant in the parameter, the
    registry's literal-cuts pattern). The broadcast-twice shape this
    replaces executed the full banded lineage once under the offsets
    broadcast and again in the output projection (ADVICE r11); with
    literals the output job executes ``df`` exactly once, and the two
    side passes are column-pruned to ``value_col``. The input lineage
    still runs once per pass (three actions total) — callers feeding an
    expensive lineage (an exploded-corpus aggregate, say) should barrier
    it first so the passes read a materialized frame. Raise ``n_bands``
    toward the cluster's task count for big tables."""
    qs = [i / n_bands for i in range(1, n_bands)]
    if descending:
        qs = qs[::-1]
    row = (
        df.agg(
            F.approx_percentile(
                value_col, F.lit(qs).cast("array<double>"), F.lit(10000)
            ).alias("__bounds")
        ).collect()[0]
        if n_bands > 1
        else {"__bounds": []}
    )
    bounds = [float(b) for b in (row["__bounds"] or [])]
    val = F.col(value_col)
    cmp = (lambda b: val < b) if descending else (lambda b: val > b)
    band = F.lit(0)
    for b in bounds:
        band = band + F.when(cmp(F.lit(b)), F.lit(1)).otherwise(F.lit(0))
    banded = df.withColumn("__band", band)
    counts = {
        int(r["__band"]): int(r["__n"])
        for r in banded.groupBy("__band")
        .agg(F.count(F.lit(1)).alias("__n"))
        .collect()
    }
    offsets, acc = {}, 0
    for b in sorted(counts):
        offsets[b] = acc
        acc += counts[b]
    off_arr = F.array(
        *[F.lit(offsets.get(b, 0)).cast("long") for b in range(len(bounds) + 1)]
    )
    order = [val.desc() if descending else val.asc(), F.col(tiebreak_col).asc()]
    w_local = Window.partitionBy("__band").orderBy(*order)
    return (
        banded.withColumn(
            out_col,
            (
                F.element_at(off_arr, F.col("__band") + 1)
                + F.row_number().over(w_local)
            ).cast("bigint"),
        )
        .drop("__band")
    )


def banded_grouped_ordinal(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    tiebreak_col: str,
    descending: bool = False,
    n_bands: int = 32,
    out_col: str = "pos",
    n_col: str = "n_in_group",
    max_entries: int = 8192,
) -> DataFrame:
    """Exact 1-based position of every row WITHIN its group under
    ``(value_col [DESC], tiebreak_col ASC)``, plus the group's row count
    — without the per-group single-task sort that
    ``row_number()/percent_rank() OVER (PARTITION BY group)`` compiles to
    when the group key is low-cardinality (an enum like order status
    splits the corpus into a handful of corpus-scaled partitions, each
    serialized through ONE task at 100 TB; VERDICT r11 #4 defect class).

    Same three bounded stages as :func:`banded_global_ordinal`, keyed by
    (group, band): one GLOBAL approx-percentile sketch cuts the value
    order into bands (band membership is a function of the value alone,
    so it is consistent across groups and ties cannot straddle a band);
    ``row_number()`` within each (group, band) — uniform ~n/n_bands
    fractions of each group per task; per-(group, band) counts collected
    once and inlined as LITERAL offset/total maps.

    The collect is bounded by |groups| × n_bands and the literal maps by
    2 × that: ``group_cols`` must be enum-like (status, label, lang —
    value cardinality constant in the corpus). ``max_entries`` fails
    loudly when the key turns out corpus-scaled — use a doc-keyed window
    (entity-bounded groups) or :func:`banded_global_ordinal` per group
    instead. NULL group values are not supported (map lookup misses).
    """
    qs = [i / n_bands for i in range(1, n_bands)]
    if descending:
        qs = qs[::-1]
    row = (
        df.agg(
            F.approx_percentile(
                value_col, F.lit(qs).cast("array<double>"), F.lit(10000)
            ).alias("__bounds")
        ).collect()[0]
        if n_bands > 1
        else {"__bounds": []}
    )
    bounds = [float(b) for b in (row["__bounds"] or [])]
    val = F.col(value_col)
    cmp = (lambda b: val < b) if descending else (lambda b: val > b)
    band = F.lit(0)
    for b in bounds:
        band = band + F.when(cmp(F.lit(b)), F.lit(1)).otherwise(F.lit(0))
    banded = df.withColumn("__band", band)
    counts_rows = (
        banded.groupBy(*group_cols, "__band")
        .agg(F.count(F.lit(1)).alias("__n"))
        .limit(max_entries + 1)
        .collect()
    )
    if len(counts_rows) > max_entries:
        raise ValueError(
            f"banded_grouped_ordinal: more than {max_entries} (group, band)"
            " cells — the group key looks corpus-scaled, not enum-like;"
            " use an entity-bounded window or per-group banded_global_ordinal"
        )
    def _gkey(r) -> str:
        return "\x1f".join(str(r[c]) for c in group_cols)

    by_group: dict[str, dict[int, int]] = {}
    for r in counts_rows:
        by_group.setdefault(_gkey(r), {})[int(r["__band"])] = int(r["__n"])
    off_items: list = []
    n_items: list = []
    # sorted: the collect returns groups in no fixed order, and the map
    # literals (so the plan text) must not depend on it
    for gk, cells in sorted(by_group.items()):
        acc = 0
        for b in sorted(cells):
            off_items.append(F.lit(f"{gk}\x1f{b}"))
            off_items.append(F.lit(acc).cast("long"))
            acc += cells[b]
        n_items.append(F.lit(gk))
        n_items.append(F.lit(acc).cast("long"))
    gkey = F.concat_ws("\x1f", *[F.col(c).cast("string") for c in group_cols])
    off = F.create_map(*off_items)[F.concat_ws("\x1f", gkey, F.col("__band").cast("string"))]
    n_g = F.create_map(*n_items)[gkey]
    order = [val.desc() if descending else val.asc(), F.col(tiebreak_col).asc()]
    w_local = Window.partitionBy(*group_cols, "__band").orderBy(*order)
    return (
        banded.withColumn(
            out_col, (off + F.row_number().over(w_local)).cast("bigint")
        )
        .withColumn(n_col, n_g)
        .drop("__band")
    )


def sql_shuffle_exprs(id_col: str, seed: int, n_shards: int) -> tuple[str, str]:
    """DuckDB twins of (shard, ordinal) for oracle queries."""
    key = f"CAST(('0x' || substr(md5({id_col} || ':{seed}'), 1, 15)) AS BIGINT)"
    shard = f"CAST({key} % {n_shards} AS INTEGER)"
    ordinal = (
        f"CAST(row_number() OVER (PARTITION BY {shard} ORDER BY {key}, {id_col}) AS BIGINT)"
    )
    return shard, ordinal


def split_by_hash(
    df: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Content-addressed train/val/test split: adds a ``split`` column.

    Row r lands in the first split whose cumulative weight exceeds
    md5(id:seed) mod 10^6 / 10^6. Unlike randomSplit, membership is a pure
    function of the row id — stable across reruns, partitionings, engines,
    and incremental data arrival (new rows never move old rows between
    splits)."""
    if abs(sum(weights.values()) - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {weights}")
    u = F.pmod(_shuffle_key(id_col, seed), F.lit(1_000_000)) / 1_000_000.0
    expr = None
    cum = 0.0
    names = list(weights)
    for name in names[:-1]:
        cum += weights[name]
        expr = F.when(u < cum, name) if expr is None else expr.when(u < cum, name)
    expr = F.lit(names[-1]) if expr is None else expr.otherwise(names[-1])
    return df.withColumn("split", expr)


def weighted_sample_by_hash(
    df: DataFrame,
    fraction_expr: Column,
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Deterministic importance sampling: keep a row iff
    md5(id:seed)-uniform < ``fraction_expr`` (a per-row acceptance
    probability column). Unlike ``sample()``, the decision is
    content-addressed — reruns, retries, and engine changes keep exactly
    the same rows, and the oracle can replay membership row by row.
    Narrow (no shuffle); the filter pushes wherever the id column goes."""
    u = F.pmod(_shuffle_key(id_col, seed), F.lit(1_000_000)) / 1_000_000.0
    return df.filter(u < fraction_expr)


def balance_sources(
    df: DataFrame,
    source_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Domain balancing for training-data mixes: deterministically
    downsample every source to the size of the smallest source.

    Two passes: (1) per-source counts (a per-domain aggregate — source
    cardinality is data-dependent, so the join back carries NO broadcast
    hint and AQE owns the strategy; only the 1-row global min is
    hint-broadcast); (2) keep each row iff its hash-uniform <
    min_count/count(source) — an EXPECTED-size sampler, content-addressed
    like everything above, so the result is reproducible and incrementally
    stable. No window, no sort; scales as a filter."""
    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("__n"))
    min_n = counts.agg(F.min("__n").alias("m"))
    rates = (
        counts.join(F.broadcast(min_n))
        .select(source_col, (F.col("m") / F.col("__n")).alias("__accept"))
    )
    return (
        weighted_sample_by_hash(
            df.join(rates, source_col), F.col("__accept"), id_col, seed
        )
        .drop("__accept")
    )


def sample_per_group(
    df: DataFrame,
    group_cols: list[str],
    k: int,
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Deterministic k-per-group sample: the k rows with the smallest
    md5(id:seed) within each group (ties broken by id) — the
    content-addressed replacement for per-group reservoir sampling.
    Reruns, engine changes, and data growth keep previously-selected rows
    selected as long as they stay in the k smallest hashes, so eval-set
    extraction is reproducible and near-stable under corpus growth.

    Shape: one shuffle on the group key; the rank window sorts per group,
    never globally (same plan family as top_orders_per_customer,
    PLANS.md). Adds ``sample_rank`` (1..k).
    """
    key = _shuffle_key(id_col, seed)
    w = Window.partitionBy(*group_cols).orderBy("__key", id_col)
    return (
        df.withColumn("__key", key)
        .withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= k)
        .drop("__key")
    )


def sql_sample_key(id_col: str, seed: int) -> str:
    """DuckDB twin of the per-row sample ordering key."""
    return f"CAST(('0x' || substr(md5(CAST({id_col} AS VARCHAR) || ':{seed}'), 1, 15)) AS BIGINT)"


def sql_split_expr(weights: dict[str, float], id_col: str, seed: int) -> str:
    """DuckDB twin of the ``split`` column."""
    key = f"CAST(('0x' || substr(md5({id_col} || ':{seed}'), 1, 15)) AS BIGINT)"
    u = f"(({key} % 1000000) / 1000000.0)"
    names = list(weights)
    parts, cum = [], 0.0
    for name in names[:-1]:
        cum += weights[name]
        parts.append(f"WHEN {u} < {cum} THEN '{name}'")
    return "CASE " + " ".join(parts) + f" ELSE '{names[-1]}' END"


def mixture_sample(
    df: DataFrame,
    targets: dict[str, float],
    weight_col: str,
    source_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Target-ratio data mixing with deterministic up- AND down-sampling —
    the pre-training mixture op (domain weights à la DoReMi / the Llama
    data recipe): re-weight each source so its share of total
    ``weight_col`` (tokens, chars, bytes) matches ``targets`` while
    keeping the overall budget at the corpus total.

    Per source s: rate_s = targets[s] · W_total / W_s. A rate < 1
    downsamples (hash-Bernoulli keep); a rate > 1 upsamples by REPETITION
    — floor(rate) guaranteed copies per row ("epochs") plus one more with
    probability frac(rate). Every decision derives from
    md5(id:copy:seed), so the emitted multiset is content-addressed:
    reruns, engines, and partitionings agree row for row, and the SQL
    oracle replays membership exactly. Sources absent from ``targets``
    are dropped (rate 0).

    Scale shape: one per-source aggregate (tiny), a 1-row total
    (hint-broadcast; the per-source rate join carries NO hint — source
    cardinality is data-dependent, AQE decides), then a narrow
    explode(sequence(0, ceil(rate)-1)) + filter. No global shuffle of the
    corpus; output size is ~W_total of weight regardless of skew.

    Output: input columns + ``copy_id`` (0-based repetition index).
    """
    tot = df.agg(F.sum(weight_col).alias("__wt"))
    per = df.groupBy(source_col).agg(F.sum(weight_col).alias("__ws"))
    tmap = F.create_map(
        *[x for kv in targets.items() for x in (F.lit(kv[0]), F.lit(float(kv[1])))]
    )
    rates = per.join(F.broadcast(tot)).select(
        source_col,
        (
            F.coalesce(tmap[F.col(source_col)], F.lit(0.0))
            * F.col("__wt")
            / F.col("__ws")
        ).alias("__rate"),
    )
    u = (
        F.pmod(
            H.md5_hash64(
                F.concat_ws(
                    ":",
                    F.col(id_col).cast("string"),
                    F.col("copy_id").cast("string"),
                    F.lit(str(seed)),
                )
            ),
            F.lit(1_000_000),
        )
        / 1_000_000.0
    )
    return (
        df.join(rates, source_col)
        .filter(F.col("__rate") > 0)
        .withColumn(
            "copy_id", F.explode(F.sequence(F.lit(0).cast("long"), F.ceil("__rate") - 1))
        )
        .filter((F.col("copy_id") < F.floor("__rate")) | (u < F.col("__rate") - F.floor("__rate")))
        .drop("__rate")
    )


def dataset_fingerprint(
    df: DataFrame, cols: list[str] | None = None
) -> DataFrame:
    """Order-independent content fingerprint of a table: one row
    (n_rows, fingerprint) where fingerprint = Σ md5_hash64(canonical row
    string) mod 2⁶¹ (the modulus fits a signed int64 literal) — identical for any partitioning, row order, or
    engine computing the same rows, different (w.h.p.) for any changed,
    added, or dropped row. The cheap dataset-version id a reproducible
    training pipeline records next to its outputs (the content-addressed
    complement to deterministic_shuffle/split_by_hash in this module).

    Canonical row string: '\\x1f'-joined column values in the caller's
    column order with NULL → '␀' — so column ORDER matters (part of the
    schema identity) but row order never does. Commutative sum ⇒ partial
    aggregation map-side; one narrow pass, one 1-row result.
    """
    from sentiment_analysis_bigdata_spark.functions.hashing import md5_hash64

    use = cols or df.columns
    canon = F.concat_ws(
        "\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("␀")) for c in use]
    )
    h = md5_hash64(canon)
    # the raw sum of 60-bit hashes overflows int64 on big tables — run
    # the accumulation in decimal(38) (fits ~2^126) and reduce mod 2⁶¹
    return df.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.pmod(F.sum(h.cast("decimal(38,0)")), F.lit(1 << 61))
        .cast("bigint")
        .alias("fingerprint"),
    )
