"""Corpus-pipeline entry points: the north-star LLM-data operations as a
usable batch pipeline over a parquet corpus with a ``text`` column.

    python -m sentiment_analysis_bigdata_spark.apps corpus-clean \
        --input docs.parquet --output out/ [--min-quality 0.3] [--langs en,es]
    python -m sentiment_analysis_bigdata_spark.apps corpus-dedup \
        --input docs.parquet --output out/ --method exact|minhash|simhash \
        [--threshold 0.8]
    python -m sentiment_analysis_bigdata_spark.apps corpus-cluster-dedup \
        --input docs.parquet --output out/ --method minhash|simhash
    python -m sentiment_analysis_bigdata_spark.apps corpus-pack \
        --input docs.parquet --output shards/ --max-tokens 2048

``corpus-clean`` annotates every document (tokens, quality, language,
fingerprint) and filters by quality/language — one narrow pass, no shuffle.
``corpus-dedup`` drops exact duplicates, then (for the near-dup methods)
removes the higher-id member of every verified near-dup pair.
``corpus-cluster-dedup`` closes the near-dup graph into connected
components and keeps one survivor per cluster (transitively correct).
``corpus-pack`` greedily packs documents into fixed-token training shards.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sentiment_analysis_bigdata_spark.functions import text as TXT
from sentiment_analysis_bigdata_spark.operators import dedup as DD
from sentiment_analysis_bigdata_spark.plans.barrier import barrier_lazy
from sentiment_analysis_bigdata_spark.sources import write_parquet


def annotate_corpus(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the text-analysis signal columns every curation step reads."""
    return df.withColumns(
        {
            "n_tokens": TXT.token_count(text_col),
            "quality": TXT.quality_score(text_col),
            "lang_guess": TXT.lang_id(text_col),
            "fingerprint": TXT.fingerprint(text_col),
        }
    )


def clean_corpus(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.0,
    min_tokens: int = 1,
    langs: list[str] | None = None,
    boilerplate_pct: int | None = None,
) -> dict[str, Any]:
    """Annotate + filter a corpus; returns before/after counts per filter.

    ``boilerplate_pct`` (opt-in) additionally rewrites each surviving
    document through :func:`operators.dedup.crossdoc_segment_dedup`,
    dropping every segment whose corpus document frequency is >= that
    percentage — the CCNet-style boilerplate pass, run AFTER the row
    filters so the df statistics reflect the kept corpus.
    """
    df = spark.read.parquet(input_path)
    ann = annotate_corpus(df, text_col).cache()
    bp = None
    try:
        keep = (F.col("quality") >= min_quality) & (F.col("n_tokens") >= min_tokens)
        if langs:
            keep = keep & F.col("lang_guess").isin(list(langs))
        # one action fills the cache and counts both sides of the filter
        # (the boilerplate rewrite below keeps every row)
        total, n_kept = ann.agg(F.count(F.lit(1)), F.count_if(keep)).first()
        kept = ann.filter(keep)
        segments_dropped = 0
        if boilerplate_pct is not None:
            from sentiment_analysis_bigdata_spark.operators.dedup import (
                crossdoc_segment_dedup,
            )

            bp = crossdoc_segment_dedup(
                kept, text_col=text_col, id_col=id_col, max_df_pct=boilerplate_pct
            ).cache()
            segments_dropped = int(
                bp.agg(
                    F.coalesce(
                        F.sum(F.col("n_segments") - F.col("n_kept")), F.lit(0)
                    )
                ).first()[0]
            )
            kept = (
                bp.drop(text_col, "n_segments", "n_kept")
                .withColumnRenamed(f"{text_col}_deduped", text_col)
            )
        write_parquet(kept, output_path)
    finally:
        ann.unpersist()
        if bp is not None:
            bp.unpersist()
    out = {"rows_in": total, "rows_out": n_kept, "dropped": total - n_kept}
    if boilerplate_pct is not None:
        out["segments_dropped"] = segments_dropped
    return out


def dedup_corpus(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    method: str = "exact",
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    max_hamming: int = 3,
) -> dict[str, Any]:
    """Deduplicate a corpus: always exact first, then optional near-dup.

    Near-dup survivor policy: for each verified (a, b) pair with a < b, the
    HIGHER id is removed (anti-join) — deterministic and idempotent.
    """
    df = spark.read.parquet(input_path)
    total = df.count()
    exact = DD.exact_dedup(df, text_col, id_col)

    if method == "exact":
        survivors = exact
    elif method == "minhash":
        pairs = DD.minhash_near_duplicates(
            exact, text_col, id_col, threshold=threshold
        )
        losers = pairs.select(F.col("b").alias(id_col)).distinct()
        survivors = exact.join(losers, id_col, "left_anti")
    elif method == "simhash":
        pairs = DD.simhash_near_duplicates(
            exact, text_col, id_col, max_hamming=max_hamming
        )
        losers = pairs.select(F.col("b").alias(id_col)).distinct()
        survivors = exact.join(losers, id_col, "left_anti")
    else:
        raise ValueError(f"unknown dedup method {method!r}")

    n_out = survivors.count()
    write_parquet(survivors, output_path)
    return {"rows_in": total, "rows_out": n_out, "removed": total - n_out, "method": method}


def cluster_dedup_corpus(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    method: str = "minhash",
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    max_hamming: int = 3,
) -> dict[str, Any]:
    """Transitively-correct near-dedup: pairwise removal (``dedup_corpus``)
    keeps c when a≈b and b≈c but a̸≈c; here the near-dup pair graph is
    closed into connected components and only each cluster's minimum id
    survives — one survivor per cluster regardless of chain depth.

    Each intermediate is computed once: the exact-dedup survivors sit
    behind one barrier (its count is ``n_exact``) that both the near-dup
    pairs and the final anti-join read, and ``rows_out`` is ``n_exact``
    minus the exact rows whose id is a loser (the semi-join complement
    of the written anti-join, so a row repeated under one id counts as
    often as it is dropped) instead of a second evaluation of the
    survivor frame."""
    df = spark.read.parquet(input_path)
    total = df.count()
    exact = DD.exact_dedup(df, text_col, id_col).transform(barrier_lazy)
    n_exact = exact.count()
    if method == "minhash":
        pairs = DD.minhash_near_duplicates(exact, text_col, id_col, threshold=threshold)
    elif method == "simhash":
        pairs = DD.simhash_near_duplicates(exact, text_col, id_col, max_hamming=max_hamming)
    else:
        raise ValueError(f"unknown cluster-dedup method {method!r}")
    comp = DD.connected_components(pairs)
    losers = (
        comp.filter(F.col("node") != F.col("component"))
        .select(F.col("node").alias(id_col))
    )
    n_out = n_exact - exact.join(losers, id_col, "left_semi").count()
    write_parquet(exact.join(losers, id_col, "left_anti"), output_path)
    return {
        "rows_in": total,
        "rows_out": n_out,
        "removed": total - n_out,
        "method": f"cluster-{method}",
    }


def pack_corpus(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_tokens: int = 2048,
) -> dict[str, Any]:
    """Pack a corpus into fixed-token-budget training shards: count tokens,
    greedily pack per partition (operators.packing), join the assignment
    back, and write shard-annotated rows."""
    from sentiment_analysis_bigdata_spark.operators import packing

    df = spark.read.parquet(input_path)
    with_tokens = df.withColumn("n_tokens", TXT.token_count(text_col).cast("long"))
    packed = packing.pack_sequences(with_tokens, id_col=id_col, max_tokens=max_tokens)
    out = with_tokens.drop("n_tokens").join(packed, id_col)
    n_docs = out.count()
    n_shards = out.select("shard_id").distinct().count()
    write_parquet(out, output_path)
    return {
        "rows_in": n_docs,
        "n_shards": n_shards,
        "avg_fill": (
            out.select("shard_id", "shard_fill").distinct()
            .agg(F.avg("shard_fill")).first()[0]
        ),
        "max_tokens": max_tokens,
    }


def mix_corpus(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    id_col: str = "doc_id",
    balance_col: str | None = None,
    split_weights: dict[str, float] | None = None,
    n_shards: int = 64,
    seed: int = 42,
) -> dict[str, Any]:
    """Training-mix assembly: (optional) domain balancing → hash split →
    deterministic shuffle → shard-partitioned parquet.

    Every decision is content-addressed (operators.ordering), so rerunning
    the mix over a grown corpus reproduces prior rows' shard/split exactly.
    Output is written partitioned by (split, shard) — a training job reads
    its split's shards in ordinal order and gets a reproducible curriculum
    without any global sort having run."""
    from sentiment_analysis_bigdata_spark.operators import ordering

    df = spark.read.parquet(input_path)
    total = df.count()
    if balance_col:
        df = ordering.balance_sources(df, balance_col, id_col, seed)
    df = ordering.split_by_hash(
        df, split_weights or {"train": 0.98, "val": 0.01, "test": 0.01}, id_col, seed
    )
    df = ordering.deterministic_shuffle(df, id_col, seed, n_shards, within=["split"])
    write_parquet(df, output_path, partition_by=["split", "shard"])
    out = spark.read.parquet(output_path)
    n_out = out.count()
    split_counts = {
        r["split"]: r["n"]
        for r in out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    return {
        "rows_in": total,
        "rows_out": n_out,
        "splits": split_counts,
        "n_shards": n_shards,
        "balanced_on": balance_col,
    }


def register_cli(sub) -> None:
    """Attach corpus subcommands to the apps argparse tree."""
    c = sub.add_parser("corpus-clean", help="annotate + quality/lang filter a corpus")
    c.add_argument("--input", required=True)
    c.add_argument("--output", required=True)
    c.add_argument("--min-quality", type=float, default=0.0)
    c.add_argument("--min-tokens", type=int, default=1)
    c.add_argument("--langs", help="comma-separated allowlist, e.g. en,es")
    c.add_argument(
        "--boilerplate-pct",
        type=int,
        help="drop segments whose corpus document frequency >= this percent "
        "(CCNet-style cross-document boilerplate removal; off by default)",
    )

    d = sub.add_parser("corpus-dedup", help="exact/near dedup of a corpus")
    d.add_argument("--input", required=True)
    d.add_argument("--output", required=True)
    d.add_argument("--method", default="exact", choices=["exact", "minhash", "simhash"])
    d.add_argument("--threshold", type=float, default=0.8)
    d.add_argument("--max-hamming", type=int, default=3)

    g = sub.add_parser(
        "corpus-cluster-dedup",
        help="transitive near-dedup (connected components, one survivor per cluster)",
    )
    g.add_argument("--input", required=True)
    g.add_argument("--output", required=True)
    g.add_argument("--method", default="minhash", choices=["minhash", "simhash"])
    g.add_argument("--threshold", type=float, default=0.8)
    g.add_argument("--max-hamming", type=int, default=3)

    p = sub.add_parser(
        "corpus-pack", help="pack documents into fixed-token training shards"
    )
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--max-tokens", type=int, default=2048)

    m = sub.add_parser(
        "corpus-mix",
        help="balance + split + deterministic shuffle into training shards",
    )
    m.add_argument("--input", required=True)
    m.add_argument("--output", required=True)
    m.add_argument("--balance-col", help="domain column to balance on (e.g. lang)")
    m.add_argument("--n-shards", type=int, default=64)
    m.add_argument("--seed", type=int, default=42)


def run_cli(spark: SparkSession, args) -> dict[str, Any]:
    if args.cmd == "corpus-clean":
        return clean_corpus(
            spark,
            args.input,
            args.output,
            min_quality=args.min_quality,
            min_tokens=args.min_tokens,
            langs=args.langs.split(",") if args.langs else None,
            boilerplate_pct=args.boilerplate_pct,
        )
    if args.cmd == "corpus-cluster-dedup":
        return cluster_dedup_corpus(
            spark,
            args.input,
            args.output,
            method=args.method,
            threshold=args.threshold,
            max_hamming=args.max_hamming,
        )
    if args.cmd == "corpus-pack":
        return pack_corpus(
            spark, args.input, args.output, max_tokens=args.max_tokens
        )
    if args.cmd == "corpus-mix":
        return mix_corpus(
            spark,
            args.input,
            args.output,
            balance_col=args.balance_col,
            n_shards=args.n_shards,
            seed=args.seed,
        )
    return dedup_corpus(
        spark,
        args.input,
        args.output,
        method=args.method,
        threshold=args.threshold,
        max_hamming=args.max_hamming,
    )
