"""Reference-workload workflow functions (preprocess / train / compare).

Parity map (reference file:line → here):
- preprocessing.py:31-35 CSV scan w/ DDL schema      → ``preprocess`` S1
- preprocessing.py:38 dropna                          → P1
- preprocessing.py:44 sentiment distribution          → distributed A1
- preprocessing.py:49-161 text-length stats/viz data  → distributed A4
  (mean/min/max + exact-at-scale approx quantiles for the boxplot)
- preprocessing.py:93-108 label + clean chain + filter→ P5, F1-F8, P6
- preprocessing.py:166-169 coalesce(4) CSV sink       → S3
- model_*.py train/eval/persist                       → ``train_model``
  (M1-M12 pipelines, A5-A9 distributed metrics, S4 model sink, S5 JSON)
- compare_models.py                                   → ``compare_models``
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sentiment_analysis_bigdata_spark import schemas
from sentiment_analysis_bigdata_spark.functions import text as TXT
from sentiment_analysis_bigdata_spark.operators import ml as ML
from sentiment_analysis_bigdata_spark.sources import read_csv, write_csv


def clean_tweets(raw: DataFrame) -> DataFrame:
    """raw Sentiment140 frame → (label, text) clean frame.

    Exact reference semantics: dropna (preprocessing.py:38), 0/4→0/1 label
    (ibid:93-96), 7-step clean chain (ibid:100-106), non-empty filter
    (ibid:108). All narrow ops — fuses into the scan stage, no shuffle.
    """
    return (
        raw.dropna()
        .select(
            TXT.normalize_label("sentiment").alias("label"),
            TXT.clean_text("text").alias("text"),
        )
        .filter(F.length("text") > 0)
    )


def text_length_stats(df: DataFrame, text_col: str = "text") -> dict[str, Any]:
    """Distributed replacement for the reference's driver-side pandas stats
    (preprocessing.py:154-161): one aggregation, no sample+collect.
    approx_percentile gives the boxplot quartiles at any scale.
    """
    row = df.select(F.length(text_col).alias("n")).agg(
        F.count("n").alias("count"),
        F.avg("n").alias("mean"),
        F.min("n").alias("min"),
        F.max("n").alias("max"),
        F.expr("approx_percentile(n, array(0.25, 0.5, 0.75), 10000)").alias("quartiles"),
    ).first()
    return {
        "count": row["count"],
        "mean": float(row["mean"]) if row["mean"] is not None else None,
        "min": row["min"],
        "max": row["max"],
        "q25": row["quartiles"][0] if row["quartiles"] else None,
        "median": row["quartiles"][1] if row["quartiles"] else None,
        "q75": row["quartiles"][2] if row["quartiles"] else None,
    }


def length_histogram_bins(
    df: DataFrame, text_col: str = "text", bin_width: int = 10
) -> list[tuple[int, int]]:
    """Distributed (bin_start, count) histogram rows for the chart sink —
    the reference histogrammed a collected pandas sample
    (preprocessing.py:125-145); this is one hash aggregation, k rows out."""
    rows = (
        df.groupBy(
            (F.floor(F.length(text_col) / bin_width) * bin_width)
            .cast("bigint")
            .alias("bin_start")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    return sorted((int(r["bin_start"]), int(r["n"])) for r in rows)


def preprocess(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    stats_path: str | None = None,
    num_output_files: int = 4,
    input_format: str = "csv",
    charts_dir: str | None = None,
) -> dict[str, Any]:
    """ETL entry point (reference preprocessing.py).

    Reads raw tweets (headerless CSV with the Sentiment140 DDL schema, or
    parquet), cleans, writes the headered CSV sink, and returns/persists the
    stats the reference rendered as charts. The clean frame is cached so the
    stats pass and the sink don't re-scan the source (the reference
    recomputed lineage per action, SURVEY §3 entry point 1).

    With ``charts_dir`` set, also renders the reference's preprocessing PNGs
    (sentiment bar, length histogram with the 140-char marker, before/after
    length boxplot — preprocessing.py:63-148) from the SAME distributed
    aggregates; no sampled collect feeds any chart.
    """
    if input_format == "csv":
        raw = read_csv(spark, input_path, schemas.TWEETS_RAW, header=False)
    else:
        raw = spark.read.parquet(input_path)

    clean = clean_tweets(raw).cache()
    try:
        sentiment_dist = {
            str(r["label"]): r["n"]
            for r in clean.groupBy("label").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        # NOTE: df.observe() would give sink-ride-along telemetry for free,
        # but in PySpark 4.1.2 registering ANY Observation leaves the
        # session's ObservationManager in later task closures and every
        # subsequent MLlib fit dies with NotSerializableException — so the
        # stats pass stays on the cached frame instead.
        stats = {
            "rows_clean": clean.count(),
            "label_distribution": sentiment_dist,
            "text_length": text_length_stats(clean),
        }
        if charts_dir:
            from sentiment_analysis_bigdata_spark.apps import charts

            labels = sorted(sentiment_dist)
            charts.bar_chart(
                os.path.join(charts_dir, "sentiment_distribution.png"),
                labels,
                [sentiment_dist[k] for k in labels],
                title="SENTIMENT DISTRIBUTION",
                colors=[charts.RED, charts.GREEN],
            )
            charts.histogram(
                os.path.join(charts_dir, "text_length_histogram.png"),
                length_histogram_bins(clean),
                bin_width=10,
                title="TEXT LENGTH (AFTER CLEAN)",
                vline=140,
            )
            charts.boxplot(
                os.path.join(charts_dir, "text_length_boxplot.png"),
                [text_length_stats(raw.dropna()), stats["text_length"]],
                ["BEFORE", "AFTER"],
                title="TEXT LENGTH: BEFORE VS AFTER",
            )
        write_csv(clean, output_path, num_files=num_output_files)
    finally:
        clean.unpersist()

    if stats_path:
        os.makedirs(os.path.dirname(stats_path) or ".", exist_ok=True)
        with open(stats_path, "w") as f:
            json.dump(stats, f, indent=4)
    return stats


def train_model(
    spark: SparkSession,
    input_path: str,
    model: str,
    out_dir: str,
    features: str = "tfidf",
    cfg: ML.PipelineConfig | None = None,
    input_format: str = "csv",
    charts_dir: str | None = None,
) -> dict[str, Any]:
    """Train/eval/persist entry point (reference model_*.py).

    Reads the clean CSV with an explicit schema (the reference pays an
    inferSchema double scan here, model_logistic_regression.py:71-75),
    fits the reference pipeline, computes distributed metrics, persists the
    model (S4) and a metrics JSON (S5) shaped like the reference's
    ``metrics/*_metrics.json``. ``charts_dir`` additionally renders the
    confusion-heatmap and ROC-curve PNGs
    (model_logistic_regression.py:261-296).
    """
    if input_format == "csv":
        df = read_csv(spark, input_path, schemas.TWEETS_CLEAN, header=True)
    else:
        df = spark.read.parquet(input_path)
    df = df.dropna()

    cfg = cfg or ML.PipelineConfig(features=features)
    fitted, metrics = ML.train_and_evaluate(df, model, cfg, charts_dir=charts_dir)

    os.makedirs(out_dir, exist_ok=True)
    ML.save_model(fitted, os.path.join(out_dir, f"model_{model}"))
    metrics_file = os.path.join(out_dir, f"{model}_metrics.json")
    with open(metrics_file, "w") as f:
        json.dump(metrics, f, indent=4)
    return metrics


def compare_models(
    metrics_dir: str,
    out_path: str | None = None,
    charts_dir: str | None = None,
) -> dict[str, Any]:
    """Comparison entry point (reference compare_models.py): merge the
    per-model metrics JSONs into one table; with ``charts_dir``, render the
    comparison PNGs (grouped accuracy/F1 bars + per-model confusion
    heatmaps, compare_models.py:20-59) with the built-in rasterizer — no
    matplotlib needed."""
    merged: dict[str, Any] = {}
    for fname in sorted(os.listdir(metrics_dir)):
        if fname.endswith("_metrics.json"):
            with open(os.path.join(metrics_dir, fname)) as f:
                merged[fname.replace("_metrics.json", "")] = json.load(f)

    if out_path:
        with open(out_path, "w") as f:
            json.dump(merged, f, indent=4)

    if charts_dir and merged:
        from sentiment_analysis_bigdata_spark.apps import charts

        names = list(merged)
        charts.grouped_bar_chart(
            os.path.join(charts_dir, "model_comparison.png"),
            names,
            {
                "ACCURACY": [merged[n].get("accuracy", 0.0) or 0.0 for n in names],
                "F1": [merged[n].get("f1", 0.0) or 0.0 for n in names],
                "ROC AUC": [merged[n].get("roc_auc", 0.0) or 0.0 for n in names],
            },
            title="MODEL COMPARISON",
        )
        for name in names:
            cm = merged[name].get("confusion_matrix") or {}
            if cm:
                charts.confusion_heatmap(
                    os.path.join(charts_dir, f"confusion_matrix_{name}.png"),
                    cm,
                    title=f"CONFUSION ({name.upper()})",
                )
    return merged
