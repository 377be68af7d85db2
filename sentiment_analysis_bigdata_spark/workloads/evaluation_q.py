"""Distributed-evaluation queries (SURVEY A5-A9) with DuckDB oracles, plus
the reference-parity ML pipeline runs (rows-only — model training is not
SQL-expressible).

The evaluation oracles run on a deterministic synthetic (label, prediction,
score) frame derived arithmetically from ``documents`` so both engines see
identical inputs:

    label      = doc_id % 2
    prediction = (doc_id + n_chars) % 3 % 2
    score      = ((doc_id * 37) % 101) / 100 * 0.7 + label * 0.3

(score correlates with label → non-trivial AUC; the modular cycle creates
score ties → exercises the tie-handling that SURVEY §7.4 flags as the
parity risk.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sentiment_analysis_bigdata_spark.operators import evaluation as EV
from sentiment_analysis_bigdata_spark.sources import load_table


def _preds(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return docs.select(
        (F.col("doc_id") % 2).cast("int").alias("label"),
        ((F.col("doc_id") + F.col("n_chars")) % 3 % 2).cast("int").alias("prediction"),
        (
            (F.col("doc_id") * 37 % 101).cast("double") / 100.0 * 0.7
            + (F.col("doc_id") % 2).cast("double") * 0.3
        ).alias("score"),
    )


SQL_PREDS = """
SELECT CAST(doc_id % 2 AS INTEGER) AS label,
       CAST((doc_id + n_chars) % 3 % 2 AS INTEGER) AS prediction,
       CAST((doc_id * 37) % 101 AS DOUBLE) / 100.0 * 0.7
         + CAST(doc_id % 2 AS DOUBLE) * 0.3 AS score
FROM documents
"""


def q_confusion_matrix(spark: SparkSession, sf: str) -> DataFrame:
    return EV.confusion_matrix(_preds(spark, sf))


SQL_CONFUSION_MATRIX = f"""
SELECT label, prediction, count(*) AS n
FROM ({SQL_PREDS})
GROUP BY label, prediction
"""


def q_accuracy(spark: SparkSession, sf: str) -> DataFrame:
    acc = EV.accuracy(_preds(spark, sf))
    return spark.createDataFrame([(round(acc, 6),)], "accuracy double")


SQL_ACCURACY = f"""
SELECT round(avg(CASE WHEN label = prediction THEN 1.0 ELSE 0.0 END), 6) AS accuracy
FROM ({SQL_PREDS})
"""


def q_classification_report(spark: SparkSession, sf: str) -> DataFrame:
    rep = EV.classification_report(_preds(spark, sf))
    return rep.select(
        "label",
        "tp",
        "fp",
        "fn",
        "support",
        F.round("precision", 6).alias("precision"),
        F.round("recall", 6).alias("recall"),
        F.round("f1", 6).alias("f1"),
    )


SQL_CLASSIFICATION_REPORT = f"""
WITH preds AS ({SQL_PREDS}),
cm AS (SELECT label, prediction, count(*) AS n FROM preds GROUP BY 1, 2),
tp AS (SELECT label, n AS tp FROM cm WHERE label = prediction),
support AS (SELECT label, CAST(sum(n) AS BIGINT) AS support FROM cm GROUP BY label),
predicted AS (SELECT prediction AS label, CAST(sum(n) AS BIGINT) AS predicted_n FROM cm GROUP BY prediction),
joined AS (
  SELECT s.label,
         coalesce(tp.tp, 0) AS tp,
         coalesce(p.predicted_n, 0) - coalesce(tp.tp, 0) AS fp,
         s.support - coalesce(tp.tp, 0) AS fn,
         s.support,
         CASE WHEN coalesce(p.predicted_n, 0) > 0
              THEN CAST(coalesce(tp.tp, 0) AS DOUBLE) / p.predicted_n ELSE 0.0 END AS precision,
         CASE WHEN s.support > 0
              THEN CAST(coalesce(tp.tp, 0) AS DOUBLE) / s.support ELSE 0.0 END AS recall
  FROM support s
  LEFT JOIN tp ON s.label = tp.label
  LEFT JOIN predicted p ON s.label = p.label
)
SELECT label, tp, fp, fn, support,
       round(precision, 6) AS precision,
       round(recall, 6) AS recall,
       round(CASE WHEN precision + recall > 0
                  THEN 2 * precision * recall / (precision + recall) ELSE 0.0 END, 6) AS f1
FROM joined
"""


def q_roc_auc(spark: SparkSession, sf: str) -> DataFrame:
    auc = EV.roc_auc(_preds(spark, sf), score_col="score")
    return spark.createDataFrame([(round(auc, 6),)], "roc_auc double")


SQL_ROC_AUC = f"""
WITH preds AS ({SQL_PREDS}),
ranked AS (
  SELECT label,
         rank() OVER (ORDER BY score) AS r,
         count(*) OVER (PARTITION BY score) AS ties
  FROM preds
),
agg AS (
  SELECT sum(CASE WHEN label = 1 THEN r + (ties - 1) / 2.0 END) AS pos_rank_sum,
         sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS pos,
         sum(CASE WHEN label <> 1 THEN 1 ELSE 0 END) AS neg
  FROM ranked
)
SELECT round((pos_rank_sum - pos * (pos + 1) / 2.0) / (pos * neg), 6) AS roc_auc
FROM agg
"""


def q_roc_points(spark: SparkSession, sf: str) -> DataFrame:
    pts = EV.roc_points(_preds(spark, sf), score_col="score")
    return pts.select(
        F.round("score", 6).alias("score"),
        F.round("fpr", 6).alias("fpr"),
        F.round("tpr", 6).alias("tpr"),
    )


SQL_ROC_POINTS = f"""
WITH preds AS ({SQL_PREDS}),
tot AS (
  SELECT sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS P,
         sum(CASE WHEN label <> 1 THEN 1 ELSE 0 END) AS N
  FROM preds
),
cum AS (
  SELECT score,
         sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) OVER (ORDER BY score DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tp,
         count(*) OVER (ORDER BY score DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n
  FROM preds
),
collapsed AS (
  SELECT score, max(cum_tp) AS tp, max(cum_n) AS n FROM cum GROUP BY score
)
SELECT round(score, 6) AS score,
       round(CAST(n - tp AS DOUBLE) / (SELECT N FROM tot), 6) AS fpr,
       round(CAST(tp AS DOUBLE) / (SELECT P FROM tot), 6) AS tpr
FROM collapsed
"""


def q_pr_points(spark: SparkSession, sf: str) -> DataFrame:
    pts = EV.pr_points(_preds(spark, sf), score_col="score")
    return pts.select(
        F.round("score", 6).alias("score"),
        F.round("precision", 6).alias("prec"),
        F.round("recall", 6).alias("recall"),
    )


SQL_PR_POINTS = f"""
WITH preds AS ({SQL_PREDS}),
tot AS (
  SELECT sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS P FROM preds
),
cum AS (
  SELECT score,
         sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) OVER (ORDER BY score DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tp,
         count(*) OVER (ORDER BY score DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n
  FROM preds
),
collapsed AS (
  SELECT score, max(cum_tp) AS tp, max(cum_n) AS n FROM cum GROUP BY score
)
SELECT round(score, 6) AS score,
       round(CAST(tp AS DOUBLE) / n, 6) AS prec,
       round(CAST(tp AS DOUBLE) / (SELECT P FROM tot), 6) AS recall
FROM collapsed
"""


def q_average_precision(spark: SparkSession, sf: str) -> DataFrame:
    ap = EV.average_precision(_preds(spark, sf), score_col="score")
    return spark.createDataFrame([(round(ap, 6),)], "average_precision double")


SQL_AVERAGE_PRECISION = f"""
WITH preds AS ({SQL_PREDS}),
tot AS (
  SELECT sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS P FROM preds
),
cum AS (
  SELECT score,
         sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) OVER (ORDER BY score DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tp,
         count(*) OVER (ORDER BY score DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n
  FROM preds
),
collapsed AS (
  SELECT score, max(cum_tp) AS tp, max(cum_n) AS n FROM cum GROUP BY score
),
pr AS (
  SELECT score,
         CAST(tp AS DOUBLE) / n AS prec,
         CAST(tp AS DOUBLE) / (SELECT P FROM tot) AS recall
  FROM collapsed
),
stepped AS (
  SELECT prec,
         recall - coalesce(lag(recall) OVER (ORDER BY score DESC), 0) AS dr
  FROM pr
)
SELECT round(sum(dr * prec), 6) AS average_precision FROM stepped
"""


def q_calibration_report(spark: SparkSession, sf: str) -> DataFrame:
    bins = EV.calibration_bins(_preds(spark, sf), score_col="score", bins=10)
    return bins.select(
        "bin",
        "n",
        F.round("mean_score", 6).alias("mean_score"),
        F.round("pos_rate", 6).alias("pos_rate"),
    )


SQL_CALIBRATION_REPORT = f"""
SELECT CAST(least(floor(score * 10), 9) AS INTEGER) AS bin,
       count(*) AS n,
       round(avg(score), 6) AS mean_score,
       round(avg(CASE WHEN label = 1 THEN 1.0 ELSE 0.0 END), 6) AS pos_rate
FROM ({SQL_PREDS})
GROUP BY 1
"""


def q_expected_calibration_error(spark: SparkSession, sf: str) -> DataFrame:
    ece = EV.expected_calibration_error(
        _preds(spark, sf), score_col="score", bins=10
    )
    return spark.createDataFrame([(round(ece, 6),)], "ece double")


SQL_EXPECTED_CALIBRATION_ERROR = f"""
WITH b AS (
  SELECT least(floor(score * 10), 9) AS bin,
         count(*) AS n,
         avg(score) AS mean_score,
         avg(CASE WHEN label = 1 THEN 1.0 ELSE 0.0 END) AS pos_rate
  FROM ({SQL_PREDS})
  GROUP BY 1
)
SELECT round(sum(n * abs(pos_rate - mean_score)) / sum(n), 6) AS ece FROM b
"""


def q_roc_auc_hist(spark: SparkSession, sf: str) -> DataFrame:
    """Two-pass histogram AUC (the no-global-sort 100 TB path). Every term in
    the bin-pair accumulation is a half-integer ≪ 2^52, so the sum is exact in
    IEEE double on both engines and the 6-decimal round is value-checkable."""
    auc = EV.roc_auc_approx(_preds(spark, sf), score_col="score", num_bins=1000)
    return spark.createDataFrame([(round(auc, 6),)], "roc_auc_hist double")


SQL_ROC_AUC_HIST = f"""
WITH preds AS ({SQL_PREDS}),
mm AS (SELECT min(score) AS lo, max(score) AS hi FROM preds),
binned AS (
  SELECT least(CAST(floor((score - lo) / ((hi - lo) / 1000)) AS BIGINT), 999) AS bin,
         CASE WHEN label = 1 THEN 1 ELSE 0 END AS is_pos
  FROM preds, mm
),
agg AS (
  SELECT bin, sum(is_pos) AS pos, sum(1 - is_pos) AS neg
  FROM binned GROUP BY bin
),
cum AS (
  SELECT bin, pos, neg,
         coalesce(sum(neg) OVER (ORDER BY bin
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS neg_below
  FROM agg
),
tot AS (SELECT sum(pos) AS P, sum(neg) AS N FROM agg)
SELECT round(sum(pos * (neg_below + neg / 2.0)) / ((SELECT P FROM tot) * (SELECT N FROM tot)), 6)
  AS roc_auc_hist
FROM cum
"""


# --- reference-parity ML pipelines -----------------------------------------------

def _synthetic_tweets(spark: SparkSession, sf: str) -> DataFrame:
    """tweets_clean-shaped frame derived from documents: label from doc_id
    parity, text as-is (already word-like).

    Hash-repartitioned to a FIXED partition count keyed on doc_id: parquet
    split planning depends on the session's core count, and randomSplit's
    per-partition RNG (plus float reduce order in training) would otherwise
    make the metrics depend on the machine running the query. After the
    explicit hash partitioning (layout-independent) randomSplit's internal
    sortWithinPartitions makes the whole train→score→count chain
    deterministic, which is what lets the ml_* queries carry
    literal-constant oracles."""
    docs = load_table(spark, sf, "documents")
    return (
        docs.select((F.col("doc_id") % 2).cast("int").alias("label"), "text", "doc_id")
        .filter(F.length("text") > 0)
        .repartition(8, "doc_id")
        .drop("doc_id")
    )


_METRICS_SCHEMA = (
    "n_test bigint, tp bigint, fp bigint, fn bigint, tn bigint, "
    "accuracy_ppm bigint, f1_ppm bigint, auc_ppm bigint"
)


def _metrics_values(m: dict) -> tuple:
    """A metrics dict as all-integer values: binary confusion counts
    (positive class = 1) plus ppm-scaled accuracy/F1/AUC. Integer-only
    output is partition-order-proof AND engine-hash-proof (no float
    formatting)."""
    cm = m["confusion_matrix"]
    return (
        int(m["test_rows"]),
        *(int(cm.get(key, 0)) for key in ("1_1", "0_1", "1_0", "0_0")),
        *(int(round(m[key] * 1_000_000)) for key in ("accuracy", "f1", "roc_auc")),
    )


def _metrics_row(spark: SparkSession, m: dict) -> DataFrame:
    """One ``_metrics_values`` row (``_METRICS_SCHEMA``)."""
    return spark.createDataFrame([_metrics_values(m)], _METRICS_SCHEMA)


def _metrics_literal_sql(n_test, tp, fp, fn, tn, acc, f1, auc) -> str:
    """DuckDB oracle for a deterministic training run: the golden constants
    measured once at sf0.01 (the driver's correctness scale) and pinned —
    valid because the Spark query is bitwise-reproducible (see
    _synthetic_tweets). Mirrors the reference's metrics-JSON contract
    (reference model_logistic_regression.py:202-209, metrics/lr_metrics.json)."""
    return f"""-- GOLDEN-CONSTANTS @ sf0.01 (data-dependent literals; other SFs skip)
SELECT CAST({n_test} AS BIGINT) AS n_test,
       CAST({tp} AS BIGINT) AS tp, CAST({fp} AS BIGINT) AS fp,
       CAST({fn} AS BIGINT) AS fn, CAST({tn} AS BIGINT) AS tn,
       CAST({acc} AS BIGINT) AS accuracy_ppm,
       CAST({f1} AS BIGINT) AS f1_ppm,
       CAST({auc} AS BIGINT) AS auc_ppm
"""


def q_ml_logistic_regression(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenizer→StopWords→HashingTF→IDF→LR at reference hyperparameters
    (reference model_logistic_regression.py:88-176), evaluated with the
    distributed metrics — returns one metrics row."""
    from sentiment_analysis_bigdata_spark.operators import ml as ML

    cfg = ML.PipelineConfig(num_features=2**16)  # smaller dims for test scale
    _model, m = ML.train_and_evaluate(_synthetic_tweets(spark, sf), "lr", cfg)
    return _metrics_row(spark, m)


def q_ml_naive_bayes(spark: SparkSession, sf: str) -> DataFrame:
    """Multinomial NB pipeline (reference model_naive_bayes.py:61-107)."""
    from sentiment_analysis_bigdata_spark.operators import ml as ML

    cfg = ML.PipelineConfig(num_features=2**16)
    _model, m = ML.train_and_evaluate(_synthetic_tweets(spark, sf), "nb", cfg)
    return _metrics_row(spark, m)


def q_ml_linear_svc(spark: SparkSession, sf: str) -> DataFrame:
    """LinearSVC pipeline (reference model_svm.py:90-177)."""
    from sentiment_analysis_bigdata_spark.operators import ml as ML

    cfg = ML.PipelineConfig(num_features=2**16, max_iter=10)
    _model, m = ML.train_and_evaluate(_synthetic_tweets(spark, sf), "svm", cfg)
    return _metrics_row(spark, m)


def q_ml_crossval(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic 3-fold cross-validation of the LR pipeline
    (operators/ml.cross_validate_folds): fold = doc_id % 3 — a stable
    hash split, NO RNG — so per-fold metrics are bitwise-reproducible
    and carry a golden oracle like the single-split ml_* queries. The
    per-fold spread is the variance estimate a single split can't give."""
    from sentiment_analysis_bigdata_spark.operators import ml as ML

    docs = load_table(spark, sf, "documents")
    base = (
        docs.select(
            (F.col("doc_id") % 2).cast("int").alias("label"), "text", "doc_id"
        )
        .filter(F.length("text") > 0)
        .repartition(8, "doc_id")
    )
    cfg = ML.PipelineConfig(num_features=2**16)
    folds = ML.cross_validate_folds(base, "lr", k=3, cfg=cfg, id_col="doc_id")
    return spark.createDataFrame(
        [(f, *_metrics_values(m)) for f, m in folds], "fold int, " + _METRICS_SCHEMA
    )


def _crossval_literal_sql(rows: list[tuple]) -> str:
    """Golden 3-row oracle (same contract as _metrics_literal_sql)."""
    selects = [
        f"SELECT CAST({f} AS INT) AS fold, CAST({n} AS BIGINT) AS n_test, "
        f"CAST({tp} AS BIGINT) AS tp, CAST({fp} AS BIGINT) AS fp, "
        f"CAST({fn} AS BIGINT) AS fn, CAST({tn} AS BIGINT) AS tn, "
        f"CAST({acc} AS BIGINT) AS accuracy_ppm, CAST({f1} AS BIGINT) AS f1_ppm, "
        f"CAST({auc} AS BIGINT) AS auc_ppm"
        for (f, n, tp, fp, fn, tn, acc, f1, auc) in rows
    ]
    return (
        "-- GOLDEN-CONSTANTS @ sf0.01 (data-dependent literals; other SFs skip)\n"
        + "\nUNION ALL\n".join(selects)
    )


# --- bootstrap confidence interval for accuracy ----------------------------------

def q_bootstrap_accuracy(spark: SparkSession, sf: str) -> DataFrame:
    """Poisson-bootstrap 95% CI for accuracy (operators/evaluation.py
    ``bootstrap_mean_ci``): 32 content-addressed replicas, each weighting
    rows Poisson(1) from md5(doc_id:b:seed) — single pass, no resample
    materialization. Integer weights x 0/1 correctness keep per-replica
    sums exact, and the final mean/sd fold in replica order, so the CI is
    bit-deterministic and the oracle replays it end to end."""
    docs = load_table(spark, sf, "documents")
    preds = docs.select(
        "doc_id",
        F.when(
            (F.col("doc_id") % 2).cast("int")
            == ((F.col("doc_id") + F.col("n_chars")) % 3 % 2).cast("int"),
            1,
        )
        .otherwise(0)
        .alias("correct"),
    )
    out = EV.bootstrap_mean_ci(preds, "correct", "doc_id", n_boot=32)
    return out.select(
        "n_boot",
        F.round("mean", 6).alias("acc_mean"),
        F.round("sd", 6).alias("acc_sd"),
        F.round("ci_lo", 6).alias("ci_lo"),
        F.round("ci_hi", 6).alias("ci_hi"),
    )


def _sql_bootstrap_accuracy() -> str:
    from sentiment_analysis_bigdata_spark.operators.evaluation import _POISSON1_CDF

    u = ("((CAST(('0x' || substr(md5(doc_id || ':' || b || ':42'), 1, 15)) AS BIGINT)"
         " % 1000000) / 1000000.0)")
    cases = " ".join(
        f"WHEN {u} < {c!r} THEN {k}" for k, c in enumerate(_POISSON1_CDF)
    )
    return f"""
WITH p AS (
  SELECT doc_id,
         CASE WHEN CAST(doc_id % 2 AS INTEGER)
                   = CAST((doc_id + n_chars) % 3 % 2 AS INTEGER)
              THEN 1 ELSE 0 END AS correct
  FROM documents
),
weighted AS (
  SELECT CAST(b AS INT) AS b, correct,
         CASE {cases} ELSE 5 END AS w
  FROM p, unnest(range(0, 32)) AS t(b)
),
reps AS (
  SELECT b, CAST(sum(w * correct) AS DOUBLE) / sum(w) AS m
  FROM weighted GROUP BY b
),
arr AS (SELECT list(m ORDER BY b) AS a FROM reps),
s1 AS (SELECT a, list_sum(a) / 32.0 AS mean FROM arr),
s2 AS (
  SELECT mean,
         sqrt(list_sum(list_transform(a, x -> (x - mean) * (x - mean))) / 31.0) AS sd
  FROM s1
)
SELECT 32 AS n_boot, round(mean, 6) AS acc_mean, round(sd, 6) AS acc_sd,
       round(mean - 1.96 * sd, 6) AS ci_lo, round(mean + 1.96 * sd, 6) AS ci_hi
FROM s2
"""


SQL_BOOTSTRAP_ACCURACY = _sql_bootstrap_accuracy()



def q_accuracy_by_slice(spark: SparkSession, sf: str) -> DataFrame:
    """Sliced evaluation: per-language accuracy with a bootstrap 95% CI
    (``bootstrap_mean_ci(group_cols=["lang"])``) — the subgroup report an
    eval pipeline ships so regressions on minority slices aren't hidden by
    the aggregate. Same content-addressed replicas as bootstrap_accuracy;
    slicing only re-keys the partial sums."""
    docs = load_table(spark, sf, "documents")
    preds = docs.select(
        "doc_id",
        "lang",
        F.when(
            (F.col("doc_id") % 2).cast("int")
            == ((F.col("doc_id") + F.col("n_chars")) % 3 % 2).cast("int"),
            1,
        )
        .otherwise(0)
        .alias("correct"),
    )
    out = EV.bootstrap_mean_ci(
        preds, "correct", "doc_id", n_boot=32, group_cols=["lang"]
    )
    return out.select(
        "lang",
        "n_boot",
        F.round("mean", 6).alias("acc_mean"),
        F.round("sd", 6).alias("acc_sd"),
        F.round("ci_lo", 6).alias("ci_lo"),
        F.round("ci_hi", 6).alias("ci_hi"),
    )


def _sql_accuracy_by_slice() -> str:
    from sentiment_analysis_bigdata_spark.operators.evaluation import _POISSON1_CDF

    u = ("((CAST(('0x' || substr(md5(doc_id || ':' || b || ':42'), 1, 15)) AS BIGINT)"
         " % 1000000) / 1000000.0)")
    cases = " ".join(
        f"WHEN {u} < {c!r} THEN {k}" for k, c in enumerate(_POISSON1_CDF)
    )
    return f"""
WITH p AS (
  SELECT doc_id, lang,
         CASE WHEN CAST(doc_id % 2 AS INTEGER)
                   = CAST((doc_id + n_chars) % 3 % 2 AS INTEGER)
              THEN 1 ELSE 0 END AS correct
  FROM documents
),
weighted AS (
  SELECT lang, CAST(b AS INT) AS b, correct,
         CASE {cases} ELSE 5 END AS w
  FROM p, unnest(range(0, 32)) AS t(b)
),
reps AS (
  SELECT lang, b, CAST(sum(w * correct) AS DOUBLE) / sum(w) AS m
  FROM weighted GROUP BY lang, b
),
arr AS (SELECT lang, list(m ORDER BY b) AS a FROM reps GROUP BY lang),
s1 AS (SELECT lang, a, list_sum(a) / 32.0 AS mean FROM arr),
s2 AS (
  SELECT lang, mean,
         sqrt(list_sum(list_transform(a, x -> (x - mean) * (x - mean))) / 31.0) AS sd
  FROM s1
)
SELECT lang, 32 AS n_boot, round(mean, 6) AS acc_mean, round(sd, 6) AS acc_sd,
       round(mean - 1.96 * sd, 6) AS ci_lo, round(mean + 1.96 * sd, 6) AS ci_hi
FROM s2
"""


SQL_ACCURACY_BY_SLICE = _sql_accuracy_by_slice()



def q_model_agreement(spark: SparkSession, sf: str) -> DataFrame:
    """Paired comparison of two deterministic classifiers on the same
    rows (operators/evaluation.py ``model_agreement``): accuracies, Cohen's
    kappa, and McNemar's test over the discordant pairs — single
    partial-aggregated pass, exact integer counts, value-checked against a
    SQL replay of the identical formulas."""
    docs = load_table(spark, sf, "documents")
    preds = docs.select(
        (F.col("doc_id") % 2).cast("int").alias("label"),
        ((F.col("doc_id") + F.col("n_chars")) % 3 % 2).cast("int").alias("pred_a"),
        (
            (
                (F.col("doc_id") * 37 % 101).cast("double") / 100.0 * 0.7
                + (F.col("doc_id") % 2).cast("double") * 0.3
            )
            >= 0.5
        )
        .cast("int")
        .alias("pred_b"),
    )
    out = EV.model_agreement(preds)
    return out.select(
        "n",
        F.round("accuracy_a", 6).alias("accuracy_a"),
        F.round("accuracy_b", 6).alias("accuracy_b"),
        F.round("kappa", 6).alias("kappa"),
        "b",
        "c",
        F.round("mcnemar_chi2", 6).alias("mcnemar_chi2"),
        "significant",
    )


SQL_MODEL_AGREEMENT = """
WITH p AS (
  SELECT CAST(doc_id % 2 AS INTEGER) AS label,
         CAST((doc_id + n_chars) % 3 % 2 AS INTEGER) AS pred_a,
         CAST((CAST((doc_id * 37) % 101 AS DOUBLE) / 100.0 * 0.7
               + CAST(doc_id % 2 AS DOUBLE) * 0.3) >= 0.5 AS INTEGER) AS pred_b
  FROM documents
),
agg AS (
  SELECT count(*) AS n,
         sum(CASE WHEN pred_a = label THEN 1 ELSE 0 END) AS na,
         sum(CASE WHEN pred_b = label THEN 1 ELSE 0 END) AS nb,
         sum(CASE WHEN pred_a = label AND pred_b <> label THEN 1 ELSE 0 END) AS b,
         sum(CASE WHEN pred_a <> label AND pred_b = label THEN 1 ELSE 0 END) AS c,
         sum(CASE WHEN pred_a = pred_b THEN 1 ELSE 0 END) AS agree,
         sum(CASE WHEN pred_a = 1 THEN 1 ELSE 0 END) AS pa1,
         sum(CASE WHEN pred_b = 1 THEN 1 ELSE 0 END) AS pb1
  FROM p
),
stats AS (
  SELECT CAST(n AS BIGINT) AS n,
         na / CAST(n AS DOUBLE) AS accuracy_a,
         nb / CAST(n AS DOUBLE) AS accuracy_b,
         (agree / CAST(n AS DOUBLE)
          - ((pa1 / CAST(n AS DOUBLE)) * (pb1 / CAST(n AS DOUBLE))
             + ((CAST(n AS DOUBLE) - pa1) / CAST(n AS DOUBLE))
               * ((CAST(n AS DOUBLE) - pb1) / CAST(n AS DOUBLE))))
         / (1.0 - ((pa1 / CAST(n AS DOUBLE)) * (pb1 / CAST(n AS DOUBLE))
             + ((CAST(n AS DOUBLE) - pa1) / CAST(n AS DOUBLE))
               * ((CAST(n AS DOUBLE) - pb1) / CAST(n AS DOUBLE)))) AS kappa,
         CAST(b AS BIGINT) AS b, CAST(c AS BIGINT) AS c,
         CASE WHEN (b + c) > 0
              THEN (abs(b - c) - 1.0) * (abs(b - c) - 1.0) / CAST(b + c AS DOUBLE)
              ELSE 0.0 END AS mcnemar_chi2
  FROM agg
)
SELECT n, round(accuracy_a, 6) AS accuracy_a, round(accuracy_b, 6) AS accuracy_b,
       round(kappa, 6) AS kappa, b, c, round(mcnemar_chi2, 6) AS mcnemar_chi2,
       mcnemar_chi2 > 3.841458820694124 AS significant
FROM stats
"""


def q_rank_correlation(spark: SparkSession, sf: str) -> DataFrame:
    """Spearman's ρ (tie-averaged fractional ranks) + Pearson's r between
    lineitem quantity and extended price — monotone-association vs linear
    association in one row. Ranks come from support-sized distinct-value
    windows (the roc_auc shape), never a corpus-wide sort
    (operators/regression.py rank_correlation)."""
    from sentiment_analysis_bigdata_spark.operators.regression import (
        rank_correlation,
    )

    li = load_table(spark, sf, "lineitem")
    return rank_correlation(li, "l_quantity", "l_extendedprice")


SQL_RANK_CORRELATION = """
WITH base AS (
  SELECT CAST(l_quantity AS DOUBLE) AS a, CAST(l_extendedprice AS DOUBLE) AS b
  FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
),
va AS (SELECT a AS v, count(*) AS n FROM base GROUP BY 1),
ra AS (SELECT v, sum(n) OVER (ORDER BY v) - (n - 1) / 2.0 AS r FROM va),
vb AS (SELECT b AS v, count(*) AS n FROM base GROUP BY 1),
rb AS (SELECT v, sum(n) OVER (ORDER BY v) - (n - 1) / 2.0 AS r FROM vb),
ranked AS (
  SELECT base.a, base.b, ra.r AS rnk_a, rb.r AS rnk_b
  FROM base JOIN ra ON ra.v = base.a JOIN rb ON rb.v = base.b
),
agg AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         sum(rnk_a) AS sa, sum(rnk_b) AS sb,
         sum(rnk_a * rnk_a) AS saa, sum(rnk_b * rnk_b) AS sbb,
         sum(rnk_a * rnk_b) AS sab,
         sum(a) AS xa, sum(b) AS xb,
         sum(a * a) AS xaa, sum(b * b) AS xbb, sum(a * b) AS xab
  FROM ranked
)
SELECT CAST(n AS BIGINT) AS n,
       round(CASE WHEN (xaa - xa * xa / n) > 0 AND (xbb - xb * xb / n) > 0
                  THEN (xab - xa * xb / n)
                       / sqrt((xaa - xa * xa / n) * (xbb - xb * xb / n))
             END, 6) AS pearson_r,
       round(CASE WHEN (saa - sa * sa / n) > 0 AND (sbb - sb * sb / n) > 0
                  THEN (sab - sa * sb / n)
                       / sqrt((saa - sa * sa / n) * (sbb - sb * sb / n))
             END, 6) AS spearman_rho
FROM agg
"""


def q_fleiss_kappa(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-annotator agreement (operators/evaluation.fleiss_kappa) over
    three deterministic synthetic annotators of the documents table —
    each a different labeling heuristic onto {0,1,2} (length band,
    word-count band, md5 band), so they agree far above chance on the
    length-correlated bands while the hash annotator injects
    disagreement: a non-trivial kappa both engines can derive exactly."""
    from sentiment_analysis_bigdata_spark.functions import hashing as H

    docs = load_table(spark, sf, "documents")
    a1 = (
        F.when(F.col("n_chars") < 200, 0)
        .when(F.col("n_chars") < 350, 1)
        .otherwise(2)
    )
    n_words = F.size(F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
    a2 = F.when(n_words < 35, 0).when(n_words < 62, 1).otherwise(2)
    a3 = H.md5_hash64(F.col("text")) % 3
    ratings = (
        docs.select(
            F.col("doc_id").alias("item"),
            F.array(
                a1.cast("int"), a2.cast("int"), a3.cast("int")
            ).alias("cats"),
        )
        .select("item", F.explode("cats").alias("category"))
    )
    return EV.fleiss_kappa(ratings)


SQL_FLEISS_KAPPA = """
WITH ratings AS (
  SELECT doc_id AS item, unnest([
    CASE WHEN n_chars < 200 THEN 0 WHEN n_chars < 350 THEN 1 ELSE 2 END,
    CASE WHEN len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                              t -> t <> '') ) + CASE WHEN trim(text) = '' THEN 1 ELSE 0 END < 35 THEN 0
         WHEN len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                              t -> t <> '') ) + CASE WHEN trim(text) = '' THEN 1 ELSE 0 END < 62 THEN 1 ELSE 2 END,
    CAST(CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) % 3 AS INTEGER)
  ]) AS category
  FROM documents
),
nij AS (
  SELECT item, category AS cat, count(*) AS n_ij
  FROM ratings GROUP BY 1, 2
),
per_item AS (
  SELECT item, sum(n_ij) AS n_raters, sum(n_ij * n_ij) AS sum_sq
  FROM nij GROUP BY 1
),
g AS (
  SELECT count(*) AS n_items, min(n_raters) AS r, sum(sum_sq) AS ssq
  FROM per_item
),
cg AS (
  SELECT sum(c * c) AS csq
  FROM (SELECT sum(n_ij) AS c FROM nij GROUP BY cat)
)
SELECT n_items, CAST(r AS BIGINT) AS n_raters,
       round((ssq - n_items * CAST(r AS DOUBLE))
             / (n_items * CAST(r AS DOUBLE) * (r - 1)), 9) AS p_bar,
       round(csq / (CAST(n_items AS DOUBLE) * r * n_items * r), 9) AS p_e,
       round(((ssq - n_items * CAST(r AS DOUBLE))
              / (n_items * CAST(r AS DOUBLE) * (r - 1))
              - csq / (CAST(n_items AS DOUBLE) * r * n_items * r))
             / (1.0 - csq / (CAST(n_items AS DOUBLE) * r * n_items * r)),
             9) AS kappa
FROM g, cg
"""


_BT_ITERATIONS = 3


def q_bradley_terry(spark: SparkSession, sf: str) -> DataFrame:
    """Bradley-Terry preference aggregation
    (operators/preference.bt_scores) — the reward-model data-prep step:
    derive pairwise preferences from the events table (per user, for
    each pair of event types BOTH present: the type with MORE events
    wins; equal counts → lexicographically smaller type — integer
    counts, so the winner is engine-exact) and fit strengths with 3
    MM iterations, every update 12-dp rounded and every denominator
    folded in opponent order, so DuckDB replays the whole fit
    bit-for-bit as unrolled CTEs."""
    from sentiment_analysis_bigdata_spark.operators import preference as P

    ev = load_table(spark, sf, "events")
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    a = counts.select(
        "user_id", F.col("event_type").alias("ta"), F.col("n").alias("na")
    )
    b = counts.select(
        "user_id", F.col("event_type").alias("tb"), F.col("n").alias("nb")
    )
    comparisons = (
        a.join(b, "user_id")
        .where(F.col("ta") < F.col("tb"))
        .select(
            F.when(F.col("nb") > F.col("na"), F.col("tb"))
            .otherwise(F.col("ta"))
            .alias("winner"),
            F.when(F.col("nb") > F.col("na"), F.col("ta"))
            .otherwise(F.col("tb"))
            .alias("loser"),
        )
    )
    return P.bt_scores(
        P.bt_win_counts(comparisons), iterations=_BT_ITERATIONS
    ).orderBy("item")


def _sql_bt_iteration(prev: str, idx: int) -> str:
    """One unrolled MM update: s_i' = round(wins_i / fold_j(n_ij /
    (s_i + s_j)), 12), the fold in opponent order via list_reduce —
    the same left-to-right IEEE sum Spark's aggregate(array_sort(...))
    performs."""
    return f"""s{idx} AS (
  SELECT t.i,
         greatest(round(t.wins / (
           SELECT list_reduce(
                    list(round(p.n_ij / (si.s + sj.s), 12) ORDER BY p.j),
                    (a, b) -> a + b)
           FROM pairs p
           JOIN {prev} si ON si.i = p.i
           JOIN {prev} sj ON sj.i = p.j
           WHERE p.i = t.i
         ), 12), 0.000001) AS s
  FROM totals t
)"""


_BT_ITER_CTES = ",\n".join(
    _sql_bt_iteration(f"s{n}", n + 1) for n in range(_BT_ITERATIONS)
)

SQL_BRADLEY_TERRY = f"""
WITH counts AS (
  SELECT user_id, event_type, count(*) AS n
  FROM events GROUP BY 1, 2
),
comparisons AS (
  SELECT CASE WHEN b.n > a.n THEN b.event_type ELSE a.event_type END AS winner,
         CASE WHEN b.n > a.n THEN a.event_type ELSE b.event_type END AS loser
  FROM counts a JOIN counts b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
),
wins AS (SELECT winner AS w, loser AS l, count(*) AS n FROM comparisons GROUP BY 1, 2),
pairs AS (
  SELECT i, j, sum(n) AS n_ij FROM (
    SELECT w AS i, l AS j, n FROM wins
    UNION ALL
    SELECT l AS i, w AS j, n FROM wins
  ) GROUP BY 1, 2
),
totals AS (
  SELECT p.i, coalesce(wt.wins, 0) AS wins, p.comparisons
  FROM (SELECT i, sum(n_ij) AS comparisons FROM pairs GROUP BY 1) p
  LEFT JOIN (SELECT w AS i, sum(n) AS wins FROM wins GROUP BY 1) wt USING (i)
),
s0 AS (SELECT i, 1.0 AS s FROM totals),
{_BT_ITER_CTES}
SELECT t.i AS item,
       round(f.s / (SELECT max(s) FROM s{_BT_ITERATIONS}), 9) AS score,
       CAST(t.wins AS BIGINT) AS wins,
       CAST(t.comparisons AS BIGINT) AS comparisons
FROM totals t JOIN s{_BT_ITERATIONS} f USING (i)
ORDER BY item
"""


_PASSK_KS = [1, 5, 10]


def q_pass_at_k(spark: SparkSession, sf: str) -> DataFrame:
    """pass@k — the unbiased combinatorial estimator from the Codex paper
    (Chen et al. 2021): per task with n samples and c successes,
    pass@k = 1 − C(n−c,k)/C(n,k), averaged over tasks with n ≥ k. The
    binomial ratio is computed as the ORDERED product
    ∏_{i<k} (n−c−i)/(n−i) via one higher-order fold (both engines
    multiply the same doubles left-to-right, so values match exactly
    before the final 6-dp round), with the c > n−k branch pinned to 1
    exactly — never a product over negative factors. Fixture mapping:
    tasks = users, samples = their events, success = a purchase.

    100 TB shape: one (task) aggregation, then a k-cardinality
    crossJoin over the task-level (n, c) frame — the estimator itself
    never touches raw samples again."""
    events = load_table(spark, sf, "events")
    tasks = events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            (F.col("event_type") == "purchase").cast("long")
        ).alias("c"),
    )
    ks = spark.createDataFrame([(k,) for k in _PASSK_KS], "k int")
    per = (
        tasks.join(F.broadcast(ks), tasks.n >= ks.k)
        .withColumn(
            "p",
            F.when(F.col("n") - F.col("c") < F.col("k"), F.lit(1.0)).otherwise(
                F.lit(1.0)
                - F.aggregate(
                    F.sequence(F.lit(0), F.col("k") - 1),
                    F.lit(1.0),
                    lambda acc, i: acc
                    * (F.col("n") - F.col("c") - i)
                    / (F.col("n") - i),
                )
            ),
        )
    )
    return per.groupBy("k").agg(
        F.count(F.lit(1)).alias("n_tasks"),
        F.round(F.avg("p"), 6).alias("pass_at_k"),
    )


SQL_PASS_AT_K = f"""
WITH t AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS c
  FROM events GROUP BY 1
),
ks AS (SELECT unnest({_PASSK_KS}) AS k),
per AS (
  SELECT k,
         CASE WHEN n - c < k THEN 1.0
              ELSE 1.0 - list_aggregate(
                     list_transform(range(k),
                       i -> CAST(n - c - i AS DOUBLE) / (n - i)),
                     'product')
         END AS p
  FROM t JOIN ks ON t.n >= ks.k
)
SELECT k, CAST(count(*) AS BIGINT) AS n_tasks,
       round(avg(p), 6) AS pass_at_k
FROM per GROUP BY k
"""


_CUPED_SPLIT = "2024-01-15"


def q_cuped_uplift(spark: SparkSession, sf: str) -> DataFrame:
    """CUPED variance-reduced A/B readout (Deng et al. 2013 — the
    experimentation-platform staple): per user, pre-period (Jan 1-14) and
    post-period (Jan 15+) value sums; θ = cov(pre, post)/var(pre) pooled
    over all users; adjusted post = post − θ·(pre − mean(pre)). Report
    per arm (user_id mod 2): user count, raw and adjusted post means,
    and the pooled variance-reduction ratio (1 − var(adj)/var(post) =
    the fraction of metric noise the covariate removed — equals ρ²).

    100 TB shape: one (user, period) aggregation, one moments aggregate
    (5 doubles, broadcast back), one per-arm aggregate. All formulas are
    identical double expressions on both engines, rounded at 6dp."""
    events = load_table(spark, sf, "events")
    per_user = events.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("ts") < _CUPED_SPLIT, F.col("value")).otherwise(0.0)
        ).alias("pre"),
        F.sum(
            F.when(F.col("ts") >= _CUPED_SPLIT, F.col("value")).otherwise(0.0)
        ).alias("post"),
    )
    m = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("pre").alias("mp"),
        F.avg("post").alias("mq"),
        F.avg(F.col("pre") * F.col("post")).alias("mpq"),
        F.avg(F.col("pre") * F.col("pre")).alias("mpp"),
        F.avg(F.col("post") * F.col("post")).alias("mqq"),
    )
    adj = per_user.crossJoin(F.broadcast(m)).select(
        (F.col("user_id") % 2).alias("arm"),
        "post",
        (
            F.col("post")
            - ((F.col("mpq") - F.col("mp") * F.col("mq"))
               / (F.col("mpp") - F.col("mp") * F.col("mp")))
            * (F.col("pre") - F.col("mp"))
        ).alias("adj_post"),
        (
            (F.col("mpq") - F.col("mp") * F.col("mq"))
            * (F.col("mpq") - F.col("mp") * F.col("mq"))
            / (
                (F.col("mpp") - F.col("mp") * F.col("mp"))
                * (F.col("mqq") - F.col("mq") * F.col("mq"))
            )
        ).alias("rho2"),
    )
    return adj.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.round(F.avg("post"), 6).alias("mean_post"),
        F.round(F.avg("adj_post"), 6).alias("mean_adj_post"),
        F.round(F.first("rho2"), 6).alias("variance_reduction"),
    )


SQL_CUPED_UPLIFT = f"""
WITH per_user AS (
  SELECT user_id,
         sum(CASE WHEN ts < TIMESTAMP '{_CUPED_SPLIT}' THEN value ELSE 0.0 END)
           AS pre,
         sum(CASE WHEN ts >= TIMESTAMP '{_CUPED_SPLIT}' THEN value ELSE 0.0 END)
           AS post
  FROM events GROUP BY 1
),
m AS (
  SELECT count(*) AS n, avg(pre) AS mp, avg(post) AS mq,
         avg(pre * post) AS mpq, avg(pre * pre) AS mpp,
         avg(post * post) AS mqq
  FROM per_user
),
adj AS (
  SELECT user_id % 2 AS arm, post,
         post - ((mpq - mp * mq) / (mpp - mp * mp)) * (pre - mp) AS adj_post,
         (mpq - mp * mq) * (mpq - mp * mq)
           / ((mpp - mp * mp) * (mqq - mq * mq)) AS rho2
  FROM per_user CROSS JOIN m
)
SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
       round(avg(post), 6) AS mean_post,
       round(avg(adj_post), 6) AS mean_adj_post,
       round(any_value(rho2), 6) AS variance_reduction
FROM adj GROUP BY arm
"""


_CONF_ALPHAS = [0.1, 0.2]


def q_conformal_coverage(spark: SparkSession, sf: str) -> DataFrame:
    """Split-conformal prediction (Vovk; Angelopoulos & Bates 2021): on a
    calibration half, the threshold τ is the ⌈(n+1)(1−α)⌉-th smallest
    nonconformity score (1−score for positives, score for negatives);
    the held-out half's coverage (share with nonconformity ≤ τ) must
    then be ≈ 1−α by exchangeability — the distribution-free guarantee
    every production model-deployment gate wants. τ is extracted with
    the histogram-narrowing selection operator in ABSOLUTE-RANK mode
    (operators/normalize.py ``exact_quantile_narrowed(rank=k)``) — an
    exact DATA value, no interpolation, no global sort — and the oracle
    re-derives it by ranking, so the threshold and both coverage numbers
    are value-checked. Split is (doc_id div 2) parity, independent of
    the label's own doc_id parity."""
    import math

    from sentiment_analysis_bigdata_spark.operators import normalize as NORM

    docs = load_table(spark, sf, "documents")
    scored = docs.select(
        "doc_id",
        (F.col("doc_id") % 2).cast("int").alias("label"),
        (
            (F.col("doc_id") * 37 % 101).cast("double") / 100.0 * 0.7
            + (F.col("doc_id") % 2).cast("double") * 0.3
        ).alias("score"),
    ).select(
        "doc_id",
        F.when(
            F.col("label") == 1, F.lit(1.0) - F.col("score")
        ).otherwise(F.col("score")).alias("nc"),
        F.expr("(doc_id div 2) % 2 = 0").alias("is_cal"),
    )
    cal = scored.filter("is_cal")
    test = scored.filter("NOT is_cal")
    n_cal = cal.count()
    rows = []
    for alpha in _CONF_ALPHAS:
        k = min(n_cal, int(math.ceil((n_cal + 1) * (1.0 - alpha))))
        tau, _, _ = NORM.exact_quantile_narrowed(cal, "nc", 0.5, rank=k)
        cov = (
            test.agg(
                F.round(
                    F.avg((F.col("nc") <= F.lit(tau)).cast("double")), 6
                ).alias("c")
            ).collect()[0]["c"]
        )
        rows.append((alpha, n_cal, round(tau, 6), cov))
    return spark.createDataFrame(
        rows, "alpha double, n_cal long, tau double, coverage double"
    )


SQL_CONFORMAL_COVERAGE = """
WITH scored AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 1
              THEN 1.0 - (CAST((doc_id * 37) % 101 AS DOUBLE) / 100.0 * 0.7
                          + CAST(doc_id % 2 AS DOUBLE) * 0.3)
              ELSE CAST((doc_id * 37) % 101 AS DOUBLE) / 100.0 * 0.7
                   + CAST(doc_id % 2 AS DOUBLE) * 0.3 END AS nc,
         (doc_id // 2) % 2 = 0 AS is_cal
  FROM documents
),
cal AS (SELECT nc FROM scored WHERE is_cal),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_cal FROM cal),
alphas AS (SELECT unnest([0.1, 0.2]) AS alpha),
ks AS (
  SELECT alpha, n_cal,
         least(n_cal, CAST(ceil((n_cal + 1) * (1.0 - alpha)) AS BIGINT)) AS k
  FROM alphas CROSS JOIN n
),
ranked AS (
  SELECT nc, row_number() OVER (ORDER BY nc) AS rn FROM cal
),
taus AS (
  SELECT ks.alpha, ks.n_cal, round(r.nc, 6) AS tau, r.nc AS tau_raw
  FROM ks JOIN ranked r ON r.rn = ks.k
)
SELECT t.alpha, t.n_cal, t.tau,
       round(avg(CASE WHEN s.nc <= t.tau_raw THEN 1.0 ELSE 0.0 END), 6)
         AS coverage
FROM taus t CROSS JOIN (SELECT nc FROM scored WHERE NOT is_cal) s
GROUP BY t.alpha, t.n_cal, t.tau
"""


def q_label_noise_estimate(spark: SparkSession, sf: str) -> DataFrame:
    """Confident-learning label-noise estimation (Northcutt et al. 2021,
    binary form): the class-1 confidence threshold t₁ is the mean score
    among examples LABELED 1 (and t₀ = mean(1−score) among labeled 0);
    an example counts into confident-joint cell C[y, ŷ] when its
    confidence for ŷ clears t_ŷ — off-diagonal cells estimate how many
    labels are WRONG, the data-centric-AI gate run before training on
    weak labels. Output: the four C cells plus each label's estimated
    noise rate (off-diagonal share of its confident row), all from two
    passes of plain aggregates (thresholds, then counts) with the
    threshold comparison on raw doubles both engines compute identically.

    100 TB shape: thresholds are a 2-row agg broadcast back; the joint is
    one conditional-sum pass."""
    docs = load_table(spark, sf, "documents")
    preds = docs.select(
        (F.col("doc_id") % 2).cast("int").alias("label"),
        (
            (F.col("doc_id") * 37 % 101).cast("double") / 100.0 * 0.7
            + (F.col("doc_id") % 2).cast("double") * 0.3
        ).alias("p1"),
    )
    th = preds.groupBy("label").agg(F.avg("p1").alias("m"))
    # keyless aggs over the 1-row filtered frames: semantically identity,
    # but they make the broadcast side PROVABLY bounded (the plan audit
    # conservatively rejects hint-forced broadcasts whose path shows only
    # a keyed agg over an SF-scaled scan)
    t1 = th.filter("label = 1").agg(F.max("m").alias("t1"))
    t0 = th.filter("label = 0").agg(
        (F.lit(1.0) - F.max("m")).alias("t0")
    )
    joined = preds.crossJoin(F.broadcast(t1)).crossJoin(F.broadcast(t0))
    cells = joined.select(
        "label",
        F.when(
            (F.col("p1") >= F.col("t1"))
            & (F.col("p1") > F.lit(1.0) - F.col("t0")),
            F.lit(1),
        )
        .when(
            (F.lit(1.0) - F.col("p1") >= F.col("t0"))
            & (F.lit(1.0) - F.col("p1") > F.col("p1")),
            F.lit(0),
        )
        .alias("confident_as"),
    ).filter(F.col("confident_as").isNotNull())
    joint = cells.groupBy("label", "confident_as").agg(
        F.count(F.lit(1)).alias("n")
    )
    row_tot = joint.groupBy("label").agg(F.sum("n").alias("row_n"))
    return (
        joint.join(row_tot, "label")
        .select(
            "label",
            "confident_as",
            "n",
            F.round(
                F.when(
                    F.col("label") != F.col("confident_as"),
                    F.col("n") / F.col("row_n"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("est_noise_rate"),
        )
    )


SQL_LABEL_NOISE_ESTIMATE = """
WITH preds AS (
  SELECT CAST(doc_id % 2 AS INT) AS label,
         CAST((doc_id * 37) % 101 AS DOUBLE) / 100.0 * 0.7
           + CAST(doc_id % 2 AS DOUBLE) * 0.3 AS p1
  FROM documents
),
th AS (SELECT label, avg(p1) AS m FROM preds GROUP BY label),
t1 AS (SELECT m AS t1 FROM th WHERE label = 1),
t0 AS (SELECT 1.0 - m AS t0 FROM th WHERE label = 0),
cells AS (
  SELECT label,
         CASE WHEN p1 >= t1.t1 AND p1 > 1.0 - t0.t0 THEN 1
              WHEN 1.0 - p1 >= t0.t0 AND 1.0 - p1 > p1 THEN 0
         END AS confident_as
  FROM preds CROSS JOIN t1 CROSS JOIN t0
),
joint AS (
  SELECT label, confident_as, CAST(count(*) AS BIGINT) AS n
  FROM cells WHERE confident_as IS NOT NULL
  GROUP BY 1, 2
),
row_tot AS (SELECT label, sum(n) AS row_n FROM joint GROUP BY 1)
SELECT j.label, j.confident_as, j.n,
       round(CASE WHEN j.label <> j.confident_as
                  THEN CAST(j.n AS DOUBLE) / r.row_n ELSE 0.0 END, 6)
         AS est_noise_rate
FROM joint j JOIN row_tot r USING (label)
"""


def q_brier_decomposition(spark: SparkSession, sf: str) -> DataFrame:
    """Murphy (1973) decomposition of the Brier score over 10 equal-width
    probability bins: reliability (calibration error, lower is better),
    resolution (how far bin outcome rates sit from the base rate, higher
    is better), uncertainty (base-rate variance ō(1−ō)), plus the raw
    Brier and the decomposition gap — the residual within-bin variance
    term that is exactly zero only when scores are constant inside each
    bin. This is the eval readout that tells a model team WHY the Brier
    moved (worse calibration vs lost sharpness), not just that it moved.

    One full-data agg (count/base rate/Brier) plus the 10-row
    calibration-bin rollup joined as a broadcast 1-row frame — two
    passes over predictions, constant-size state, no sort."""
    preds = _preds(spark, sf)
    g = preds.agg(
        F.count(F.lit(1)).cast("double").alias("n_total"),
        F.avg(F.col("label").cast("double")).alias("obar"),
        F.avg(F.pow(F.col("score") - F.col("label").cast("double"), 2)).alias("brier"),
    )
    bins = EV.calibration_bins(preds, score_col="score", bins=10)
    parts = bins.crossJoin(F.broadcast(g)).agg(
        F.first("brier").alias("brier"),
        F.first("obar").alias("obar"),
        (
            F.sum(F.col("n") * F.pow(F.col("mean_score") - F.col("pos_rate"), 2))
            / F.first("n_total")
        ).alias("rel"),
        (
            F.sum(F.col("n") * F.pow(F.col("pos_rate") - F.col("obar"), 2))
            / F.first("n_total")
        ).alias("res"),
    )
    return parts.select(
        F.round("brier", 6).alias("brier"),
        F.round("rel", 6).alias("reliability"),
        F.round("res", 6).alias("resolution"),
        F.round(F.col("obar") * (1 - F.col("obar")), 6).alias("uncertainty"),
        F.round(
            F.col("brier")
            - (F.col("rel") - F.col("res") + F.col("obar") * (1 - F.col("obar"))),
            6,
        ).alias("decomp_gap"),
    )


SQL_BRIER_DECOMPOSITION = f"""
WITH p AS ({SQL_PREDS}),
g AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_total,
         avg(CASE WHEN label = 1 THEN 1.0 ELSE 0.0 END) AS obar,
         avg((score - label) * (score - label)) AS brier
  FROM p
),
b AS (
  SELECT least(floor(score * 10), 9) AS bin, count(*) AS n,
         avg(score) AS mean_score,
         avg(CASE WHEN label = 1 THEN 1.0 ELSE 0.0 END) AS pos_rate
  FROM p GROUP BY 1
)
SELECT round(brier, 6) AS brier,
       round(sum(n * (mean_score - pos_rate) * (mean_score - pos_rate)) / n_total, 6)
         AS reliability,
       round(sum(n * (pos_rate - obar) * (pos_rate - obar)) / n_total, 6) AS resolution,
       round(obar * (1 - obar), 6) AS uncertainty,
       round(brier - (sum(n * (mean_score - pos_rate) * (mean_score - pos_rate)) / n_total
                      - sum(n * (pos_rate - obar) * (pos_rate - obar)) / n_total
                      + obar * (1 - obar)), 6) AS decomp_gap
FROM b CROSS JOIN g
GROUP BY n_total, obar, brier
"""


def q_isotonic_calibration(spark: SparkSession, sf: str) -> DataFrame:
    """Isotonic (PAV) probability calibration over 20 score bins — the
    standard post-hoc calibrator (Zadrozny & Elkan 2002) fit WITHOUT any
    sequential pool-adjacent pass: the isotonic solution has the minimax
    closed form ŷ_b = max_{i≤b} min_{j≥b} ȳ(i..j), which is pure
    relational algebra over the binned rollup — prefix sums, an i≤j
    self-join of the 20-row bin table, one descending running-min window
    per anchor i, and a final groupBy(b) max. Every interval mean is a
    ratio of two exact integers (label sums / counts), so both engines
    divide identical values and the fit matches to the last bit.

    Scale shape: the corpus-sized work is ONE groupBy(bin) rollup; the
    minimax runs on bins² = 400 rows regardless of prediction volume."""
    from pyspark.sql.window import Window

    preds = _preds(spark, sf)
    bins = (
        preds.select(
            F.least(F.floor(F.col("score") * 20), F.lit(19)).cast("int").alias("bin"),
            F.col("label").cast("long").alias("label"),
            "score",
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("label").alias("pos"),
            F.avg("score").alias("mean_score"),
        )
    )
    w_cum = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = bins.select(
        "bin",
        "n",
        "pos",
        "mean_score",
        F.sum("n").over(w_cum).alias("cn"),
        F.sum("pos").over(w_cum).alias("cp"),
    )
    lo = cum.select(
        F.col("bin").alias("i"),
        (F.col("cn") - F.col("n")).alias("cn_lo"),
        (F.col("cp") - F.col("pos")).alias("cp_lo"),
    ).limit(20)  # no-op (≤20 bins); makes the broadcast side's boundedness plan-visible
    hi = cum.select(F.col("bin").alias("j"), "cn", "cp")
    # the 20-row anchor side is bounded at ANY scale (bins, not rows)
    # — broadcast it so the inequality join plans as BNLJ, not cartesian
    pairs = F.broadcast(lo).join(hi, F.col("i") <= F.col("j")).select(
        "i",
        "j",
        (
            (F.col("cp") - F.col("cp_lo")) / (F.col("cn") - F.col("cn_lo")).cast("double")
        ).alias("seg_avg"),
    )
    w_min = (
        Window.partitionBy("i")
        .orderBy(F.col("j").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    rm = pairs.select("i", "j", F.min("seg_avg").over(w_min).alias("rm"))
    fit = (
        rm.filter(F.col("i") <= F.col("j"))
        .groupBy(F.col("j").alias("bin"))
        .agg(F.max("rm").alias("fit"))
    )
    return (
        bins.join(fit, "bin")
        .select(
            "bin",
            "n",
            F.round("mean_score", 6).alias("mean_score"),
            F.round(F.col("pos") / F.col("n").cast("double"), 6).alias("pos_rate"),
            F.round("fit", 6).alias("isotonic_fit"),
        )
        .orderBy("bin")
    )


SQL_ISOTONIC_CALIBRATION = f"""
WITH p AS ({SQL_PREDS}),
bins AS (
  SELECT CAST(least(floor(score * 20), 19) AS INTEGER) AS bin,
         count(*) AS n, sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS pos,
         avg(score) AS mean_score
  FROM p GROUP BY 1
),
cum AS (
  SELECT bin, n, pos, mean_score,
         sum(n) OVER (ORDER BY bin) AS cn,
         sum(pos) OVER (ORDER BY bin) AS cp
  FROM bins
),
pairs AS (
  SELECT lo.bin AS i, hi.bin AS j,
         (hi.cp - (lo.cp - lo.pos)) / CAST(hi.cn - (lo.cn - lo.n) AS DOUBLE) AS seg_avg
  FROM cum lo JOIN cum hi ON lo.bin <= hi.bin
),
rm AS (
  SELECT i, j,
         min(seg_avg) OVER (PARTITION BY i ORDER BY j DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rm
  FROM pairs
),
fit AS (SELECT j AS bin, max(rm) AS fit FROM rm GROUP BY 1)
SELECT bin, n, round(mean_score, 6) AS mean_score,
       round(pos / CAST(n AS DOUBLE), 6) AS pos_rate,
       round(fit, 6) AS isotonic_fit
FROM bins JOIN fit USING (bin)
ORDER BY bin
"""


def q_matthews_corrcoef(spark: SparkSession, sf: str) -> DataFrame:
    """Matthews correlation coefficient — the single-number binary-
    classification summary that stays honest under class imbalance
    (accuracy and F1 both inflate when one class dominates; MCC is the
    Pearson correlation of the label/prediction indicator variables).
    One pass of conditional counts; every input to the final expression
    is an exact integer, so both engines evaluate the identical formula
    (tp·tn − fp·fn) / √((tp+fp)(tp+fn)(tn+fp)(tn+fn))."""
    preds = _preds(spark, sf)
    c = preds.agg(
        F.sum(((F.col("label") == 1) & (F.col("prediction") == 1)).cast("long")).alias("tp"),
        F.sum(((F.col("label") == 0) & (F.col("prediction") == 1)).cast("long")).alias("fp"),
        F.sum(((F.col("label") == 0) & (F.col("prediction") == 0)).cast("long")).alias("tn"),
        F.sum(((F.col("label") == 1) & (F.col("prediction") == 0)).cast("long")).alias("fn"),
    )
    mcc = (
        F.col("tp") * F.col("tn") - F.col("fp") * F.col("fn")
    ).cast("double") / F.sqrt(
        (
            (F.col("tp") + F.col("fp"))
            * (F.col("tp") + F.col("fn"))
            * (F.col("tn") + F.col("fp"))
            * (F.col("tn") + F.col("fn"))
        ).cast("double")
    )
    return c.select("tp", "fp", "tn", "fn", F.round(mcc, 6).alias("mcc"))


SQL_MATTHEWS_CORRCOEF = f"""
WITH c AS (
  SELECT CAST(sum(CASE WHEN label = 1 AND prediction = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         CAST(sum(CASE WHEN label = 0 AND prediction = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         CAST(sum(CASE WHEN label = 0 AND prediction = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
         CAST(sum(CASE WHEN label = 1 AND prediction = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn
  FROM ({SQL_PREDS})
)
SELECT tp, fp, tn, fn,
       round(CAST(tp * tn - fp * fn AS DOUBLE)
             / sqrt(CAST((tp + fp) * (tp + fn) * (tn + fp) * (tn + fn) AS DOUBLE)), 6)
         AS mcc
FROM c
"""


def q_lift_gains(spark: SparkSession, sf: str) -> DataFrame:
    """Decile lift & cumulative-gains table — the targeting readout that
    tells a curation/labeling team how much of the positive mass the top
    k% of model scores captures: bin rows into 10 descending score
    bands, and report each band's positive count, its lift over the
    base rate, and the cumulative captured share of all positives.

    Bands use the registry's PARTITIONED-DECILE pattern (the
    quantile_bins shape — the scale-safe default any new decile query
    should copy): nine exact score percentile cut points from one
    constant-width aggregate (descending: 0.9 → 0.1, so decile 1 is the
    TOP band), broadcast back, and a codegen'd boundary count assigns
    each row its band. NEVER a global ``ntile() OVER (ORDER BY …)`` —
    that window single-partitions the whole corpus at 100 TB. Value-cut
    bands also retire the old rank tie-break entirely: tied scores land
    in the same band by construction, so bands are equal-count only up
    to ties (the standard thresholded-gains readout)."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf, "documents")
    preds = docs.select(
        "doc_id",
        (F.col("doc_id") % 2).cast("int").alias("label"),
        (
            (F.col("doc_id") * 37 % 101).cast("double") / 100.0 * 0.7
            + (F.col("doc_id") % 2).cast("double") * 0.3
        ).alias("score"),
    )
    bounds = preds.agg(
        F.transform(
            F.percentile(
                "score",
                F.lit([i / 10 for i in range(9, 0, -1)]).cast("array<double>"),
            ),
            lambda x: F.round(x, 6),
        ).alias("bounds")
    )
    binned = (
        preds.crossJoin(F.broadcast(bounds))
        .select(
            "label",
            (
                1
                + F.aggregate(
                    "bounds",
                    F.lit(0),
                    lambda acc, b: acc
                    + F.when(F.col("score") < b, F.lit(1)).otherwise(F.lit(0)),
                )
            ).alias("decile"),
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("label").cast("long").alias("positives"),
        )
    )
    totals = binned.agg(
        F.sum("n").cast("double").alias("n_total"),
        F.sum("positives").cast("double").alias("pos_total"),
    )
    w_cum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        binned.crossJoin(F.broadcast(totals))
        .select(
            "decile",
            "n",
            "positives",
            F.round(
                (F.col("positives") / F.col("n")) / (F.col("pos_total") / F.col("n_total")),
                6,
            ).alias("lift"),
            F.round(
                F.sum("positives").over(w_cum) / F.col("pos_total"), 6
            ).alias("cum_gain"),
        )
        .orderBy("decile")
    )


SQL_LIFT_GAINS = """
WITH preds AS (
  SELECT doc_id, CAST(doc_id % 2 AS INTEGER) AS label,
         CAST((doc_id * 37) % 101 AS DOUBLE) / 100.0 * 0.7
           + CAST(doc_id % 2 AS DOUBLE) * 0.3 AS score
  FROM documents
),
bounds AS (
  SELECT list_transform(quantile_cont(score,
           [0.9, 0.8, 0.7, 0.6, 0.5, 0.4, 0.3, 0.2, 0.1]),
         x -> round(x, 6)) AS bounds
  FROM preds
),
binned AS (
  SELECT label,
         CAST(1 + len(list_filter(b.bounds, x -> score < x)) AS INT) AS decile
  FROM preds CROSS JOIN bounds b
),
agg AS (
  SELECT decile, count(*) AS n, CAST(sum(label) AS BIGINT) AS positives
  FROM binned GROUP BY 1
),
tot AS (
  SELECT CAST(sum(n) AS DOUBLE) AS n_total, CAST(sum(positives) AS DOUBLE) AS pos_total
  FROM agg
)
SELECT decile, n, positives,
       round((positives / CAST(n AS DOUBLE)) / (pos_total / n_total), 6) AS lift,
       round(sum(positives) OVER (ORDER BY decile) / pos_total, 6) AS cum_gain
FROM agg CROSS JOIN tot
ORDER BY decile
"""


def q_ab_conversion_ztest(spark: SparkSession, sf: str) -> DataFrame:
    """Two-proportion z-test on conversion (signup → purchase within
    3 days of the FIRST signup; the any-time definition is degenerate on
    this fixture — every signup eventually buys) with a deterministic
    hash arm split — the A/B readout next to
    cuped_uplift's variance-reduced mean: per-arm signups and
    converters, the rate difference, the pooled-variance z statistic,
    and significance flags at 1.959964 (95%) and 2.575829 (99%) — the
    constants inlined identically on both engines, no CDF needed. Two
    key-grained aggregates and one 2-row rollup."""
    ev = load_table(spark, sf, "events")
    su = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    pu = (
        ev.filter(F.col("event_type") == "purchase")
        .join(su, "user_id")
        .filter(
            (F.col("ts") > F.col("signup_ts"))
            & (
                F.unix_millis("ts") - F.unix_millis("signup_ts")
                <= F.lit(3 * 86400 * 1000)
            )
        )
        .select("user_id")
        .distinct()
        .withColumn("converted", F.lit(1))
    )
    arms = su.select(
        "user_id", F.pmod(F.col("user_id"), F.lit(2)).alias("arm")
    ).join(pu, "user_id", "left")
    per_arm = arms.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.coalesce("converted", F.lit(0))).alias("conv"),
    )
    stats = per_arm.agg(
        F.sum(F.when(F.col("arm") == 0, F.col("n"))).alias("n0"),
        F.sum(F.when(F.col("arm") == 0, F.col("conv"))).alias("c0"),
        F.sum(F.when(F.col("arm") == 1, F.col("n"))).alias("n1"),
        F.sum(F.when(F.col("arm") == 1, F.col("conv"))).alias("c1"),
    )
    p0 = F.col("c0") / F.col("n0").cast("double")
    p1 = F.col("c1") / F.col("n1").cast("double")
    pool = (F.col("c0") + F.col("c1")) / (F.col("n0") + F.col("n1")).cast("double")
    z = (p1 - p0) / F.sqrt(
        pool * (1 - pool) * (1.0 / F.col("n0") + 1.0 / F.col("n1"))
    )
    return stats.select(
        "n0",
        "c0",
        "n1",
        "c1",
        F.round(p1 - p0, 6).alias("rate_diff"),
        F.round(z, 6).alias("z_stat"),
        (F.abs(z) > 1.959964).alias("sig_95"),
        (F.abs(z) > 2.575829).alias("sig_99"),
    )


SQL_AB_CONVERSION_ZTEST = """
WITH su AS (
  SELECT user_id, min(ts) AS signup_ts
  FROM events WHERE event_type = 'signup' GROUP BY 1
),
pu AS (
  SELECT DISTINCT e.user_id
  FROM events e JOIN su USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > su.signup_ts
    AND epoch_ms(e.ts) - epoch_ms(su.signup_ts) <= 3 * 86400 * 1000
),
arms AS (
  SELECT su.user_id, su.user_id % 2 AS arm,
         CASE WHEN pu.user_id IS NULL THEN 0 ELSE 1 END AS converted
  FROM su LEFT JOIN pu USING (user_id)
),
per_arm AS (SELECT arm, count(*) AS n, sum(converted) AS conv FROM arms GROUP BY 1),
s AS (
  SELECT CAST(sum(CASE WHEN arm = 0 THEN n END) AS BIGINT) AS n0,
         CAST(sum(CASE WHEN arm = 0 THEN conv END) AS BIGINT) AS c0,
         CAST(sum(CASE WHEN arm = 1 THEN n END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN arm = 1 THEN conv END) AS BIGINT) AS c1
  FROM per_arm
)
SELECT n0, c0, n1, c1,
       round(c1 / CAST(n1 AS DOUBLE) - c0 / CAST(n0 AS DOUBLE), 6) AS rate_diff,
       round((c1 / CAST(n1 AS DOUBLE) - c0 / CAST(n0 AS DOUBLE))
             / sqrt(((c0 + c1) / CAST(n0 + n1 AS DOUBLE))
                    * (1 - (c0 + c1) / CAST(n0 + n1 AS DOUBLE))
                    * (1.0 / n0 + 1.0 / n1)), 6) AS z_stat,
       abs((c1 / CAST(n1 AS DOUBLE) - c0 / CAST(n0 AS DOUBLE))
           / sqrt(((c0 + c1) / CAST(n0 + n1 AS DOUBLE))
                  * (1 - (c0 + c1) / CAST(n0 + n1 AS DOUBLE))
                  * (1.0 / n0 + 1.0 / n1))) > 1.959964 AS sig_95,
       abs((c1 / CAST(n1 AS DOUBLE) - c0 / CAST(n0 AS DOUBLE))
           / sqrt(((c0 + c1) / CAST(n0 + n1 AS DOUBLE))
                  * (1 - (c0 + c1) / CAST(n0 + n1 AS DOUBLE))
                  * (1.0 / n0 + 1.0 / n1))) > 2.575829 AS sig_99
FROM s
"""


_PLATT_ITERS = 8


def q_platt_scaling(spark: SparkSession, sf: str) -> DataFrame:
    """Platt scaling (Platt 1999) — the parametric complement to
    ``isotonic_calibration``: fit sigmoid(a·score + b) to the observed
    outcome rates by weighted Newton-Raphson over the 20-bin calibration
    rollup, then report each bin's calibrated probability alongside the
    raw rate. Where isotonic can only ever output step functions, Platt
    gives a smooth two-parameter curve — the right tool when scores are
    logits with a miscalibrated temperature.

    Scale shape is the PCA/LR recipe: ONE corpus pass builds the 20-bin
    sufficient statistics, the 8 fixed Newton iterations are pure driver
    math over that bounded frame in a FIXED summation order, and the
    oracle replays the identical recursion as unrolled 1-row CTEs — the
    2×2 Hessian solve is closed-form, so every intermediate is the same
    IEEE arithmetic on both engines."""
    import math

    preds = _preds(spark, sf)
    bins = (
        preds.select(
            F.least(F.floor(F.col("score") * 20), F.lit(19)).cast("int").alias("bin"),
            F.col("label").cast("long").alias("label"),
            "score",
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("label").alias("pos"),
            F.avg("score").alias("x"),
        )
    )
    cells = sorted(
        (r["bin"], float(r["n"]), int(r["pos"]), float(r["x"]))
        for r in bins.collect()
    )
    a = b = 0.0
    for _ in range(_PLATT_ITERS):
        g1 = g2 = h11 = h12 = h22 = 0.0
        for _bin, n, pos, x in cells:
            p = 1.0 / (1.0 + math.exp(-(a * x + b)))
            y = pos / n
            w = n * p * (1.0 - p)
            g1 += n * (y - p) * x
            g2 += n * (y - p)
            h11 += w * x * x
            h12 += w * x
            h22 += w
        det = h11 * h22 - h12 * h12
        a += (h22 * g1 - h12 * g2) / det
        b += (h11 * g2 - h12 * g1) / det
    rows = [
        (
            _bin,
            int(n),
            round(x, 6),
            round(pos / n, 6),
            round(1.0 / (1.0 + math.exp(-(a * x + b))), 6),
            round(a, 6),
            round(b, 6),
        )
        for _bin, n, pos, x in cells
    ]
    return spark.createDataFrame(
        rows,
        "bin int, n bigint, mean_score double, pos_rate double, "
        "platt_prob double, coef_a double, coef_b double",
    ).orderBy("bin")


def _sql_platt() -> str:
    ctes = [
        """binstats AS (
  SELECT CAST(least(floor(score * 20), 19) AS INTEGER) AS bin,
         CAST(count(*) AS DOUBLE) AS n,
         sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS pos,
         avg(score) AS x
  FROM ({preds})
  GROUP BY 1
)""".replace("{preds}", SQL_PREDS),
        "it0 AS (SELECT CAST(0 AS DOUBLE) AS a, CAST(0 AS DOUBLE) AS b)",
    ]
    for k in range(1, _PLATT_ITERS + 1):
        ctes.append(
            f"""it{k} AS (
  SELECT a + (h22 * g1 - h12 * g2) / (h11 * h22 - h12 * h12) AS a,
         b + (h11 * g2 - h12 * g1) / (h11 * h22 - h12 * h12) AS b
  FROM (
    SELECT a, b,
           sum(n * (y - p) * x) AS g1,
           sum(n * (y - p)) AS g2,
           sum(n * p * (1 - p) * x * x) AS h11,
           sum(n * p * (1 - p) * x) AS h12,
           sum(n * p * (1 - p)) AS h22
    FROM (
      SELECT t.n, t.x, t.pos / t.n AS y, i.a, i.b,
             1.0 / (1.0 + exp(-(i.a * t.x + i.b))) AS p
      FROM binstats t CROSS JOIN it{k - 1} i
    ) s
    GROUP BY a, b
  ) g
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT bin, CAST(n AS BIGINT) AS n, round(x, 6) AS mean_score,
       round(pos / n, 6) AS pos_rate,
       round(1.0 / (1.0 + exp(-(f.a * x + f.b))), 6) AS platt_prob,
       round(f.a, 6) AS coef_a, round(f.b, 6) AS coef_b
FROM binstats CROSS JOIN it{_PLATT_ITERS} f
ORDER BY bin
"""
    )


QUERIES = {
    "brier_decomposition": (q_brier_decomposition, SQL_BRIER_DECOMPOSITION),
    "isotonic_calibration": (q_isotonic_calibration, SQL_ISOTONIC_CALIBRATION),
    "matthews_corrcoef": (q_matthews_corrcoef, SQL_MATTHEWS_CORRCOEF),
    "lift_gains": (q_lift_gains, SQL_LIFT_GAINS),
    "platt_scaling": (q_platt_scaling, _sql_platt()),
    "ab_conversion_ztest": (q_ab_conversion_ztest, SQL_AB_CONVERSION_ZTEST),
    "pass_at_k": (q_pass_at_k, SQL_PASS_AT_K),
    "cuped_uplift": (q_cuped_uplift, SQL_CUPED_UPLIFT),
    "conformal_coverage": (q_conformal_coverage, SQL_CONFORMAL_COVERAGE),
    "label_noise_estimate": (q_label_noise_estimate, SQL_LABEL_NOISE_ESTIMATE),
    "confusion_matrix": (q_confusion_matrix, SQL_CONFUSION_MATRIX),
    "rank_correlation": (q_rank_correlation, SQL_RANK_CORRELATION),
    "fleiss_kappa": (q_fleiss_kappa, SQL_FLEISS_KAPPA),
    "bradley_terry": (q_bradley_terry, SQL_BRADLEY_TERRY),
    "bootstrap_accuracy": (q_bootstrap_accuracy, SQL_BOOTSTRAP_ACCURACY),
    "accuracy_by_slice": (q_accuracy_by_slice, SQL_ACCURACY_BY_SLICE),
    "model_agreement": (q_model_agreement, SQL_MODEL_AGREEMENT),
    "accuracy": (q_accuracy, SQL_ACCURACY),
    "classification_report": (q_classification_report, SQL_CLASSIFICATION_REPORT),
    "roc_auc": (q_roc_auc, SQL_ROC_AUC),
    "roc_points": (q_roc_points, SQL_ROC_POINTS),
    "pr_points": (q_pr_points, SQL_PR_POINTS),
    "average_precision": (q_average_precision, SQL_AVERAGE_PRECISION),
    "calibration_report": (q_calibration_report, SQL_CALIBRATION_REPORT),
    "expected_calibration_error": (
        q_expected_calibration_error,
        SQL_EXPECTED_CALIBRATION_ERROR,
    ),
    "roc_auc_hist": (q_roc_auc_hist, SQL_ROC_AUC_HIST),
    # golden constants measured at sf0.01 (deterministic — see _synthetic_tweets)
    "ml_logistic_regression": (
        q_ml_logistic_regression,
        _metrics_literal_sql(108, 22, 27, 33, 26, 444444, 443300, 467925),
    ),
    "ml_naive_bayes": (
        q_ml_naive_bayes,
        _metrics_literal_sql(108, 50, 51, 5, 2, 481481, 359164, 389365),
    ),
    "ml_linear_svc": (
        q_ml_linear_svc,
        _metrics_literal_sql(108, 21, 23, 34, 30, 472222, 467711, 486106),
    ),
    "ml_crossval": (
        q_ml_crossval,
        _crossval_literal_sql(
            [
                (0, 167, 41, 40, 42, 44, 508982, 508876, 523236),
                (1, 167, 38, 38, 46, 45, 497006, 495994, 481641),
                (2, 166, 35, 43, 48, 40, 451807, 451309, 466686),
            ]
        ),
    ),
}
