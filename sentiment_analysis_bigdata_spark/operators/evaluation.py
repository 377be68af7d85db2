"""Distributed model evaluation (SURVEY §2.3 A5-A9) — no sklearn, no
unaggregated ``toPandas``.

The reference collects the full test split (319 K rows) to the driver and
runs sklearn ``confusion_matrix`` / ``roc_curve`` (reference
model_logistic_regression.py:217-218,258-259,276-280). At 100 TB that's the
workload's fatal anti-pattern (SURVEY §1.4). Every metric here is a pure
DataFrame aggregation; only the final scalar / k-row result reaches the
driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from sentiment_analysis_bigdata_spark.plans.barrier import barrier_eager
from sentiment_analysis_bigdata_spark.sources import local_frame


def confusion_matrix(
    df: DataFrame, label_col: str = "label", pred_col: str = "prediction"
) -> DataFrame:
    """A5 — long-form confusion counts: (label, prediction, n).

    Distributed re-expression of sklearn ``confusion_matrix`` (reference
    model_logistic_regression.py:218). One partial+final hash aggregation.
    """
    return (
        df.groupBy(
            F.col(label_col).cast("int").alias("label"),
            F.col(pred_col).cast("int").alias("prediction"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _confusion_rows(df: DataFrame, label_col: str, pred_col: str) -> list[tuple]:
    """The one driver action behind every confusion-based metric: collect
    the ≤k² ``confusion_matrix`` rows as (label, prediction, n), ordered by
    label then prediction, ascending with nulls first (``orderBy``'s order,
    sorted on the driver so the collect stays a single aggregation)."""
    rows = [tuple(r) for r in confusion_matrix(df, label_col, pred_col).collect()]
    return sorted(rows, key=lambda r: (r[0] is not None, r[0] or 0, r[1] is not None, r[1] or 0))


def _accuracy_of(cm: list[tuple]) -> float:
    """Accuracy from confusion rows; a null label or prediction is skipped,
    as ``avg`` skips the null comparison."""
    pairs = [(label == pred, n) for label, pred, n in cm if label is not None and pred is not None]
    total = sum(n for _, n in pairs)
    if not total:
        raise ValueError("accuracy of an empty input: no row has a non-null label and prediction")
    return sum(n for hit, n in pairs if hit) / total


def _per_class(cm: list[tuple]) -> list[tuple]:
    """(label, tp, fp, fn, support, precision, recall, f1) per label value,
    from confusion rows. A null label matches no prediction (tp = fp = 0);
    a null prediction counts toward its label's support and fn only."""
    support, predicted, tp = {}, {}, {}
    for label, pred, n in cm:
        support[label] = support.get(label, 0) + n
        if pred is not None:
            predicted[pred] = predicted.get(pred, 0) + n
            if label == pred:
                tp[label] = n
    rows = []
    for label, sup in support.items():
        t, pn = tp.get(label, 0), predicted.get(label, 0)
        precision = t / pn if pn > 0 else 0.0
        recall = t / sup
        f1 = 2 * precision * recall / (precision + recall) if precision + recall > 0 else 0.0
        rows.append((label, t, pn - t, sup - t, sup, precision, recall, f1))
    return rows


def _weighted_f1_of(cm: list[tuple]) -> float:
    """Support-weighted F1 from confusion rows."""
    report = _per_class(cm)
    total = sum(r[4] for r in report)
    if not total:
        raise ValueError("weighted F1 of an empty input: the frame has no rows")
    return sum(r[7] * r[4] for r in report) / total


def accuracy(df: DataFrame, label_col: str = "label", pred_col: str = "prediction") -> float:
    """A6 — fraction correct, derived from one confusion collect. Labels
    and predictions are class indices, as ``confusion_matrix``'s int cast
    assumes. Raises ``ValueError`` on an empty input."""
    return _accuracy_of(_confusion_rows(df, label_col, pred_col))


_REPORT_COLUMNS = ("label", "tp", "fp", "fn", "support", "precision", "recall", "f1")
_REPORT_SCHEMA = (
    "label int, tp bigint, fp bigint, fn bigint, support bigint, "
    "precision double, recall double, f1 double"
)


def classification_report(
    df: DataFrame, label_col: str = "label", pred_col: str = "prediction"
) -> DataFrame:
    """A7 — per-class precision/recall/F1, derived from one confusion
    collect. Labels and predictions are class indices, as
    ``confusion_matrix``'s int cast assumes.

    Returns (label, tp, fp, fn, support, precision, recall, f1), one row
    per label value. The ≤k rows are built on the driver and handed back
    as an Arrow table, which Spark keeps as a local relation: collecting
    the report runs no further job.
    """
    rows = _per_class(_confusion_rows(df, label_col, pred_col))
    columns = [[r[i] for r in rows] for i in range(len(_REPORT_COLUMNS))]
    return local_frame(df.sparkSession, columns, _REPORT_SCHEMA)


def weighted_f1(df: DataFrame, label_col: str = "label", pred_col: str = "prediction") -> float:
    """A7 — support-weighted F1 (parity with
    MulticlassClassificationEvaluator(metricName='f1'), reference
    model_logistic_regression.py:189-193), derived from one confusion
    collect. Labels and predictions are class indices, as
    ``confusion_matrix``'s int cast assumes. Raises ``ValueError`` on an
    empty input."""
    return _weighted_f1_of(_confusion_rows(df, label_col, pred_col))


def _score_counts(df: DataFrame, label_col: str, score_col: str) -> DataFrame:
    """Per distinct score: (score, pos_s = positives, cnt_s = rows). One
    partial+final hash aggregation over the raw rows — the frame every
    threshold curve below windows over, #thresholds rows, never #rows."""
    return df.groupBy(F.col(score_col).alias("score")).agg(
        F.sum(F.when(F.col(label_col) == 1, 1).otherwise(0)).alias("pos_s"),
        F.count(F.lit(1)).alias("cnt_s"),
    )


def roc_auc(df: DataFrame, label_col: str = "label", score_col: str = "score") -> float:
    """A8/A9 — exact ROC-AUC via the rank-sum (Mann-Whitney) identity,
    fully distributed:

        AUC = (Σ avg-rank(score) over positives − P(P+1)/2) / (P·N)

    Average ranks handle score ties exactly like trapezoidal integration
    over tie-grouped thresholds (the evaluator's semantics, SURVEY §7.4).

    Scale shape: the rows are FIRST hash-aggregated per distinct score
    (partial+final, fully parallel), and only the distinct-score frame —
    cardinality = #thresholds, not #rows — goes through the global-sort
    window. The tie group at score s has ranks [before+1 .. before+cnt],
    so its average rank is before + (cnt+1)/2; summing pos·avg_rank per
    group equals the per-row rank sum exactly (half-integers and their
    products stay exact in doubles). At extreme scale the histogram
    variant below bounds even the distinct-score cardinality.
    """
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    ranked = _score_counts(df, label_col, score_col).withColumn(
        "before", F.coalesce(F.sum("cnt_s").over(w), F.lit(0))
    )
    agg = ranked.agg(
        F.sum(
            F.col("pos_s") * (F.col("before") + (F.col("cnt_s") + 1) / 2.0)
        ).alias("pos_rank_sum"),
        F.sum("pos_s").alias("pos"),
        F.sum(F.col("cnt_s") - F.col("pos_s")).alias("neg"),
    ).first()
    pos, neg = agg["pos"], agg["neg"]
    if not pos or not neg:
        return 0.0
    return float((agg["pos_rank_sum"] - pos * (pos + 1) / 2.0) / (pos * neg))


def roc_auc_approx(
    df: DataFrame,
    label_col: str = "label",
    score_col: str = "score",
    num_bins: int = 10_000,
) -> float:
    """Two-pass histogram AUC — the 100 TB path promised in SCALING.md.

    Pass 1: global score min/max. Pass 2: per-bin positive/negative counts
    (one hash aggregation — no global sort, unlike the exact rank method).
    AUC = Σ over bins (trapezoid of cumulative TPR/FPR), with ties within a
    bin handled by the standard ½·(pos·neg) correction. Error ≤ O(1/bins)
    of mass per bin; agrees with the exact AUC to ~1e-3 at 10k bins.
    """
    lo, hi = df.agg(F.min(score_col), F.max(score_col)).first()
    if lo is None or hi == lo:
        return 0.5
    width = (hi - lo) / num_bins
    binned = (
        df.select(
            F.least(
                F.floor((F.col(score_col) - F.lit(lo)) / F.lit(width)),
                F.lit(num_bins - 1),
            ).alias("bin"),
            F.when(F.col(label_col) == 1, 1).otherwise(0).alias("is_pos"),
        )
        .groupBy("bin")
        .agg(
            F.sum("is_pos").alias("pos"),
            F.sum(1 - F.col("is_pos")).alias("neg"),
        )
        .orderBy(F.col("bin").desc())
        .collect()
    )
    total_pos = sum(r["pos"] for r in binned)
    total_neg = sum(r["neg"] for r in binned)
    if not total_pos or not total_neg:
        return 0.0
    # descending score: count (pos, neg) pairs where pos scores higher
    auc_pairs = 0.0
    neg_seen = 0
    for r in binned:  # highest bin first
        # pairs within the bin: ties → half credit
        auc_pairs += r["pos"] * r["neg"] / 2.0
        # this bin's positives beat all negatives in LOWER bins
        auc_pairs += r["pos"] * (total_neg - neg_seen - r["neg"])
        neg_seen += r["neg"]
    return float(auc_pairs / (total_pos * total_neg))


def roc_points_binned(
    df: DataFrame,
    label_col: str = "label",
    score_col: str = "score",
    bins: int = 256,
) -> list[tuple[float, float]]:
    """Chart-ready ROC polyline: ≤ ``bins`` (fpr, tpr) points, distributed.

    ``roc_points`` emits one row per distinct threshold — unbounded. For
    rendering, bucket fpr into ``bins`` cells and keep each cell's max tpr
    (the visually-exact upper envelope of the step curve); the collect is
    then bounded by ``bins`` regardless of data scale.
    """
    pts = roc_points(df, label_col, score_col)
    rows = (
        pts.groupBy(
            F.least(F.floor(F.col("fpr") * bins), F.lit(bins - 1)).alias("cell")
        )
        .agg(F.max("fpr").alias("fpr"), F.max("tpr").alias("tpr"))
        .select("fpr", "tpr")
        .collect()
    )
    return sorted((float(r["fpr"]), float(r["tpr"])) for r in rows)


def roc_points(df: DataFrame, label_col: str = "label", score_col: str = "score") -> DataFrame:
    """A9 — distributed ROC curve points (fpr, tpr) at each score threshold.

    Scale shape: per-score hash aggregation FIRST (partial+final, fully
    parallel over the raw rows), then the cumulative window runs over the
    distinct-score frame only — cardinality = #thresholds, not #rows — so
    the single-partition sort the window implies never sees the full data.
    Tie groups collapse to one threshold row each, matching sklearn's
    ``roc_curve`` on distinct thresholds.
    """
    totals = df.agg(
        F.sum(F.when(F.col(label_col) == 1, 1).otherwise(0)).alias("P"),
        F.sum(F.when(F.col(label_col) != 1, 1).otherwise(0)).alias("N"),
    ).first()
    w = Window.orderBy(F.col("score").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = (
        _score_counts(df, label_col, score_col).withColumn("tp", F.sum("pos_s").over(w))
        .withColumn("n", F.sum("cnt_s").over(w))
        .withColumn("fp", F.col("n") - F.col("tp"))
        .select(
            "score",
            (F.col("fp") / F.lit(float(totals["N"]))).alias("fpr"),
            (F.col("tp") / F.lit(float(totals["P"]))).alias("tpr"),
        )
        .orderBy("score")
    )
    return cum


def pr_points(
    df: DataFrame, label_col: str = "label", score_col: str = "score"
) -> DataFrame:
    """Precision-recall curve points at each distinct score threshold.

    Same scale shape as ``roc_points``: per-score hash aggregation first
    (partial+final over raw rows), then the cumulative window runs over
    the distinct-score frame only — the implied single-partition sort sees
    #thresholds rows, never #rows."""
    # sum() is NULL on an empty frame; with zero positives recall would be
    # tp/0 → null rows propagating into average_precision. Guard both by
    # treating the frame as having no thresholds at all.
    total_pos = df.agg(
        F.sum(F.when(F.col(label_col) == 1, 1).otherwise(0)).alias("P")
    ).first()["P"] or 0
    if total_pos == 0:
        # mirror the non-empty path's schema: score keeps the input
        # column's actual type (float/decimal/...), not a hardcoded double
        from pyspark.sql import types as T

        empty = df.sparkSession.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField("score", df.schema[score_col].dataType),
                    T.StructField("precision", T.DoubleType()),
                    T.StructField("recall", T.DoubleType()),
                ]
            ),
        )
        return empty
    w = Window.orderBy(F.col("score").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        _score_counts(df, label_col, score_col).withColumn("tp", F.sum("pos_s").over(w))
        .withColumn("n", F.sum("cnt_s").over(w))
        .select(
            "score",
            (F.col("tp") / F.col("n")).alias("precision"),
            (F.col("tp") / F.lit(float(total_pos))).alias("recall"),
        )
        .orderBy(F.col("score").desc())
    )


def average_precision(
    df: DataFrame, label_col: str = "label", score_col: str = "score"
) -> float:
    """AP = Σ (R_k − R_{k−1}) · P_k over descending-score thresholds (the
    sklearn step-interpolation definition). Computed on the pr_points
    frame (#thresholds rows) — one more window + a scalar aggregate."""
    pts = pr_points(df, label_col, score_col)
    w = Window.orderBy(F.col("score").desc())
    stepped = pts.withColumn(
        "dr", F.col("recall") - F.lag("recall", 1, 0.0).over(w)
    )
    row = stepped.agg(F.sum(F.col("dr") * F.col("precision")).alias("ap")).first()
    # No thresholds (empty frame / zero positives) → sum is NULL → AP = 0.
    return float(row["ap"] or 0.0)


def calibration_bins(
    df: DataFrame,
    label_col: str = "label",
    score_col: str = "score",
    bins: int = 10,
) -> DataFrame:
    """Reliability-diagram bins: per equal-width score bin, the mean
    predicted score vs the observed positive rate. One hash aggregation
    (partial+final); output is ``bins`` rows."""
    b = F.least(
        F.floor(F.col(score_col) * bins).cast("int"), F.lit(bins - 1)
    )
    return (
        df.groupBy(b.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg(F.col(score_col)).alias("mean_score"),
            F.avg((F.col(label_col) == 1).cast("double")).alias("pos_rate"),
        )
        .orderBy("bin")
    )


def expected_calibration_error(
    df: DataFrame,
    label_col: str = "label",
    score_col: str = "score",
    bins: int = 10,
) -> float:
    """ECE = Σ_b (n_b / N) · |pos_rate_b − mean_score_b| over the
    reliability bins — the standard scalar calibration metric. Runs on the
    ``bins``-row frame from ``calibration_bins``."""
    cb = calibration_bins(df, label_col, score_col, bins)
    row = cb.agg(
        (
            F.sum(F.col("n") * F.abs(F.col("pos_rate") - F.col("mean_score")))
            / F.sum("n")
        ).alias("ece")
    ).first()
    return float(row["ece"])


# Poisson(1) CDF thresholds P(X <= k), k = 0..4 (weights capped at 5).
# Literal constants so Spark and any SQL oracle compare against identical
# doubles; derived from e^-1 * sum(1/i!).
_POISSON1_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238463,
    0.9963401531726563,
)


def bootstrap_mean_ci(
    df: DataFrame,
    value_col: str,
    id_col: str,
    n_boot: int = 32,
    seed: int = 42,
    z: float = 1.96,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Deterministic Poisson bootstrap CI for a row-level metric mean
    (e.g. accuracy = mean of a 0/1 ``correct`` column) — the standard
    single-pass bootstrap for distributed data (Chamandy et al., "Estimating
    Uncertainty for Massive Data Streams", Google 2012): replica b weights
    each row Poisson(1), approximating multinomial resampling without ever
    materializing a resample.

    Every weight derives from md5(id:b:seed) through the Poisson(1)
    inverse CDF (capped at 5), so replicas are content-addressed: reruns,
    partitionings, and engines produce the same CI — unlike rand()-based
    resampling, this is value-checkable by a SQL oracle.

    Scale shape: one narrow explode of B = ``n_boot`` replica indexes per
    row (map-side; partial aggregation collapses each partition to B
    partial sums before the 1-shuffle to B rows), then a B-row final
    reduce. With integer ``value_col`` the per-replica sums are exact
    bigints, and the final mean/sd fold the B-array in sorted replica
    order — bit-deterministic end to end.

    ``group_cols`` slices the CI per group (per-language accuracy, per-
    source quality, …) — the replica explode and partial sums key on
    (group, b), so slicing adds no extra pass.

    Returns (group_cols..., n_boot, mean, sd, ci_lo, ci_hi), one row per
    group (a single global row when ``group_cols`` is None), unrounded.
    """
    from sentiment_analysis_bigdata_spark.functions import hashing as H

    if n_boot < 2:
        raise ValueError(f"n_boot must be >= 2 for a sample sd, got {n_boot}")

    u = (
        F.pmod(
            H.md5_hash64(
                F.concat_ws(
                    ":",
                    F.col(id_col).cast("string"),
                    F.col("b").cast("string"),
                    F.lit(str(seed)),
                )
            ),
            F.lit(1_000_000),
        )
        / 1_000_000.0
    )
    w = F.when(u < _POISSON1_CDF[0], 0)
    for k in range(1, 5):
        w = w.when(u < _POISSON1_CDF[k], k)
    w = w.otherwise(5)
    groups = list(group_cols or [])
    reps = (
        df.select(*groups, F.col(id_col), F.col(value_col).alias("v"))
        .withColumn("b", F.explode(F.sequence(F.lit(0), F.lit(n_boot - 1))))
        .withColumn("w", w)
        .groupBy(*groups, "b")
        .agg(
            (F.sum(F.col("w") * F.col("v")).cast("double") / F.sum("w")).alias("m")
        )
    )
    arr = reps.groupBy(*groups).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("b", "m"))), lambda s: s.getField("m")
        ).alias("arr")
    )
    # fold in replica order on both engines — no partition-order float drift
    stats = arr.select(
        *groups,
        "arr",
        (
            F.aggregate("arr", F.lit(0.0), lambda a, x: a + x) / float(n_boot)
        ).alias("mean"),
    ).select(
        *groups,
        F.lit(n_boot).alias("n_boot"),
        "mean",
        F.sqrt(
            F.aggregate(
                "arr", F.lit(0.0), lambda a, x: a + (x - F.col("mean")) * (x - F.col("mean"))
            )
            / float(n_boot - 1)
        ).alias("sd"),
    )
    return stats.select(
        *groups,
        "n_boot",
        "mean",
        "sd",
        (F.col("mean") - F.lit(z) * F.col("sd")).alias("ci_lo"),
        (F.col("mean") + F.lit(z) * F.col("sd")).alias("ci_hi"),
    )


def model_agreement(
    df: DataFrame,
    label_col: str = "label",
    pred_a_col: str = "pred_a",
    pred_b_col: str = "pred_b",
    alpha_chi2: float = 3.841458820694124,
) -> DataFrame:
    """Paired comparison of two classifiers on the same examples, in one
    aggregate pass: per-model accuracy, Cohen's kappa (agreement beyond
    chance between the two prediction columns), and McNemar's test on the
    discordant pairs — the correct significance test for "is model B
    better than A on the SAME data" (a two-proportion test ignores the
    pairing and overstates variance).

    McNemar with continuity correction: chi2 = (|b - c| - 1)^2 / (b + c),
    b = A right & B wrong, c = A wrong & B right; ``significant`` compares
    against the chi-square(1) critical value (default alpha = 0.05).
    Kappa = (p_o - p_e) / (1 - p_e) with the chance agreement p_e from the
    two models' marginal label rates (binary labels assumed, as in the
    reference's sentiment task).

    Everything reduces to integer counts in a single partial-aggregated
    pass — no shuffle beyond a 1-row final combine — so the statistics are
    exact and engine-reproducible.
    """
    lbl, pa, pb = F.col(label_col), F.col(pred_a_col), F.col(pred_b_col)
    agg = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((pa == lbl).cast("long")).alias("na"),
        F.sum((pb == lbl).cast("long")).alias("nb"),
        F.sum(((pa == lbl) & (pb != lbl)).cast("long")).alias("b"),
        F.sum(((pa != lbl) & (pb == lbl)).cast("long")).alias("c"),
        F.sum((pa == pb).cast("long")).alias("agree"),
        F.sum((pa == 1).cast("long")).alias("pa1"),
        F.sum((pb == 1).cast("long")).alias("pb1"),
    )
    n = F.col("n").cast("double")
    p_o = F.col("agree") / n
    p_e = (F.col("pa1") / n) * (F.col("pb1") / n) + (
        (n - F.col("pa1")) / n
    ) * ((n - F.col("pb1")) / n)
    disc = (F.col("b") + F.col("c")).cast("double")
    chi2 = F.when(
        disc > 0,
        (F.abs(F.col("b") - F.col("c")) - F.lit(1.0))
        * (F.abs(F.col("b") - F.col("c")) - F.lit(1.0))
        / disc,
    ).otherwise(F.lit(0.0))
    return agg.select(
        "n",
        (F.col("na") / n).alias("accuracy_a"),
        (F.col("nb") / n).alias("accuracy_b"),
        ((p_o - p_e) / (F.lit(1.0) - p_e)).alias("kappa"),
        "b",
        "c",
        chi2.alias("mcnemar_chi2"),
        (chi2 > F.lit(alpha_chi2)).alias("significant"),
    )


def fleiss_kappa(
    ratings: DataFrame,
    item_col: str = "item",
    category_col: str = "category",
) -> DataFrame:
    """Fleiss' kappa (Fleiss 1971) — chance-corrected agreement among a
    FIXED number of raters per item, the multi-annotator generalization
    of Cohen's kappa (``model_agreement``) used to gate human-labeled
    training data (accept a batch only if annotators agree beyond
    chance).

    Input: one row per (item, rater assignment) — ``n`` rows per item
    for n raters. With n_ij = raters assigning category j to item i:

        P_i  = (Σ_j n_ij² − n) / (n(n−1))          per-item agreement
        P̄   = mean_i P_i                           observed
        P_e  = Σ_j p_j²,  p_j = Σ_i n_ij / (N·n)   chance
        κ    = (P̄ − P_e) / (1 − P_e)

    Every numerator/denominator is an INTEGER sum (Σ n_ij², category
    totals C_j, N, n), combined into doubles only in the final one-row
    projection — so the statistic is exact, order-independent, and
    engine-reproducible. Two aggregation passes over item-sized frames
    (n_ij histogram, then global sums); the raters-per-item count is
    validated (Fleiss requires it constant) and surfaced rather than
    assumed. Returns one row
    ``(n_items, n_raters, p_bar, p_e, kappa)`` rounded to 9 dp.
    """
    nij = (
        ratings.groupBy(
            F.col(item_col).alias("item"), F.col(category_col).alias("cat")
        )
        .agg(F.count(F.lit(1)).alias("n_ij"))
        .transform(barrier_eager)
    )
    per_item = nij.groupBy("item").agg(
        F.sum("n_ij").alias("n_raters"),
        F.sum(F.col("n_ij") * F.col("n_ij")).alias("sum_sq"),
    )
    g = per_item.agg(
        F.count(F.lit(1)).alias("n_items"),
        F.min("n_raters").alias("r_min"),
        F.max("n_raters").alias("r_max"),
        F.sum("sum_sq").alias("ssq"),
    )
    cat_sq = nij.groupBy("cat").agg(F.sum("n_ij").alias("c"))
    cat_g = cat_sq.agg(F.sum(F.col("c") * F.col("c")).alias("csq"))
    out = g.crossJoin(F.broadcast(cat_g))
    n = F.col("r_min").cast("double")
    N = F.col("n_items").cast("double")
    p_bar = (F.col("ssq") - N * n) / (N * n * (n - 1))
    p_e = F.col("csq") / (N * n * N * n)
    # the validation rides INSIDE the kappa column (a dropped helper
    # column would be pruned by Catalyst and the check never evaluated)
    kappa = F.when(
        F.col("r_min") == F.col("r_max"),
        F.round((p_bar - p_e) / (F.lit(1.0) - p_e), 9),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("fleiss_kappa: raters per item must be constant (min "),
                F.col("r_min").cast("string"),
                F.lit(", max "),
                F.col("r_max").cast("string"),
                F.lit(")"),
            )
        ).cast("double")
    )
    return out.select(
        "n_items",
        F.col("r_min").alias("n_raters"),
        F.round(p_bar, 9).alias("p_bar"),
        F.round(p_e, 9).alias("p_e"),
        kappa.alias("kappa"),
    )


def ranking_metrics(
    ranked: DataFrame,
    total_relevant: DataFrame,
    k: int = 10,
    query_col: str = "query_id",
    rank_col: str = "rank",
    rel_col: str = "rel",
) -> DataFrame:
    """Retrieval-quality metrics over a ranked result list: mean MRR,
    nDCG@k, precision@k, and recall@k — the IR/RAG-evaluation complement
    to the classification metrics above (confusion matrix, ROC, PR).

    Inputs: ``ranked`` = (query_id, rank 1.., rel ∈ {0,1}) — one row per
    retrieved item; ``total_relevant`` = (query_id, n_rel_total) — corpus
    ground truth per query, needed for recall and the nDCG ideal (IDCG
    truncates at min(k, R) with binary gains).

    Scale shape: one filter (rank ≤ k) → one per-query aggregation (the
    retrieved lists are k-bounded, so per-query state is tiny) → an equi
    join with the query-sized ground-truth frame → one global mean. The
    IDCG closed form Σ_{i=1..min(k,R)} 1/log2(i+1) is a sequence+aggregate
    HOF over ≤ k elements — pure codegen, no lookup table. Queries with
    R = 0 contribute 0 to nDCG/recall (degenerate-query guard).

    Returns one row: (n_queries, mrr, ndcg_at_k, precision_at_k,
    recall_at_k), unrounded (callers round for oracle parity).
    """
    rel = F.col(rel_col).cast("double")
    per_q = (
        ranked.filter(F.col(rank_col) <= k)
        .groupBy(F.col(query_col).alias("query_id"))
        .agg(
            F.sum(rel).alias("nrel_k"),
            F.sum(rel / F.log2(F.col(rank_col).cast("double") + 1.0)).alias("dcg"),
            F.min(F.when(rel == 1.0, F.col(rank_col))).alias("first_rel"),
        )
    )
    r = F.col("n_rel_total").cast("int")
    m = F.least(F.lit(k), r)
    idcg = F.when(
        m >= 1,
        F.aggregate(
            F.sequence(F.lit(1), m),
            F.lit(0.0),
            lambda acc, i: acc + F.lit(1.0) / F.log2(i.cast("double") + 1.0),
        ),
    ).otherwise(F.lit(0.0))
    scored = (
        per_q.join(
            total_relevant.select(
                F.col(query_col).alias("query_id"), "n_rel_total"
            ),
            "query_id",
        )
        .withColumn("idcg", idcg)
        .select(
            "query_id",
            F.coalesce(F.lit(1.0) / F.col("first_rel"), F.lit(0.0)).alias("rr"),
            F.when(F.col("idcg") > 0, F.col("dcg") / F.col("idcg"))
            .otherwise(F.lit(0.0))
            .alias("ndcg"),
            (F.col("nrel_k") / F.lit(float(k))).alias("prec"),
            F.when(r > 0, F.col("nrel_k") / r).otherwise(F.lit(0.0)).alias("rec"),
        )
    )
    return scored.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.avg("rr").alias("mrr"),
        F.avg("ndcg").alias("ndcg_at_k"),
        F.avg("prec").alias("precision_at_k"),
        F.avg("rec").alias("recall_at_k"),
    )
