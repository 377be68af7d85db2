"""Feature-extraction operators (SURVEY §2.6 M3/M4/M6) in two forms:

1. **MLlib form** — ``HashingTF`` / ``IDF`` / ``CountVectorizer`` stages used
   inside the training pipelines (``operators.ml``), byte-compatible with
   the reference's persisted models.
2. **Oracle twins** — the same semantics as relational DataFrame programs
   over ``array``/``map`` types, so the DuckDB harness can value-check them
   (SURVEY §1.5, §5.4: VectorUDT is not oracle-comparable).

The twins are also how a 100 TB run would *inspect* features (exploded
long-form (doc, term, weight) is joinable/filterable; a 2^18-dim sparse
vector is opaque).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def term_frequencies(
    docs: DataFrame, id_col: str = "doc_id", tokens_col: str = "tokens"
) -> DataFrame:
    """Long-form TF: (doc_id, term, tf). The oracle twin of HashingTF (M3)
    without the hash collision step — exact terms, exact counts.

    explode → partial+final hash aggregation on (doc, term); Catalyst does
    map-side combine automatically.
    """
    return (
        docs.select(F.col(id_col).alias("doc_id"), F.explode(tokens_col).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def document_frequencies(
    docs: DataFrame, id_col: str = "doc_id", tokens_col: str = "tokens"
) -> DataFrame:
    """(term, df) — number of documents containing each term.

    ``array_distinct`` before the explode avoids the distinct-shuffle a
    naive ``explode → distinct → groupBy`` plan would pay: per-doc dedup is
    a narrow op, then one aggregation. This is the scale-correct shape.
    """
    return (
        docs.select(F.explode(F.array_distinct(F.col(tokens_col))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )


def idf_weights(
    docs: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    min_doc_freq: int = 0,
) -> DataFrame:
    """(term, df, idf) with Spark ML's IDF formula (M4):

        idf = log((m + 1) / (df + 1)),  0 when df < minDocFreq

    m = total document count (reference model_logistic_regression.py:112-117,
    minDocFreq=5). The count is computed once and folded in as a literal —
    at scale this is one cheap count job, not a cross join.
    """
    m = docs.count()
    dfreq = document_frequencies(docs, id_col, tokens_col)
    idf = F.when(
        F.col("df") >= min_doc_freq,
        F.log((F.lit(float(m)) + 1.0) / (F.col("df").cast("double") + 1.0)),
    ).otherwise(F.lit(0.0))
    return dfreq.withColumn("idf", idf)


def tf_idf(
    docs: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    min_doc_freq: int = 0,
) -> DataFrame:
    """Long-form TF-IDF: (doc_id, term, tf, idf, tf_idf) — M3×M4 composed.

    The (term → idf) side is vocab-sized — small relative to the corpus by
    Heaps' law, but unbounded in principle at 100 TB — so it carries NO
    forced broadcast hint: AQE converts the join to broadcast-hash at
    runtime while the vocab fits ``autoBroadcastJoinThreshold`` (the big TF
    side then never shuffles, via the local shuffle reader) and degrades to
    a shuffle join on term beyond it instead of OOMing the executors
    (SCALING.md "broadcast policy").
    """
    tf = term_frequencies(docs, id_col, tokens_col)
    idf = idf_weights(docs, id_col, tokens_col, min_doc_freq)
    return (
        tf.join(idf, "term")
        .withColumn("tf_idf", F.col("tf").cast("double") * F.col("idf"))
        .select("doc_id", "term", "tf", "idf", "tf_idf")
    )


def unigram_logprob_scores(
    docs: DataFrame, id_col: str = "doc_id", tokens_col: str = "tokens"
) -> DataFrame:
    """Per-document mean unigram log-probability — the classic cheap
    fluency/quality proxy for training-data filtering (a degenerate
    perplexity: a document scoring far below the corpus norm is noise,
    boilerplate, or the wrong language; cf. CCNet's LM filtering,
    arXiv:1911.00359, re-expressed with the corpus itself as the LM).

        p(t) = count(t) / total_tokens      (over the whole corpus)
        score(d) = avg over tokens of ln p(t)

    Plan shape: one aggregation builds the unigram LM (shuffle on term),
    one explode+join scores tokens against it, one aggregation folds back
    to documents (shuffle on doc). The LM side is vocab-sized — small by
    Heaps' law but unbounded in principle, so it carries NO broadcast hint
    (AQE broadcasts while it fits, shuffle join beyond — SCALING.md
    "broadcast policy"); only the 1-row token total is hint-broadcast.

    Returns (doc_id, n_tokens, avg_logprob); empty-token documents are
    dropped (no tokens ⇒ no score).
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens_col).alias("term")
    )
    lm = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    total = lm.agg(F.sum("cnt").alias("_total"))
    scored = toks.join(lm, "term").join(F.broadcast(total)).select(
        "doc_id",
        F.log(F.col("cnt").cast("double") / F.col("_total")).alias("logp"),
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.avg("logp"), 6).alias("avg_logprob"),
    )


def count_vectorizer_vocab(
    docs: DataFrame,
    tokens_col: str = "tokens",
    vocab_size: int = 10000,
    min_df: int = 1,
) -> DataFrame:
    """CountVectorizer.fit's vocabulary (M6): top-``vocab_size`` terms by
    total count with document-frequency ≥ min_df; deterministic tie-break
    (count desc, term asc) per SURVEY §7.3. Returns (term, index).

    Two aggregations + a global top-k (TakeOrderedAndProject — no total
    sort). Reference params: vocabSize=10000, minDF=5
    (model_logistic_regression.py:131-136).
    """
    counts = (
        docs.select(F.explode(tokens_col).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("total"))
    )
    dfreq = document_frequencies(docs, tokens_col=tokens_col)
    vocab = (
        counts.join(dfreq, "term")
        .filter(F.col("df") >= min_df)
        .orderBy(F.col("total").desc(), F.col("term").asc())
        .limit(vocab_size)
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("total").desc(), F.col("term").asc())
    return vocab.withColumn("index", F.row_number().over(w) - 1).select(
        "term", "index", "total", "df"
    )


def count_vectorize(
    docs: DataFrame,
    vocab: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
) -> DataFrame:
    """CountVectorizer.transform twin: (doc_id, term_counts map<int,bigint>).

    Broadcast the vocabulary (≤ vocab_size rows) so the corpus side is
    shuffle-free up to the per-doc re-aggregation.
    """
    tf = term_frequencies(docs, id_col, tokens_col)
    return (
        tf.join(F.broadcast(vocab.select("term", "index")), "term")
        .groupBy("doc_id")
        .agg(
            F.map_from_entries(
                F.sort_array(F.collect_list(F.struct(F.col("index"), F.col("tf"))))
            ).alias("term_counts")
        )
    )


def hashing_tf_indices(
    docs: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    num_features: int = 2**18,
) -> DataFrame:
    """HashingTF twin (M3): (doc_id, bucket, tf) — dimension-bucketed term
    frequencies via SQL Murmur3 (``F.hash``, seed 42) mod num_features.

    Note: ML's HashingTF hashes strings with Murmur3 ``hashUnsafeBytes2``
    while SQL ``hash()`` uses ``hashUnsafeBytes``, so bucket ids differ from
    the ML stage for some terms; the semantics (stable hash → non-negative
    mod N → per-doc counts) are identical, and per-doc count multisets match
    (tests/test_features.py). Pipelines needing byte-parity with persisted
    reference models use the real ML stage (operators.ml).
    """
    return (
        docs.select(F.col(id_col).alias("doc_id"), F.explode(tokens_col).alias("term"))
        .withColumn("bucket", F.pmod(F.hash(F.col("term")), F.lit(num_features)))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def chi2_terms(
    docs: DataFrame,
    label_col: str = "label",
    tokens_col: str = "tokens",
    min_df: int = 5,
) -> DataFrame:
    """Per-term chi-squared statistic of term-presence vs class label —
    the standard feature-selection / distinctive-vocabulary score (a term
    with high chi2 is strongly associated with specific classes, e.g.
    language- or source-identifying words).

    For each term t and class c, the 2×L contingency table over document
    presence: O_tc = #docs of class c containing t, E_tc = df_t · n_c / N.
    chi2_t = Σ_c [ (O_tc − E_tc)² / E_tc + (E_tc − O_tc)² / (n_c − E_tc) ]
    (present + absent cells; the absent cell's deviation is the negation
    of the present cell's). Cells with n_c − E_tc ≤ 0 (term in every doc)
    contribute 0 — the standard degenerate-cell guard.

    Scale shape: ``array_distinct`` before the explode (per-doc presence,
    narrow), ONE (term, label) aggregation, then everything downstream is
    vocab-sized or smaller: df per term (second agg over the first's
    output, not the corpus), class counts (L rows), N (1 row). The full
    term × class grid is built by crossing the ``min_df``-PRUNED term list
    with the L-row class table (so absent O_tc = 0 cells exist) and left
    joining the observed counts — AQE broadcasts the tiny sides at
    runtime; no hint, no corpus re-scan, no all-pairs.

    Output: (term, df, chi2) with chi2 pre-rounded to 6 dp (ulp-stable
    ordering key vs the SQL oracle twin).
    """
    pres = docs.select(
        F.col(label_col).alias("label"),
        F.explode(F.array_distinct(F.col(tokens_col))).alias("term"),
    )
    otc = pres.groupBy("term", "label").agg(F.count(F.lit(1)).alias("o"))
    dft = (
        otc.groupBy("term")
        .agg(F.sum("o").alias("df"))
        .filter(F.col("df") >= min_df)
    )
    nc = docs.groupBy(F.col(label_col).alias("label")).agg(
        F.count(F.lit(1)).alias("n_c")
    )
    n = docs.agg(F.count(F.lit(1)).cast("double").alias("n"))
    e = F.col("df") * F.col("n_c") / F.col("n")
    o = F.coalesce(F.col("o"), F.lit(0)).cast("double")
    present = (o - e) * (o - e) / e
    absent = F.when(
        F.col("n_c") > e, (e - o) * (e - o) / (F.col("n_c") - e)
    ).otherwise(F.lit(0.0))
    return (
        dft.crossJoin(nc)
        .crossJoin(n)
        .join(otc, ["term", "label"], "left")
        .groupBy("term", "df")
        .agg(F.round(F.sum(present + absent), 6).alias("chi2"))
    )


def bigram_logprob_scores(
    docs: DataFrame, id_col: str = "doc_id", tokens_col: str = "tokens"
) -> DataFrame:
    """Per-document mean add-one-smoothed bigram log-probability — the
    second rung of the LM-quality ladder above
    :func:`unigram_logprob_scores` (word-order sensitivity: a bag of
    plausible words in implausible order scores low here but fine on
    unigrams).

        P(b | a) = (c(a,b) + 1) / (c(a·) + V)
        score(d) = avg over d's bigrams of ln P(b | a)

    where ``c(a,b)`` is the corpus bigram count, ``c(a·)`` the count of
    bigrams starting with ``a``, and ``V`` the corpus vocabulary size
    (add-one smoothing denominator, Jurafsky & Martin ch. 3).

    Plan shape: bigram extraction is a narrow per-doc transform (no
    shuffle); the model is two aggregations over the bigram frame
    (vocab²-bounded by Heaps' law but unbounded in principle → NO
    broadcast hints, AQE decides); scoring is two equi joins plus a
    per-doc fold. Only the 1-row vocabulary count is hint-broadcast.
    Documents with fewer than 2 tokens drop (no bigrams ⇒ no score).
    """
    bg = docs.where(F.size(tokens_col) >= 2).select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size(tokens_col) - 1),
                lambda i: F.struct(
                    F.element_at(tokens_col, i).alias("a"),
                    F.element_at(tokens_col, i + F.lit(1)).alias("b"),
                ),
            )
        ).alias("p"),
    ).select("doc_id", "p.a", "p.b")
    model = bg.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c_ab"))
    ctx = bg.groupBy("a").agg(F.count(F.lit(1)).alias("c_a"))
    vocab = docs.select(F.explode(tokens_col).alias("t")).agg(
        F.countDistinct("t").alias("_v")
    )
    scored = (
        bg.join(model, ["a", "b"])
        .join(ctx, ["a"])
        .join(F.broadcast(vocab))
        .select(
            "doc_id",
            F.log(
                (F.col("c_ab") + F.lit(1.0)) / (F.col("c_a") + F.col("_v"))
            ).alias("logp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("logp"), 6).alias("avg_logprob"),
    )


def hashed_embedding_long(
    docs: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    dim: int = 16,
) -> DataFrame:
    """Signed feature hashing (the 'hashing trick', Weinberger et al.
    2009, arXiv:0902.2206): every token adds ±1 to one of ``dim``
    buckets (bucket = h(t) mod dim, sign from an independent high bit of
    the same md5-based hash), producing a cheap, vocabulary-free dense
    text embedding whose dot products approximate token-overlap kernels.
    This is the engine-native bridge from text to the vector operators
    (ANN/clustering/near-dup) when no learned embedding exists.

    Output is LONG FORM ``(id, dim_idx, value)`` — partial+final hash
    agg keyed (id, dim_idx); no array assembly, so no cross-engine
    element-order concerns and downstream consumers can pivot or
    ``collect_list`` as needed. One narrow explode + ONE shuffle; the
    hash is the same engine-portable md5 used by the MinHash family, so
    the oracle replays it bit-for-bit.
    """
    toks = docs.select(
        F.col(id_col).alias("id"), F.explode(tokens_col).alias("t")
    )
    from sentiment_analysis_bigdata_spark.functions import hashing as H

    h = H.md5_hash64(F.col("t"))
    sign = (
        F.when(F.shiftright(h, 40).bitwiseAND(F.lit(1)) == 1, F.lit(1))
        .otherwise(F.lit(-1))
    )
    return (
        toks.select(
            "id",
            F.pmod(h, F.lit(dim)).cast("int").alias("dim_idx"),
            sign.alias("s"),
        )
        .groupBy("id", "dim_idx")
        .agg(F.sum("s").cast("bigint").alias("value"))
    )


def dsir_logweights(
    docs: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    target_col: str = "is_target",
    m: int = 64,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """DSIR importance-resampling weights (Xie et al. 2023,
    arXiv:2302.03169): per-document log importance weight under two
    bag-of-hashed-ngrams unigram LMs,

        log w(d) = sum_b n_b(d) * (ln p_target[b] - ln q_raw[b])

    with hashed unigram+bigram features into ``m`` buckets (the engine's
    md5 hash — the same value contract as ``hashed_embedding_long``) and
    add-1 smoothing on both LMs. ``target_col`` is a boolean marking the
    target-domain rows; the raw distribution is the whole frame. Rows in
    ``keep_cols`` ride through the per-doc aggregation (they must be
    functionally dependent on ``id_col``).

    Plan shape: ONE corpus explode (uni+bi grams in a single array
    concat) into ONE (doc, bucket) partial aggregate, from which BOTH
    m-row LM aggregates derive (r12: tgt/raw previously re-aggregated
    the gram-level frame directly, so the tokenize+explode+md5 corpus
    pass appeared under five plan consumers; summing the support-sized
    per-doc counts is the identical integer total and lets ReuseExchange
    run the corpus pass once — measured 4.4 s → 2.8 s warm at sf0.1).
    The LM aggs join back UNHINTED (fixed m rows at any corpus scale —
    AQE broadcasts them at runtime, per SCALING.md "broadcast policy"),
    a broadcast 1-row totals frame, and one per-doc fold. LM state is
    O(m); no all-pairs work.

    Returns ``(id_col, *keep_cols, n_grams, log_weight)`` with the weight
    rounded to 6dp (the cross-engine float contract). Selection (top-k /
    Gumbel sampling) is the caller's policy.
    """
    from sentiment_analysis_bigdata_spark.functions import hashing as H
    from sentiment_analysis_bigdata_spark.functions import text as TXT

    keep = list(keep_cols)
    grams = F.concat(F.col(tokens_col), TXT.ngrams(F.col(tokens_col), 2))
    b = docs.select(
        F.col(id_col), F.col(target_col), *keep, F.explode(grams).alias("g")
    ).select(
        id_col, target_col, *keep,
        F.pmod(H.md5_hash64("g"), F.lit(m)).alias("bucket"),
    )
    # target_col rides the grouping (functionally dependent on id_col)
    # so the LM aggregates can derive from this support-sized frame
    per_doc = b.groupBy(id_col, target_col, *keep, "bucket").agg(
        F.count(F.lit(1)).alias("n")
    )
    tgt = per_doc.filter(F.col(target_col)).groupBy("bucket").agg(
        F.sum("n").alias("t_cnt")
    )
    raw = per_doc.groupBy("bucket").agg(F.sum("n").alias("r_cnt"))
    totals = tgt.agg(F.sum("t_cnt").cast("double").alias("t_total")).crossJoin(
        F.broadcast(raw.agg(F.sum("r_cnt").cast("double").alias("r_total")))
    )
    contrib = (
        per_doc.join(raw, "bucket")
        .join(tgt, "bucket", "left")
        .join(F.broadcast(totals))
        .select(
            id_col,
            *keep,
            "n",
            (
                F.col("n")
                * (
                    F.log(
                        (F.coalesce(F.col("t_cnt"), F.lit(0)) + 1).cast("double")
                        / (F.col("t_total") + m)
                    )
                    - F.log(
                        (F.col("r_cnt") + 1).cast("double") / (F.col("r_total") + m)
                    )
                )
            ).alias("c"),
        )
    )
    return contrib.groupBy(id_col, *keep).agg(
        F.sum("n").alias("n_grams"),
        F.round(F.sum("c"), 6).alias("log_weight"),
    )
