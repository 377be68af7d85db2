"""Training-pipeline queries, batch 2: tokenizer training (BPE pair
counts), Z-order layout keys, group-wise regression, and embedding
centroids — each with a DuckDB oracle twin.

These extend the north-star LLM-pipeline surface (BASELINE.json): the
reference itself has none of these (its tokenizer is ML ``Tokenizer``
only, SURVEY §2.6 M1; it trains global models only, M9-M11).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sentiment_analysis_bigdata_spark.operators import layout, regression, tokenizer_train
from sentiment_analysis_bigdata_spark.plans.barrier import barrier_lazy
from sentiment_analysis_bigdata_spark.sources import load_table, local_frame


# --- BPE merge candidates (tokenizer training, one round) ------------------------

def q_bpe_merge_candidates(spark: SparkSession, sf: str) -> DataFrame:
    """Top-50 freq-weighted adjacent character pairs over documents.

    One corpus-sized pass (word frequencies); pair generation and the final
    aggregation run on the vocab-sized frame (operators/tokenizer_train.py).
    """
    docs = load_table(spark, sf, "documents")
    return tokenizer_train.top_merge_candidates(docs, "text", k=50)


def q_bpe_merges(spark: SparkSession, sf: str) -> DataFrame:
    """Three full BPE training rounds over documents: each round counts
    adjacent symbol pairs on the vocab-sized segmented frame, takes the
    deterministic argmax, and applies the merge (operators/tokenizer_train
    ``train_bpe`` — the corpus is scanned exactly once, in round 0's word
    frequencies). The oracle replays the identical recursion unrolled as
    SQL CTEs, independently deriving every merge."""
    docs = load_table(spark, sf, "documents")
    merges, _ = tokenizer_train.train_bpe(docs, n_merges=3)
    return local_frame(
        spark,
        [[m[i] for m in merges] for i in range(5)],
        "rank int, lhs string, rhs string, merged string, n bigint",
    )


def _sql_bpe_ctes(k: int = 3) -> str:
    """Unrolled k-round BPE recursion in DuckDB SQL: pairs_i → best_i →
    seg_{i+1} (merge applied via the same literal space-bracket replace
    the engine uses), fully independent of the Spark result. Returns the
    WITH block (through seg_k) shared by the merges and vocab oracles."""
    ctes = [
        """words AS (
  SELECT w AS word, count(*) AS freq
  FROM (
    SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                              t -> t <> '')) AS w
    FROM documents
  )
  GROUP BY 1
)""",
        "seg0 AS (SELECT regexp_replace(word, '(.)', ' \\1 ', 'g') AS seg, freq FROM words)",
    ]
    for i in range(k):
        ctes.append(f"""pairs{i} AS (
  SELECT u.p.lhs AS lhs, u.p.rhs AS rhs, sum(freq) AS n
  FROM (SELECT string_split(trim(seg, ' '), '  ') AS syms, freq FROM seg{i}),
       UNNEST(list_transform(range(1, len(syms)),
                             j -> struct_pack(lhs := syms[j], rhs := syms[j+1]))) AS u(p)
  GROUP BY 1, 2
)""")
        ctes.append(
            f"best{i} AS (SELECT lhs, rhs, lhs || rhs AS merged, n "
            f"FROM pairs{i} ORDER BY n DESC, lhs, rhs LIMIT 1)"
        )
        ctes.append(f"""seg{i + 1} AS (
  SELECT replace(seg,
                 ' ' || (SELECT lhs FROM best{i}) || '  ' || (SELECT rhs FROM best{i}) || ' ',
                 ' ' || (SELECT merged FROM best{i}) || ' ') AS seg, freq
  FROM seg{i}
)""")
    return "WITH " + ",\n".join(ctes)


def _sql_bpe_merges(k: int = 3) -> str:
    unions = "\nUNION ALL ".join(
        f"SELECT {i + 1} AS rank, lhs, rhs, merged, CAST(n AS BIGINT) AS n FROM best{i}"
        for i in range(k)
    )
    return _sql_bpe_ctes(k) + "\n" + unions


SQL_BPE_MERGES = _sql_bpe_merges()


def q_bpe_vocab(spark: SparkSession, sf: str) -> DataFrame:
    """Top-20 subwords (by corpus frequency) of the vocabulary AFTER the 3
    trained merges — the trained tokenizer's effective token inventory.
    Runs on the final vocab-sized segmented frame; the oracle re-derives
    the merges AND the re-segmentation independently."""
    docs = load_table(spark, sf, "documents")
    _, vocab = tokenizer_train.train_bpe(docs, n_merges=3)
    return (
        vocab.select(
            F.explode(F.split(F.trim(F.col("seg")), "  ")).alias("subword"),
            "freq",
        )
        .groupBy("subword")
        .agg(F.sum("freq").alias("n"))
        .orderBy(F.col("n").desc(), F.col("subword"))
        .limit(20)
    )


SQL_BPE_VOCAB = _sql_bpe_ctes(3) + """
SELECT subword, CAST(sum(freq) AS BIGINT) AS n
FROM (
  SELECT unnest(string_split(trim(seg, ' '), '  ')) AS subword, freq
  FROM seg3
)
GROUP BY 1
ORDER BY n DESC, subword
LIMIT 20
"""


SQL_BPE_MERGE_CANDIDATES = """
WITH words AS (
  SELECT w AS word, count(*) AS freq
  FROM (
    SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                              t -> t <> '')) AS w
    FROM documents
  )
  GROUP BY 1
),
pairs AS (
  SELECT substring(word, CAST(i AS INT), 2) AS pair, freq
  FROM words, unnest(range(1, length(word))) AS t(i)
  WHERE length(word) >= 2
)
SELECT pair, CAST(sum(freq) AS BIGINT) AS n
FROM pairs
GROUP BY 1
ORDER BY n DESC, pair
LIMIT 50
"""


# --- Z-order (Morton) layout keys ------------------------------------------------

def q_zorder_keys(spark: SparkSession, sf: str) -> DataFrame:
    """Morton key + target Z-file for events, interleaving (user_id mod
    1024, minute-of-day): the write-time clustering key that gives BOTH
    columns min/max pruning (operators/layout.py). Aggregated per Z-file
    so the result is small and the whole key computation is exercised."""
    ev = load_table(spark, sf, "events")
    keyed = layout.zorder_keys(
        ev.withColumn("zx", F.col("user_id") % 1024)
        .withColumn("zy", (F.hour("ts") * 60 + F.minute("ts")).cast("bigint")),
        "zx",
        "zy",
        # minute-of-day spans 0..1439 — 11 bits; 10 would alias evening
        # minutes (>=1024) onto morning ones and break min/max pruning.
        bits=11,
        file_bits=6,
    )
    return keyed.groupBy("zfile").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("morton").alias("min_morton"),
        F.max("morton").alias("max_morton"),
        F.sum("morton").alias("sum_morton"),
    )


_MORTON_SQL = layout.morton_key_sql("(user_id % 1024)", "(hour(ts) * 60 + minute(ts))", bits=11)

SQL_ZORDER_KEYS = f"""
WITH keyed AS (
  SELECT {_MORTON_SQL} AS morton
  FROM events
)
SELECT morton >> 16 AS zfile,
       count(*) AS n_rows,
       min(morton) AS min_morton,
       max(morton) AS max_morton,
       CAST(sum(morton) AS BIGINT) AS sum_morton
FROM keyed
GROUP BY 1
"""


# --- Group-wise regression -------------------------------------------------------

def q_groupwise_regression(spark: SparkSession, sf: str) -> DataFrame:
    """Per-returnflag OLS of extendedprice on quantity via the built-in
    regr_* aggregates (operators/regression.py — the pure-JVM one-shuffle
    path; the applyInPandas generalization is tested equivalent)."""
    li = load_table(spark, sf, "lineitem")
    return regression.groupwise_ols_expr(
        li, ["l_returnflag"], x="l_quantity", y="l_extendedprice"
    )


SQL_GROUPWISE_REGRESSION = """
SELECT l_returnflag,
       round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
       round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
       round(regr_r2(l_extendedprice, l_quantity), 4) AS r2,
       regr_count(l_extendedprice, l_quantity) AS n
FROM lineitem
GROUP BY 1
"""


# --- Embedding centroids (mean-pool per label) -----------------------------------

def q_label_centroids(spark: SparkSession, sf: str) -> DataFrame:
    """Per-label embedding centroid, flattened to (label, pos, avg value).

    posexplode → groupBy(label, pos) → avg: linear in rows × dim, partial
    aggregation map-side, one shuffle keyed (label, pos) — the standard
    distributed mean-pool (also how IVF list centroids re-estimate).
    Rounded for cross-engine float stability."""
    emb = load_table(spark, sf, "embeddings")
    return (
        emb.select(
            "label", F.posexplode(F.col("embedding").cast("array<double>"))
        )
        .groupBy("label", F.col("pos").alias("dim"))
        .agg(
            F.round(F.avg("col"), 6).alias("centroid_val"),
            F.count(F.lit(1)).alias("n_vectors"),
        )
    )


SQL_LABEL_CENTROIDS = """
SELECT label,
       CAST(i - 1 AS INT) AS dim,
       round(avg(CAST(embedding[CAST(i AS INT)] AS DOUBLE)), 6) AS centroid_val,
       count(*) AS n_vectors
FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
GROUP BY 1, 2
"""



def q_bpe_encode_corpus(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus encoding with the TRAINED tokenizer: train 3 merges
    (identical recursion to bpe_merges), then apply the merge list to
    every document's tokens (operators/tokenizer_train.bpe_segment) and
    report per-doc token/subword counts. Closes the loop the training
    queries leave open — the oracle independently re-derives the merges
    AND replays the encoder over the corpus, so a wrong merge order or a
    broken replace-encoding shows up as a value mismatch."""
    from pyspark.sql import functions as F

    from sentiment_analysis_bigdata_spark.functions import text as TXT

    docs = load_table(spark, sf, "documents")
    merges, _ = tokenizer_train.train_bpe(docs, n_merges=3)
    pairs = [(lhs, rhs) for _r, lhs, rhs, _m, _n in merges]
    toks = docs.select(
        "doc_id", F.explode(TXT.tokenize_nonempty("text")).alias("t")
    )
    enc = toks.select(
        "doc_id",
        F.size(
            F.element_at(
                tokenizer_train.bpe_segment(F.array(F.col("t")), pairs), 1
            )
        ).alias("n_sub"),
    )
    return enc.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("n_sub").alias("n_subwords"),
    )


def _sql_bpe_encode_corpus() -> str:
    from sentiment_analysis_bigdata_spark.workloads.text_q import SQL_TOKS

    enc = "regexp_replace(t, '(.)', ' \\1 ', 'g')"
    for i in range(3):
        enc = (
            f"replace({enc}, ' ' || (SELECT lhs FROM best{i}) || '  ' || "
            f"(SELECT rhs FROM best{i}) || ' ', ' ' || (SELECT merged FROM best{i}) || ' ')"
        )
    return _sql_bpe_ctes(3) + f""",
docs_toks AS (
  SELECT doc_id, unnest({SQL_TOKS}) AS t FROM documents
),
enc AS (
  SELECT doc_id, len(string_split(trim({enc}, ' '), '  ')) AS n_sub
  FROM docs_toks
)
SELECT doc_id, count(*) AS n_tokens, CAST(sum(n_sub) AS BIGINT) AS n_subwords
FROM enc GROUP BY 1
"""


SQL_BPE_ENCODE_CORPUS = _sql_bpe_encode_corpus()


def q_bpe_encode_arrow(spark: SparkSession, sf: str) -> DataFrame:
    """The Arrow-kernel corpus encoder
    (operators/tokenizer_train.bpe_encode_kernel — the scale path for
    large merge lists, where the expression form's per-merge replace
    chain stops being viable) run with the SAME 3 trained merges and
    per-doc aggregates as ``bpe_encode_corpus``, so the kernel's min-rank
    loop is VALUE-CHECKED against the oracle's independent unrolled-CTE
    replay — any divergence between the kernel and Sennrich replace
    semantics is a hash mismatch here."""
    from pyspark.sql import functions as F

    from sentiment_analysis_bigdata_spark.functions import text as TXT
    from sentiment_analysis_bigdata_spark.sources import ensure_min_parallelism

    docs = load_table(spark, sf, "documents")
    merges, _ = tokenizer_train.train_bpe(docs, n_merges=3)
    pairs = [(lhs, rhs) for _r, lhs, rhs, _m, _n in merges]
    toks = ensure_min_parallelism(
        docs.select("doc_id", TXT.tokenize_nonempty("text").alias("toks")),
        spark.sparkContext.defaultParallelism,
        "doc_id",
    )
    enc = tokenizer_train.bpe_encode_kernel(toks, pairs)
    return enc.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.aggregate(
            F.transform(F.col("subwords"), lambda s: F.size(s)),
            F.lit(0).cast("bigint"),
            lambda a, b: a + b,
        ).alias("n_subwords"),
    ).where(F.col("n_tokens") > 0)


BPE_ENC_1K_MERGES = 1000


def q_bpe_encode_1k(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end LARGE-vocabulary tokenization: train 1,000 merges on
    the trigram corpus via the hybrid word-count path
    (``bpe_merges_1k``'s recipe), then encode the WHOLE corpus with the
    Arrow kernel — the full production loop (train → encode) at a
    realistic vocab size, which the expression encoder cannot express
    (a 1,000-replace chain). Returns corpus totals: tokens, subwords,
    compression ratio, distinct subword types. Deterministic (the
    kernel's min-rank loop is data-only); rows-only — the 1,000-merge
    recursion is not SQL-replayable, and the kernel's exactness is
    oracle-proven at n=3 (``bpe_encode_arrow``) plus pytest-proven
    against the expression path at the saturation vocabulary. The golden
    corpus totals below are additionally reproduced by an independent
    pure-Python min-rank encoder over the same 1,000 merges
    (test_bpe_1k_vs_reference_impl)."""
    from pyspark.sql import functions as F

    from sentiment_analysis_bigdata_spark.sources import ensure_min_parallelism

    tri = _trigram_corpus(spark, sf)
    # barrier the VOCAB-sized word-count frame (r13, guide §2.3/§5): it
    # is consumed twice (the training collect and the n_tokens total) and
    # each execution replays the full corpus tokenize+explode+agg pass;
    # ~30k rows at sf0.1, Heaps-sublinear at scale (max_rows-capped)
    wf = barrier_lazy(tokenizer_train.word_frequencies(tri))
    merges = tokenizer_train.train_bpe_from_word_counts(
        wf, n_merges=BPE_ENC_1K_MERGES
    )
    pairs = [(lhs, rhs) for _r, lhs, rhs, _m, _n in merges]
    toks = ensure_min_parallelism(
        tri.select(F.array(F.col("text")).alias("toks")),
        spark.sparkContext.defaultParallelism,
        "text",
    )
    enc = tokenizer_train.bpe_encode_kernel(toks, pairs)
    per_row = enc.select(
        F.explode(F.element_at("subwords", 1)).alias("sub")
    )
    # n_tokens = Σ freq over the barriered word counts: every trigram row
    # is exactly one whitespace-free non-empty token, so this equals the
    # third full-corpus count(1) pass it replaces row-for-row (and the
    # golden-witness assert below fails loud on any drift)
    summary = per_row.agg(
        F.count(F.lit(1)).alias("n_subwords"),
        F.count_distinct("sub").alias("n_subword_types"),
    ).crossJoin(
        F.broadcast(wf.agg(F.sum("freq").alias("n_tokens")))
    ).select(
        "n_tokens",
        "n_subwords",
        "n_subword_types",
        F.round(F.col("n_subwords") / F.col("n_tokens"), 4).alias(
            "subwords_per_token"
        ),
    )
    # One-row bounded collect (policy S6) to pin the golden witnesses —
    # the only check this no-oracle query has beyond its row count.
    row = summary.collect()[0].asDict()
    pinned = _assert_golden(row, _BPE_ENC_1K_GOLDEN, sf, "bpe_encode_1k")
    return spark.createDataFrame(
        [(row["n_tokens"], row["n_subwords"], row["n_subword_types"],
          row["subwords_per_token"], pinned)],
        "n_tokens bigint, n_subwords bigint, n_subword_types bigint,"
        " subwords_per_token double, witness_pinned boolean",
    )


def q_tokenizer_fertility(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenizer FERTILITY by corpus source — subwords emitted per word,
    the standard tokenizer-quality metric (high fertility on a source
    means the vocabulary under-serves it, inflating its effective token
    cost in the mixture). Trains the oracle-sized 3-merge model
    (identical recursion to bpe_merges) and encodes with the Arrow
    kernel; the oracle re-derives the merges AND replays the encoder,
    then aggregates per source, so the whole train→encode→report loop is
    value-checked."""
    from pyspark.sql import functions as F

    from sentiment_analysis_bigdata_spark.functions import text as TXT
    from sentiment_analysis_bigdata_spark.sources import ensure_min_parallelism

    docs = load_table(spark, sf, "documents")
    merges, _ = tokenizer_train.train_bpe(docs, n_merges=3)
    pairs = [(lhs, rhs) for _r, lhs, rhs, _m, _n in merges]
    toks = ensure_min_parallelism(
        docs.select("source", TXT.tokenize_nonempty("text").alias("toks")),
        spark.sparkContext.defaultParallelism,
        "source",
    )
    enc = tokenizer_train.bpe_encode_kernel(toks, pairs)
    per_tok = enc.select(
        "source", F.explode("subwords").alias("subs")
    ).select("source", F.size("subs").alias("n_sub"))
    return (
        per_tok.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("n_sub").alias("n_subwords"),
            F.round(F.avg("n_sub"), 6).alias("fertility"),
        )
        .orderBy("source")
    )


def _sql_tokenizer_fertility() -> str:
    from sentiment_analysis_bigdata_spark.workloads.text_q import SQL_TOKS

    enc = "regexp_replace(t, '(.)', ' \\1 ', 'g')"
    for i in range(3):
        enc = (
            f"replace({enc}, ' ' || (SELECT lhs FROM best{i}) || '  ' || "
            f"(SELECT rhs FROM best{i}) || ' ', ' ' || (SELECT merged FROM best{i}) || ' ')"
        )
    return _sql_bpe_ctes(3) + f""",
docs_toks AS (
  SELECT source, unnest({SQL_TOKS}) AS t FROM documents
),
enc AS (
  SELECT source, len(string_split(trim({enc}, ' '), '  ')) AS n_sub
  FROM docs_toks
)
SELECT source, count(*) AS n_tokens,
       CAST(sum(n_sub) AS BIGINT) AS n_subwords,
       round(avg(n_sub), 6) AS fertility
FROM enc GROUP BY 1 ORDER BY 1
"""


SQL_TOKENIZER_FERTILITY = _sql_tokenizer_fertility()


def q_wordpiece_candidates(spark: SparkSession, sf: str) -> DataFrame:
    """Top-20 WordPiece-scored merge candidates (round 0): pairs ranked by
    the likelihood-gain ratio count(ab)/(count(a)·count(b)) rather than
    BPE's raw count — the Schuster-Nakajima scoring rule. Both the pair
    and unigram aggregates are vocab-sized; only n ≥ 5 pairs rank (the
    ratio is noise for hapax pairs)."""
    docs = load_table(spark, sf, "documents")
    vocab = tokenizer_train.segment_words(
        tokenizer_train.word_frequencies(docs, "text")
    )
    scored = tokenizer_train.wordpiece_scores(vocab).filter(F.col("n") >= 5)
    return scored.orderBy(
        F.col("score_ln").desc(), F.col("lhs"), F.col("rhs")
    ).limit(20)


SQL_WORDPIECE_CANDIDATES = """
WITH words AS (
  SELECT w AS word, count(*) AS freq
  FROM (
    SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                              t -> t <> '')) AS w
    FROM documents
  )
  GROUP BY 1
),
pairs AS (
  SELECT substring(word, CAST(i AS INT), 1) AS lhs,
         substring(word, CAST(i + 1 AS INT), 1) AS rhs,
         CAST(sum(freq) AS BIGINT) AS n
  FROM words, unnest(range(1, length(word))) AS t(i)
  WHERE length(word) >= 2
  GROUP BY 1, 2
  HAVING sum(freq) >= 5
),
syms AS (
  SELECT substring(word, CAST(i AS INT), 1) AS sym, CAST(sum(freq) AS BIGINT) AS n_sym
  FROM words, unnest(range(1, length(word) + 1)) AS t(i)
  GROUP BY 1
)
SELECT p.lhs, p.rhs, p.n, a.n_sym AS n_lhs, b.n_sym AS n_rhs,
       round(ln(p.n) - ln(a.n_sym) - ln(b.n_sym), 6) AS score_ln
FROM pairs p
JOIN syms a ON a.sym = p.lhs
JOIN syms b ON b.sym = p.rhs
ORDER BY score_ln DESC, p.lhs, p.rhs
LIMIT 20
"""


UNI_MAX_PIECE = 4
UNI_MAX_WORD = 12
UNI_MIN_FREQ = 5
UNI_MAX_PIECES = 2000


def q_unigram_segment(spark: SparkSession, sf: str) -> DataFrame:
    """Unigram-LM (SentencePiece-style) Viterbi segmentation: piece vocab
    = top-2000 substrings (≤ 4 chars, freq ≥ 5) + full alphabet with
    ln(n/total) log-probs; every distinct corpus word ≤ 12 chars gets its
    maximum-likelihood piece split (operators/tokenizer_unigram.py). The
    oracle re-derives the vocabulary AND replays the DP — 12 unrolled
    MATERIALIZED steps with the identical smallest-split tie-break."""
    from sentiment_analysis_bigdata_spark.operators import tokenizer_unigram as TU

    docs = load_table(spark, sf, "documents")
    vocab = TU.piece_vocab(
        docs,
        max_len=UNI_MAX_PIECE,
        min_freq=UNI_MIN_FREQ,
        max_pieces=UNI_MAX_PIECES,
    )
    words = tokenizer_train.word_frequencies(docs, "text").filter(
        F.length("word") <= UNI_MAX_WORD
    )
    seg = TU.viterbi_segment(words, vocab, max_piece_len=UNI_MAX_PIECE)
    return seg.select("word", "seg", F.round("logp", 6).alias("logp"))


def _sql_unigram_segment() -> str:
    mp, mw, mf, mx = UNI_MAX_PIECE, UNI_MAX_WORD, UNI_MIN_FREQ, UNI_MAX_PIECES
    ctes = [
        """words AS MATERIALIZED (
  SELECT w AS word, count(*) AS freq
  FROM (
    SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                              t -> t <> '')) AS w
    FROM documents
  )
  GROUP BY 1
)""",
        f"""cand AS MATERIALIZED (
  SELECT substring(word, CAST(i AS INT), CAST(l AS INT)) AS piece,
         sum(freq) AS n
  FROM words,
       unnest(range(1, {mp + 1})) AS tl(l),
       unnest(range(1, length(word) - l + 2)) AS ti(i)
  GROUP BY 1
)""",
        "tot AS MATERIALIZED (SELECT CAST(sum(n) AS DOUBLE) AS total FROM cand)",
        f"""kept AS MATERIALIZED (
  SELECT piece, n FROM cand WHERE length(piece) = 1
  UNION ALL
  SELECT piece, n FROM (
    SELECT piece, n FROM cand
    WHERE length(piece) >= 2 AND n >= {mf}
    ORDER BY n DESC, piece ASC LIMIT {mx}
  )
)""",
        """vocab AS MATERIALIZED (
  SELECT piece, round(ln(n / total), 12) AS logp FROM kept, tot
)""",
        f"wsel AS MATERIALIZED (SELECT word FROM words WHERE length(word) <= {mw})",
        "b0 AS MATERIALIZED (SELECT word, CAST(0.0 AS DOUBLE) AS best, '' AS seg FROM wsel)",
    ]
    for i in range(1, mw + 1):
        js = range(max(0, i - mp), i)
        branches = []
        for j in js:
            piece = f"substring(b.word, {j + 1}, {i - j})"
            branches.append(
                f"""  SELECT b.word, b.best + v.logp AS best,
         CASE WHEN b.seg = '' THEN {piece}
              ELSE b.seg || '|' || {piece} END AS seg,
         {j} AS j
  FROM b{j} b JOIN vocab v ON v.piece = {piece}
  WHERE length(b.word) >= {i}"""
            )
        ctes.append(
            f"""b{i} AS MATERIALIZED (
  SELECT word, best, seg FROM (
    SELECT word, best, seg,
           row_number() OVER (PARTITION BY word ORDER BY best DESC, j ASC) AS rn
    FROM (
{chr(10).join("  UNION ALL" + chr(10) + br if k else br for k, br in enumerate(branches))}
    )
  ) WHERE rn = 1
)"""
        )
    finals = "\n  UNION ALL\n".join(
        f"  SELECT b.word, b.seg, round(b.best, 6) AS logp "
        f"FROM b{i} b WHERE length(b.word) = {i}"
        for i in range(1, mw + 1)
    )
    return "WITH " + ",\n".join(ctes) + f"\nSELECT * FROM (\n{finals}\n)"


SQL_UNIGRAM_SEGMENT = _sql_unigram_segment()


def q_quantile_bins(spark: SparkSession, sf: str) -> DataFrame:
    """Equi-depth feature discretization of order totalprice: exact
    decile boundaries (one constant-width aggregate — NOT a global
    NTILE sort, which would single-partition at 100 TB), rounded to 6
    decimals in both engines, then a codegen'd strictly-greater
    boundary count assigns each row its bin. Per-bin count / min / max /
    sum (sums of 2-decimal money are exact multiples of 0.01, so
    round(…, 2) is cross-engine safe; avg is deliberately avoided).

    DuckDB ``quantile_cont`` and Spark ``percentile`` share the linear
    interpolation definition (verified value-identical at 6 dp)."""
    orders = load_table(spark, sf, "orders")
    bounds = orders.agg(
        F.transform(
            F.percentile(
                "o_totalprice",
                F.lit([i / 10 for i in range(1, 10)]).cast("array<double>"),
            ),
            lambda x: F.round(x, 6),
        ).alias("bounds")
    )
    # broadcast the 1-row bounds frame: a bare crossJoin compiles to
    # CartesianProduct even with a single-row side; the broadcast form
    # is a BroadcastNestedLoopJoin the fact scan streams through
    binned = orders.crossJoin(F.broadcast(bounds)).select(
        F.aggregate(
            "bounds",
            F.lit(0),
            lambda acc, b: acc
            + F.when(F.col("o_totalprice") > b, F.lit(1)).otherwise(F.lit(0)),
        ).alias("bin"),
        "o_totalprice",
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


SQL_QUANTILE_BINS = """
WITH b AS (
  SELECT list_transform(quantile_cont(o_totalprice,
           [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
         x -> round(x, 6)) AS bounds
  FROM orders
),
binned AS (
  SELECT CAST(len(list_filter(b.bounds, x -> o_totalprice > x)) AS INT) AS bin,
         o_totalprice
  FROM orders CROSS JOIN b
)
SELECT bin,
       count(*) AS n_orders,
       round(min(o_totalprice), 2) AS min_price,
       round(max(o_totalprice), 2) AS max_price,
       round(sum(o_totalprice), 2) AS sum_price
FROM binned
GROUP BY 1
"""


BPE_1K_MERGES = 1000

# Golden witnesses for the two 1,000-merge queries (VERDICT r5 #3). These
# are the ONLY registry rows with no SQL oracle (a 1,000-merge recursion is
# not replayable as unrolled CTEs), so their one-row summaries pin their
# data-deterministic scalars against constants measured once per fixture
# SF and RAISE on mismatch — a silent semantic break in the trainer or the
# Arrow encoder can no longer hide behind a green row count. spark_jobs is
# deliberately NOT pinned (it varies with input partition count /
# SPARK_GRAFT_CPUS, not with semantics). Keyed by the sfX.Y token of the
# data dir AND gated on the fixture's documents.parquet byte size (a
# regenerated fixture at the same SF — new seed or generator tweak — would
# otherwise make these raise everywhere, bench extras included); unknown
# SFs, fingerprint mismatches, and SPARK_GRAFT_SKIP_GOLDEN=1 skip the
# assertion and report witness_pinned=false.
_BPE_1K_GOLDEN: dict[str, dict[str, object]] = {
    "0.001": {"n_merges": 1000, "first_merge": "er", "last_merge": "part_slow",
              "merged_mass": 363530},
    "0.01": {"n_merges": 1000, "first_merge": "er", "last_merge": "spark_merge",
             "merged_mass": 354027},
    "0.1": {"n_merges": 1000, "first_merge": "er", "last_merge": "a_stream",
            "merged_mass": 3519664},
}

_BPE_ENC_1K_GOLDEN: dict[str, dict[str, object]] = {
    "0.001": {"n_tokens": 26939, "n_subwords": 53997, "n_subword_types": 928},
    "0.01": {"n_tokens": 26165, "n_subwords": 52443, "n_subword_types": 926},
    "0.1": {"n_tokens": 260704, "n_subwords": 526466, "n_subword_types": 915},
}


# Content fingerprint (md5 of the whole file — the fixtures are <1 MB, so
# this is cheaper than one Spark job) of each fixture SF's documents.parquet
# at golden-measurement time: detects a regenerated fixture even when the
# new file happens to land on the same byte size.
_GOLDEN_DOCS_MD5: dict[str, str] = {
    "0.001": "a9ad0e7f18501085037a2ff6f023be4b",
    "0.01": "b733c5a4f655b98c6136fbe529e33dc4",
    "0.1": "dc9fbed08ada35e8c6330d6dc891c6cb",
}


def _sf_token(sf_dir: str) -> str | None:
    import re as _re

    m = _re.search(r"sf([0-9.]+)", sf_dir)
    return m.group(1) if m else None


def _fixture_matches(sf_dir: str, token: str) -> bool:
    """True iff the fixture is byte-identical to golden-measurement time.

    A *missing* fixture raises (a broken test environment must surface, not
    silently disable the pins); a *present-but-different* fixture returns
    False (regenerated data — pins would compare against the wrong corpus,
    so they are skipped and the harness reports the query as unpinned).
    """
    import hashlib as _hashlib
    import os as _os

    expected = _GOLDEN_DOCS_MD5.get(token)
    if expected is None:
        return False
    path = _os.path.join(sf_dir, "documents.parquet")
    if not _os.path.exists(path):
        raise FileNotFoundError(
            f"golden fixture absent: {path} (cannot decide whether pins apply)"
        )
    h = _hashlib.md5()
    with open(path, "rb") as fh:
        for chunk in iter(lambda: fh.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest() == expected


def _assert_golden(row: dict, golden: dict[str, dict[str, object]],
                   sf_dir: str, query: str) -> bool:
    """Raise if a pinned witness drifted; return whether pins applied."""
    import os as _os

    if _os.environ.get("SPARK_GRAFT_SKIP_GOLDEN") == "1":
        return False
    token = _sf_token(sf_dir) or ""
    pins = golden.get(token)
    if pins is None or not _fixture_matches(sf_dir, token):
        return False
    bad = {k: (row[k], v) for k, v in pins.items() if row[k] != v}
    if bad:
        raise ValueError(
            f"{query}: golden witness mismatch at {sf_dir}: "
            + ", ".join(f"{k}: got {g!r}, pinned {w!r}" for k, (g, w) in bad.items())
        )
    return True


def _trigram_corpus(spark: SparkSession, sf: str) -> DataFrame:
    """A realistic-merge-space training corpus DERIVED from the fixture.

    The raw documents table has only 31 distinct words (lorem vocabulary)
    — character-level BPE saturates after ~90 merges. Each adjacent word
    trigram, joined by '_', becomes one token (a coarser pre-tokenizer;
    ~16k distinct 'words' at sf0.01, ~30k at sf0.1), so 1,000 merges run
    against genuinely corpus-shaped Zipfian counts."""
    docs = load_table(spark, sf, "documents")
    return docs.select(
        F.split(F.lower(F.col("text")), r"\s+").alias("ts")
    ).select(
        F.explode(
            F.when(
                F.size("ts") >= 3,
                F.expr(
                    "transform(sequence(1, size(ts) - 2),"
                    " i -> array_join(slice(ts, i, 3), '_'))"
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("text")
    )


def q_bpe_merges_1k(spark: SparkSession, sf: str) -> DataFrame:
    """BPE training at REALISTIC vocabulary scale: 1,000 merges — the r4
    VERDICT ask to demonstrate large-vocab training in bounded wall time
    and record the jobs-per-merge figure.

    Path: the HYBRID trainer (tokenizer_train.train_bpe_from_word_counts)
    — the corpus is reduced once, distributed, to the vocab-sized
    (word, freq) table (Heaps' law: sublinear in corpus size; guarded by
    an explicit max_rows cap), then the exact merge loop runs on the
    driver, exactly as HuggingFace tokenizers / SentencePiece train. The
    whole 1,000-merge recursion costs a CONSTANT number of Spark jobs
    (measured below via a job group, not asserted from the code), so
    jobs_per_merge ~ 3/1000 — versus the distributed batched loop
    (train_bpe), whose conservative conflict guard degrades to ~0.85
    driver rounds PER MERGE on this corpus (symbol-sharing chains
    serialize the batch; measured, see the train_bpe_from_word_counts
    docstring). Merge-for-merge equality of the two paths is pytest-proven
    on tie-heavy fixtures (tests/test_train_ops.py) and oracle-proven at
    n=3 (bpe_merges); the FULL 1,000-merge sequence is additionally
    verified merge-by-merge against an independent naive-recount Sennrich
    implementation on this very corpus
    (test_bpe_1k_vs_reference_impl — VERDICT r7 #2's independent
    evidence). No SQL oracle — replaying a 1,000-merge recursion as
    unrolled CTEs is infeasible.

    Returns a one-row summary: merges achieved, Spark jobs used,
    jobs-per-merge, vocab rows collected, and the first/last merged
    symbols + total merged mass as a determinism witness (everything is
    data-deterministic, so reruns are value-stable)."""
    tri = _trigram_corpus(spark, sf)
    sc = spark.sparkContext
    group = "bpe_merges_1k"
    sc.setJobGroup(group, "hybrid BPE 1k merges", interruptOnCancel=False)
    try:
        wf = tokenizer_train.word_frequencies(tri)
        merges = tokenizer_train.train_bpe_from_word_counts(
            wf, n_merges=BPE_1K_MERGES
        )
    finally:
        sc.setJobGroup("", "")
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    n = len(merges)
    row = {
        "n_merges": n,
        "spark_jobs": jobs,
        "jobs_per_merge": round(jobs / max(n, 1), 4),
        "first_merge": merges[0][3] if merges else None,
        "last_merge": merges[-1][3] if merges else None,
        "merged_mass": int(sum(m[4] for m in merges)),
    }
    pinned = _assert_golden(row, _BPE_1K_GOLDEN, sf, "bpe_merges_1k")
    return spark.createDataFrame(
        [tuple(row.values()) + (pinned,)],
        "n_merges bigint, spark_jobs bigint, jobs_per_merge double,"
        " first_merge string, last_merge string, merged_mass bigint,"
        " witness_pinned boolean",
    )


QUERIES = {
    "bpe_merge_candidates": (q_bpe_merge_candidates, SQL_BPE_MERGE_CANDIDATES),
    "bpe_merges_1k": (q_bpe_merges_1k, None),
    "quantile_bins": (q_quantile_bins, SQL_QUANTILE_BINS),
    "wordpiece_candidates": (q_wordpiece_candidates, SQL_WORDPIECE_CANDIDATES),
    "unigram_segment": (q_unigram_segment, SQL_UNIGRAM_SEGMENT),
    "bpe_merges": (q_bpe_merges, SQL_BPE_MERGES),
    "bpe_vocab": (q_bpe_vocab, SQL_BPE_VOCAB),
    "bpe_encode_corpus": (q_bpe_encode_corpus, SQL_BPE_ENCODE_CORPUS),
    "bpe_encode_arrow": (q_bpe_encode_arrow, SQL_BPE_ENCODE_CORPUS),
    "tokenizer_fertility": (q_tokenizer_fertility, SQL_TOKENIZER_FERTILITY),
    "bpe_encode_1k": (q_bpe_encode_1k, None),
    "zorder_keys": (q_zorder_keys, SQL_ZORDER_KEYS),
    "groupwise_regression": (q_groupwise_regression, SQL_GROUPWISE_REGRESSION),
    "label_centroids": (q_label_centroids, SQL_LABEL_CENTROIDS),
}
