"""Corpus-pipeline (LLM-data curation) end-to-end tests."""

from __future__ import annotations

import pytest

from sentiment_analysis_bigdata_spark.apps import corpus


@pytest.fixture(scope="module")
def corpus_parquet(spark, tmp_path_factory):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog and it was a good day for all"),
        (1, "the quick brown fox jumps over the lazy dog and it was a good day for all"),  # exact dup
        (2, "The  Quick brown fox jumps over the lazy dog and it was a good day for all"),  # norm dup
        (3, "the quick brown fox jumps over the lazy cat and it was a good day for all"),  # near dup
        (4, "el perro y el gato en la casa de los grandes y un dia por una"),
        (5, "zz"),  # low quality, short
        (6, "completely different text about the spark engine and all of the data in it"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path_factory.mktemp("corpus") / "docs.parquet")
    df.write.parquet(path)
    return path


def test_annotate(spark, corpus_parquet):
    df = spark.read.parquet(corpus_parquet)
    ann = corpus.annotate_corpus(df)
    row = {r["doc_id"]: r for r in ann.collect()}
    assert row[0]["n_tokens"] == len(
        "the quick brown fox jumps over the lazy dog and it was a good day for all".split()
    )
    assert row[0]["lang_guess"] == "en"
    assert row[4]["lang_guess"] == "es"
    assert row[0]["fingerprint"] == row[2]["fingerprint"]  # normalized collision


def test_clean_corpus(spark, corpus_parquet, tmp_path):
    out = str(tmp_path / "clean")
    stats = corpus.clean_corpus(
        spark, corpus_parquet, out, min_quality=0.3, min_tokens=3, langs=["en"]
    )
    assert stats["rows_in"] == 7
    kept = spark.read.parquet(out)
    ids = sorted(r["doc_id"] for r in kept.select("doc_id").collect())
    assert 5 not in ids  # low quality dropped
    assert 4 not in ids  # spanish dropped by lang filter
    assert 0 in ids and 6 in ids
    assert stats["rows_out"] == len(ids)


def test_clean_corpus_boilerplate_pass(spark, corpus_parquet, tmp_path):
    # raw-text df: "the" is in 4/7 docs (doc 2 capitalizes it, doc 4 is
    # Spanish) >= 50%; with the boilerplate pass on, every occurrence of
    # such segments is stripped from the kept text; rare segments survive
    out = str(tmp_path / "clean_bp")
    stats = corpus.clean_corpus(
        spark, corpus_parquet, out, min_tokens=1, boilerplate_pct=50
    )
    assert stats["segments_dropped"] > 0
    kept = {r["doc_id"]: r["text"] for r in spark.read.parquet(out).collect()}
    assert "the" not in kept[0].split()
    assert "spark" in kept[6].split()
    # schema unchanged: text column rewritten in place, no helper columns
    cols = set(spark.read.parquet(out).columns)
    assert "text" in cols and "text_deduped" not in cols and "n_kept" not in cols
    # off by default: no segments_dropped key, text untouched
    out2 = str(tmp_path / "clean_nobp")
    stats2 = corpus.clean_corpus(spark, corpus_parquet, out2, min_tokens=1)
    assert "segments_dropped" not in stats2
    kept2 = {r["doc_id"]: r["text"] for r in spark.read.parquet(out2).collect()}
    assert "the" in kept2[0].split()
    assert stats2["rows_out"] == stats["rows_out"]  # pass rewrites, never drops rows


@pytest.mark.parametrize(
    "method,expect_removed_near",
    [("exact", False), ("minhash", True), ("simhash", True)],
)
def test_dedup_corpus(spark, corpus_parquet, tmp_path, method, expect_removed_near):
    out = str(tmp_path / f"dedup_{method}")
    stats = corpus.dedup_corpus(
        spark, corpus_parquet, out, method=method, threshold=0.6, max_hamming=12
    )
    kept = sorted(
        r["doc_id"] for r in spark.read.parquet(out).select("doc_id").collect()
    )
    # exact/normalized dups (1, 2) always collapse into 0
    assert 1 not in kept and 2 not in kept and 0 in kept
    if expect_removed_near:
        assert 3 not in kept  # near-dup of 0 removed by sketch methods
    else:
        assert 3 in kept
    assert stats["rows_out"] == len(kept)
    assert stats["rows_in"] == 7


def test_cluster_dedup_corpus(spark, corpus_parquet, tmp_path):
    out = str(tmp_path / "cdedup")
    stats = corpus.cluster_dedup_corpus(
        spark, corpus_parquet, out, method="minhash", threshold=0.6
    )
    kept = sorted(
        r["doc_id"] for r in spark.read.parquet(out).select("doc_id").collect()
    )
    # cluster {0,1,2,3} collapses to its min id 0; singletons survive
    assert kept == [0, 4, 5, 6]
    assert stats["rows_out"] == 4
    assert stats["method"] == "cluster-minhash"


def test_pack_corpus(spark, corpus_parquet, tmp_path):
    out = str(tmp_path / "packed")
    stats = corpus.pack_corpus(spark, corpus_parquet, out, max_tokens=20)
    packed = spark.read.parquet(out)
    assert stats["rows_in"] == 7
    assert packed.count() == 7  # every doc exactly once
    assert {"shard_id", "n_tokens", "shard_fill", "text"} <= set(packed.columns)
    from pyspark.sql import functions as F

    assert packed.filter((F.col("shard_fill") > 20) & (~F.col("oversize"))).count() == 0


def test_mix_corpus(spark, tmp_path):
    rows = [(i, f"document number {i} with words", "en" if i % 4 else "fr")
            for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    src = str(tmp_path / "src.parquet")
    df.write.parquet(src)
    out = str(tmp_path / "mixed")

    stats = corpus.mix_corpus(
        spark, src, out, balance_col="lang",
        split_weights={"train": 0.8, "val": 0.2}, n_shards=4,
    )
    assert stats["rows_in"] == 400
    # balancing downsamples en (300) toward fr's 100 (expected-size)
    assert stats["rows_out"] < 400
    assert set(stats["splits"]) <= {"train", "val"}

    mixed = spark.read.parquet(out)
    # partition layout carries (split, shard); ordinals are per-shard 1..n
    assert {"split", "shard", "ordinal"} <= set(mixed.columns)
    for (split, shard), grp in (
        (r["k"], r["ords"]) for r in mixed.groupBy(
            corpus.F.struct("split", "shard").alias("k")
        ).agg(corpus.F.sort_array(corpus.F.collect_list("ordinal")).alias("ords")).collect()
    ):
        assert grp == list(range(1, len(grp) + 1))

    # reproducible: rerunning into a fresh dir yields the identical row set
    out2 = str(tmp_path / "mixed2")
    corpus.mix_corpus(spark, src, out2, balance_col="lang",
                      split_weights={"train": 0.8, "val": 0.2}, n_shards=4)
    a = sorted(map(tuple, mixed.select("doc_id", "split", "shard", "ordinal").collect()))
    b = sorted(map(tuple, spark.read.parquet(out2)
                   .select("doc_id", "split", "shard", "ordinal").collect()))
    assert a == b


def test_cluster_dedup_corpus_jobs_per_call(spark, corpus_parquet, tmp_path):
    """Each intermediate of one cluster-dedup call is computed once: the
    exact survivors sit behind one barrier read by the pairs and the
    final anti-join, the MinHash kernel runs once, and the small pair
    graph closes on the driver. Pinned at the measured job count + 1;
    re-running exact dedup or a per-round component barrier exceeds it
    (19 on this fixture, one of them the semi-join count of written rows;
    the former bucket self-join with per-round component barriers ran
    41)."""
    sc = spark.sparkContext
    group = "cluster-dedup-jobs"
    sc.setJobGroup(group, "", interruptOnCancel=False)
    try:
        stats = corpus.cluster_dedup_corpus(
            spark, corpus_parquet, str(tmp_path / "cdedup"), method="minhash",
            threshold=0.6,
        )
    finally:
        sc.setJobGroup("", "")
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert stats["rows_out"] == 4
    assert jobs <= 20, jobs


def test_cluster_dedup_corpus_repeated_loser_row(spark, corpus_parquet, tmp_path):
    """A row repeated under one doc_id (a re-ingested page) survives exact
    dedup twice; when that id is a near-dup loser the anti-join drops
    both copies, and ``rows_out`` must count what was written."""
    df = spark.read.parquet(corpus_parquet)
    src = str(tmp_path / "repeated.parquet")
    df.unionByName(df.filter("doc_id = 3")).write.parquet(src)
    out = str(tmp_path / "cdedup")
    stats = corpus.cluster_dedup_corpus(spark, src, out, method="minhash", threshold=0.6)
    written = spark.read.parquet(out)
    assert sorted(r["doc_id"] for r in written.select("doc_id").collect()) == [0, 4, 5, 6]
    assert stats["rows_in"] == 8
    assert stats["rows_out"] == written.count() == 4
    assert stats["removed"] == 4
