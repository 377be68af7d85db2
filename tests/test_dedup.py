"""Dedup-operator tests: planted duplicates/near-duplicates must be found;
survivor choice must be deterministic."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sentiment_analysis_bigdata_spark.functions import hashing as H
from sentiment_analysis_bigdata_spark.operators import dedup as DD

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "The  Quick Brown Fox jumps over the lazy dog"),  # case/space dup of 0
    (2, "the quick brown fox jumps over the lazy cat"),  # near-dup of 0
    (3, "completely different content about spark engines"),
    (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup_survivor_is_min_id(docs):
    out = sorted(r["doc_id"] for r in DD.exact_dedup(docs).collect())
    assert out == [0, 2, 3]  # 1 and 4 collapse into 0


def test_exact_dedup_keep_best_prefers_high_score(spark):
    # doc 1's raw text is LONGER than doc 0's (extra whitespace survives
    # the raw length even though the fingerprint normalizes it away), so
    # keep-best must pick 1 where min-id picks 0; 2 and 4 tie on score →
    # min id 2 wins
    rows = [
        (0, "the quick brown fox"),
        (1, "The  Quick  Brown  Fox"),   # same fingerprint, longer raw
        (2, "other text"),
        (4, "other text"),               # exact tie with 2
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = sorted(
        r["doc_id"]
        for r in DD.exact_dedup_keep_best(df, F.length("text")).collect()
    )
    assert out == [1, 2]


def test_duplicate_clusters(docs):
    clusters = DD.duplicate_clusters(docs).collect()
    assert len(clusters) == 1
    assert clusters[0]["n_docs"] == 3 and clusters[0]["min_doc_id"] == 0


def test_minhash_identical_docs_identical_signatures(spark):
    df = spark.createDataFrame(
        [(0, ["a", "b", "c"]), (1, ["a", "b", "c"]), (2, ["x", "y"])],
        "doc_id long, toks array<string>",
    )
    sigs = {
        r["doc_id"]: r["sig"]
        for r in df.select("doc_id", H.minhash_signature("toks", 8).alias("sig")).collect()
    }
    assert sigs[0] == sigs[1] != sigs[2]


def test_minhash_signature_is_order_insensitive(spark):
    df = spark.createDataFrame(
        [(0, ["a", "b", "c"]), (1, ["c", "a", "b"])], "doc_id long, toks array<string>"
    )
    sigs = [r["sig"] for r in df.select(H.minhash_signature("toks", 8).alias("sig")).collect()]
    assert sigs[0] == sigs[1]


def test_minhash_near_duplicates_finds_planted_pair(docs):
    out = DD.minhash_near_duplicates(docs, threshold=0.5, num_hashes=16, bands=8)
    pairs = {(r["a"], r["b"]) for r in out.collect()}
    # the exact/normalized dups (0,1,4) must pair up; near-dup (0,2) has
    # jaccard 8/10 and should be caught with 8 bands of r=2
    assert (0, 4) in pairs and (0, 1) in pairs
    assert (0, 2) in pairs
    assert not any(3 in p for p in pairs)


def test_minhash_bucket_cap_drops_degenerate_buckets(spark):
    """With every doc identical, all docs share all buckets: max_bucket
    below the corpus size must yield zero candidate pairs."""
    df = spark.createDataFrame(
        [(i, ["same", "text", "everywhere"]) for i in range(10)],
        "doc_id long, toks array<string>",
    )
    from pyspark.sql import functions as F

    uncapped = DD.minhash_candidate_pairs(df, F.col("toks"), "doc_id", 8, 4)
    assert uncapped.count() == 45  # all 10-choose-2 pairs
    capped = DD.minhash_candidate_pairs(df, F.col("toks"), "doc_id", 8, 4, max_bucket=5)
    assert capped.count() == 0


@pytest.mark.parametrize("max_bucket", [None, 2, 3])
def test_minhash_grouped_candidates_match_python_buckets(spark, max_bucket):
    """Candidates come from grouping the band rows on (band, band_key);
    the pair set must equal a pure-Python bucket → (a < b) pairs
    expansion of the same band rows, with and without the bucket cap."""
    from collections import defaultdict
    from itertools import combinations

    base = ["alpha beta gamma delta epsilon zeta eta theta",
            "one two three four five six seven eight",
            "red green blue cyan magenta yellow black white"]
    rows = []
    for i in range(30):
        words = base[i % 3].split()
        # a shared prefix per family, a per-doc tail of varying length
        rows.append((i, words[: 4 + i % 5] + [f"w{i}"] * (i % 2)))
    df = spark.createDataFrame(rows, "doc_id long, toks array<string>")

    buckets = defaultdict(set)
    for r in DD.minhash_bands(df, F.col("toks"), "doc_id", 8, 4).collect():
        buckets[(r["band"], r["band_key"])].add(r["doc_id"])
    sizes = sorted(len(m) for m in buckets.values())
    assert sizes[0] == 1 and sizes[-1] > 3  # singletons and capped buckets
    want = {
        pair
        for members in buckets.values()
        if max_bucket is None or len(members) <= max_bucket
        for pair in combinations(sorted(members), 2)
    }
    got = [
        (r["a"], r["b"])
        for r in DD.minhash_candidate_pairs(
            df, F.col("toks"), "doc_id", 8, 4, max_bucket=max_bucket
        ).collect()
    ]
    assert len(got) == len(set(got))  # distinct
    assert set(got) == want
    assert want  # the reference is not vacuous


def test_minhash_candidates_stream_hot_bucket(spark):
    """A hot bucket (boilerplate copies) expands one member at a time: the
    plan builds no nested pair array for ``flatten`` (one array of a
    bucket's n(n-1)/2 pairs needs GBs per row and passes Spark's array
    size limit at 65,537 members), and every pair still comes out once."""
    n = 300
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.array(*[F.lit(w) for w in "same boilerplate footer text".split()]).alias("toks"),
    )
    cands = DD.minhash_candidate_pairs(df, F.col("toks"), "doc_id", 8, 4)
    plan = cands._jdf.queryExecution().optimizedPlan().toString().lower()
    assert "flatten" not in plan
    assert cands.count() == n * (n - 1) // 2
    assert cands.filter(F.col("a") >= F.col("b")).count() == 0


def test_jaccard_values(spark):
    df = spark.createDataFrame(
        [(["a", "b", "c"], ["b", "c", "d"])], "x array<string>, y array<string>"
    )
    j = df.select(DD.jaccard_similarity(F.col("x"), F.col("y")).alias("j")).first()["j"]
    assert j == pytest.approx(2 / 4)


def test_simhash_identical_zero_hamming(spark):
    df = spark.createDataFrame(
        [(0, "same text here"), (1, "same text here"), (2, "totally other words")],
        "doc_id long, text string",
    )
    sigs = {r["doc_id"]: r["simhash"] for r in DD.simhash_signatures(df).collect()}
    assert sigs[0] == sigs[1]
    assert sigs[0] != sigs[2]


def test_simhash_frame_kernel_matches_expression(spark):
    # The explode+bit-sum frame kernel must be value-identical to the
    # per-row HOF expression, including empty/whitespace-only docs (sig 0)
    # and repeated tokens; same for the length-weighted variant.
    from sentiment_analysis_bigdata_spark.functions import hashing as H
    from sentiment_analysis_bigdata_spark.functions import text as TXT

    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, ""),
        (2, "   "),
        (3, "dup dup dup dup unique"),
        (4, "a bb ccc dddd eeeee"),
        (5, "single"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    expr = {
        r["doc_id"]: (r["s"], r["w"])
        for r in df.select(
            "doc_id",
            H.simhash64(TXT.tokenize_nonempty("text")).alias("s"),
            H.simhash64_weighted(TXT.tokenize_nonempty("text")).alias("w"),
        ).collect()
    }
    frame = {r["doc_id"]: r["simhash"] for r in DD.simhash_signatures(df).collect()}
    framew = {
        r["doc_id"]: r["sw"]
        for r in DD.simhash_signatures(df, weighted=True, out_col="sw").collect()
    }
    for i, _ in rows:
        assert frame[i] == expr[i][0], f"doc {i} unweighted mismatch"
        assert framew[i] == expr[i][1], f"doc {i} weighted mismatch"
    assert frame[1] == 0 and frame[2] == 0


def test_minhash_frame_kernel_matches_expression(spark):
    from sentiment_analysis_bigdata_spark.functions import hashing as H
    from sentiment_analysis_bigdata_spark.functions import text as TXT

    rows = [
        (0, "the quick brown fox"),
        (1, ""),
        (2, "dup dup dup"),
        (3, "alpha beta gamma delta epsilon zeta"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    expr = {
        r["doc_id"]: r["sig"]
        for r in df.select(
            "doc_id",
            H.minhash_signature(TXT.tokenize_nonempty("text"), 8).alias("sig"),
        ).collect()
    }
    frame = {
        r["doc_id"]: r["sig"]
        for r in DD.minhash_signatures(
            df, TXT.tokenize_nonempty("text"), "doc_id", 8
        ).collect()
    }
    for i, _ in rows:
        assert list(frame[i]) == list(expr[i]), f"doc {i} mismatch"
    # empty doc → sentinel p per slot
    assert all(v == H.MERSENNE_P for v in frame[1])


def test_simhash_near_duplicates(docs):
    out = DD.simhash_near_duplicates(docs, max_hamming=20, bands=4)
    pairs = {(r["a"], r["b"]) for r in out.collect()}
    assert (0, 1) in pairs and (0, 4) in pairs  # identical token streams
    ham = {(r["a"], r["b"]): r["hamming"] for r in out.collect()}
    assert ham[(0, 4)] == 0


def test_ngram_jaccard_pairs(spark, docs):
    pairs = spark.createDataFrame([(0, 2), (0, 3)], "a long, b long")
    out = {(r["a"], r["b"]): r["jaccard"] for r in DD.ngram_jaccard_pairs(docs, pairs, n=2).collect()}
    assert out[(0, 2)] > 0.5  # one word differs → most bigrams shared
    assert out[(0, 3)] == 0.0


def test_embedding_near_duplicates(spark):
    rows = [
        (0, [1.0, 0.5, 0.2, 0.1] * 2),
        (1, [1.0, 0.5, 0.2, 0.1001] * 2),  # ~identical
        (2, [-1.0, 0.4, -0.3, 0.2] * 2),  # different bucket
        (3, [0.9, 0.6, 0.1, 0.2] * 2),  # same bucket, similar-ish
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = DD.embedding_near_duplicates(emb, threshold=0.999, n_bits=4)
    pairs = {(r["a"], r["b"]) for r in out.collect()}
    assert (0, 1) in pairs
    assert not any(2 in p for p in pairs)


# --- winnowing fingerprints (MOSS) ----------------------------------------------


def test_winnow_shared_substring_guarantee(spark):
    """Any shared substring of length >= k + w - 1 yields >= 1 shared
    fingerprint (the winnowing guarantee); disjoint-alphabet docs share 0."""
    k, w = 8, 4
    shared = "abcdefghijklmnopqrstuvwxyz0123456789"  # len 36 >= k+w-1
    rows = [
        (1, "PREFIXXX " + shared + " SUFFIXYY"),
        (2, "zzz " + shared + " qqq"),
        (3, "QWERTYUIOPQWERTYUIOPQWERTYUIOPQWERTYUIOP"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = DD.winnow_fingerprints(df, k=k, w=w)
    by_doc: dict[int, set[int]] = {}
    for r in fps.collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by_doc[1] & by_doc[2], "docs sharing a long substring must share a fp"
    assert not (by_doc[1] & by_doc[3]) and not (by_doc[2] & by_doc[3])


def test_winnow_density_and_determinism(spark):
    """Selected positions have density ~2/(w+1); rerun is identical."""
    import random

    rng = random.Random(7)
    text = "".join(rng.choice("abcdefghijklmnopqrstuvwxyz ") for _ in range(2000))
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    a = sorted(r["fp"] for r in DD.winnow_fingerprints(df, k=8, w=4).collect())
    b = sorted(r["fp"] for r in DD.winnow_fingerprints(df, k=8, w=4).collect())
    assert a == b and len(a) > 0
    n_windows = len(text) - 8 + 1 - 4 + 1
    density = len(a) / n_windows
    assert 0.2 < density < 0.6  # theory: 2/(w+1) = 0.4 expected


def test_winnow_overlap_finds_planted_copy(spark):
    k, w = 8, 4
    passage = "the same long copied passage appears in both documents verbatim"
    rows = [
        (1, "doc one begins " + passage + " and then diverges completely 111"),
        (2, "totally other opening but " + passage + " closes differently 222"),
        (3, "unrelated third document with its own words and nothing shared"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = DD.winnow_overlap(df, k=k, w=w, max_df=10, min_shared=1).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in pairs} >= {(1, 2)}
    assert all({r["doc_a"], r["doc_b"]} != {1, 3} for r in pairs)


def test_leakage_safe_split_cluster_atomicity(spark):
    """Near-dup cluster members always land in the same split."""
    from sentiment_analysis_bigdata_spark.operators import ordering

    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (5, 6)], "a long, b long"
    )
    ids = spark.createDataFrame([(i,) for i in range(10)], "vec_id long")
    comp = DD.connected_components(pairs)
    clustered = ids.join(comp, ids["vec_id"] == comp["node"], "left").select(
        "vec_id", F.coalesce("component", "vec_id").alias("cluster")
    )
    split = ordering.split_by_hash(
        clustered, {"train": 0.5, "val": 0.5}, id_col="cluster"
    )
    rows = {r["vec_id"]: r["split"] for r in split.collect()}
    assert rows[0] == rows[1] == rows[2]
    assert rows[5] == rows[6]


class TestFuzzyPairs:
    def test_blocked_levenshtein(self, spark):
        from pyspark.sql import Row

        from sentiment_analysis_bigdata_spark.operators import dedup

        rows = [
            Row(name="acme corp"), Row(name="acm corp"), Row(name="acme co"),
            Row(name="zenith ltd"), Row(name="zenth ltd"),
            Row(name="other corp"),  # same block as acme corp but distance 5
        ]
        df = spark.createDataFrame(rows)
        got = {
            (r.name_a, r.name_b): r.distance
            for r in dedup.fuzzy_pairs(
                df, "name",
                F.element_at(F.split(F.col("name"), " "), -1),
                max_distance=2,
            ).collect()
        }
        assert got[("acm corp", "acme corp")] == 1
        assert got[("zenith ltd", "zenth ltd")] == 1
        assert ("acme corp", "other corp") not in got  # distance 5 > 2
        # different blocks never pair, even at distance <= 2
        assert all(a.split()[-1] == b.split()[-1] for a, b in got)

    def test_max_block_guard(self, spark):
        from pyspark.sql import Row

        from sentiment_analysis_bigdata_spark.operators import dedup

        rows = [Row(name=f"x{i} blk") for i in range(5)] + [
            Row(name="a solo"), Row(name="b solo")
        ]
        df = spark.createDataFrame(rows)
        got = dedup.fuzzy_pairs(
            df, "name",
            F.element_at(F.split(F.col("name"), " "), -1),
            max_distance=10, max_block=3,
        ).collect()
        # the 5-member 'blk' block is dropped; only the solo pair remains
        assert {(r.name_a, r.name_b) for r in got} == {("a solo", "b solo")}


class TestPrefixFilteredJaccard:
    def _docs(self, spark):
        from pyspark.sql import Row

        rows = [
            Row(doc_id=1, text="a b c d e"),
            Row(doc_id=2, text="a b c d f"),      # J(1,2)=4/6=0.667
            Row(doc_id=3, text="a b c d e"),      # J(1,3)=1.0
            Row(doc_id=4, text="x y z"),          # disjoint
            Row(doc_id=5, text="a x y z"),        # J(4,5)=3/4=0.75
        ]
        return spark.createDataFrame(rows)

    def test_equals_brute_force(self, spark):
        from itertools import combinations

        from sentiment_analysis_bigdata_spark.operators import dedup

        df = self._docs(spark)
        got = {
            (r.a, r.b): r.jaccard
            for r in dedup.prefix_filtered_jaccard_pairs(df, 0.6).collect()
        }
        texts = {r.doc_id: set(r.text.split()) for r in df.collect()}
        want = {}
        for a, b in combinations(sorted(texts), 2):
            j = len(texts[a] & texts[b]) / len(texts[a] | texts[b])
            if round(j, 6) >= 0.6:
                want[(a, b)] = round(j, 6)
        assert got == want
        assert got[(1, 3)] == 1.0 and got[(4, 5)] == 0.75

    def test_high_threshold_prunes(self, spark):
        from sentiment_analysis_bigdata_spark.operators import dedup

        got = {
            (r.a, r.b)
            for r in dedup.prefix_filtered_jaccard_pairs(
                self._docs(spark), 0.9
            ).collect()
        }
        assert got == {(1, 3)}


class TestDedupCascade:
    def test_stage_arithmetic_and_planted_dups(self, spark):
        from sentiment_analysis_bigdata_spark.operators.dedup import dedup_cascade

        # 0/1 exact dups; 2 reorders 0's tokens (not an exact dup, but an
        # identical token SET -> identical minhash signature, jaccard 1.0,
        # so the LSH candidate is guaranteed, not probabilistic); 3 unique
        docs = spark.createDataFrame(
            [
                (0, "alpha beta gamma delta epsilon zeta"),
                (1, "alpha beta gamma delta epsilon zeta"),
                (2, "zeta alpha beta gamma delta epsilon"),
                (3, "one two three four five six"),
            ],
            "doc_id long, text string",
        )
        emb = spark.createDataFrame(
            [(i, [1.0, 0.0, 0.0, 0.0]) for i in (0, 2)]
            + [(3, [0.0, 1.0, 0.0, 0.0])],
            "vec_id long, embedding array<double>",
        )
        out = {
            r["stage"]: r
            for r in dedup_cascade(
                docs, emb, minhash_threshold=0.5, cosine_threshold=0.9, n_bits=4
            ).collect()
        }
        assert out["exact"]["n_in"] == 4 and out["exact"]["n_removed"] == 1
        # doc 2 is jaccard 5/7 ≈ 0.714 to doc 0 → removed by minhash
        assert out["minhash"]["n_in"] == 3 and out["minhash"]["n_removed"] == 1
        # remaining 0 and 3 have orthogonal embeddings → nothing removed
        assert out["semantic"]["n_removed"] == 0 and out["semantic"]["n_out"] == 2
        # chain arithmetic: n_out of each stage == n_in of the next
        assert out["exact"]["n_out"] == out["minhash"]["n_in"]
        assert out["minhash"]["n_out"] == out["semantic"]["n_in"]


class TestDuplicatedSpanStats:
    def test_hand_computed_union(self, spark):
        from sentiment_analysis_bigdata_spark.operators.dedup import (
            duplicated_span_stats,
        )

        # docs 0/1 share the 5-gram "a b c d e"; doc 0 embeds it twice
        # overlapping at offsets 0 and 2 (a b a b c d e -> only one
        # duplicated 5-gram "a b c d e" at pos 3); doc 2 is clean.
        docs = spark.createDataFrame(
            [
                (0, "a b a b c d e f"),
                (1, "x a b c d e y z"),
                (2, "p q r s t u v w"),
            ],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r for r in duplicated_span_stats(docs, k=5).collect()}
        assert out[0]["n_tokens"] == 8 and out[0]["dup_tokens"] == 5
        assert out[1]["dup_tokens"] == 5
        assert out[2]["dup_tokens"] == 0 and out[2]["dup_fraction"] == 0.0
        assert out[1]["dup_fraction"] == 0.625

    def test_overlapping_spans_union_not_sum(self, spark):
        from sentiment_analysis_bigdata_spark.operators.dedup import (
            duplicated_span_stats,
        )

        # "a a a a a a" (6 tokens): both 5-grams at pos 1,2 are the same
        # gram (occurs twice) -> positions {1,2}, union = 5 + min(5,1) = 6
        docs = spark.createDataFrame(
            [(0, "a a a a a a"), (1, "b c d e f g")],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r for r in duplicated_span_stats(docs, k=5).collect()}
        assert out[0]["dup_tokens"] == 6 and out[0]["dup_fraction"] == 1.0

    def test_short_docs_report_zero(self, spark):
        from sentiment_analysis_bigdata_spark.operators.dedup import (
            duplicated_span_stats,
        )

        docs = spark.createDataFrame(
            [(0, "a b"), (1, "a b")], "doc_id long, text string"
        )
        out = duplicated_span_stats(docs, k=5).collect()
        assert all(r["dup_tokens"] == 0 for r in out)


class TestExactSubstringSpans:
    """operators/dedup.exact_substring_spans — byte-offset duplicated
    spans (Lee et al. 2022 ExactSubstr removal semantics)."""

    def _spans(self, spark, docs, min_len):
        from sentiment_analysis_bigdata_spark.operators.dedup import (
            exact_substring_spans,
        )

        df = spark.createDataFrame(docs, "doc_id long, text string")
        out = {}
        for r in exact_substring_spans(df, min_len=min_len).collect():
            out.setdefault(r["doc_id"], []).append(
                (r["span_start"], r["span_end"], r["span_len"])
            )
        return {k: sorted(v) for k, v in out.items()}

    def test_cross_doc_planted_passage_exact_offsets(self, spark):
        # A 20-char passage shared by two docs at DIFFERENT offsets; all
        # surrounding text unique. With L=10, the duplicated stride-1
        # windows tile exactly the passage, so each doc reports one span
        # of exactly [start, start+20) — 1-based start, exclusive end.
        shared = "ABCDEFGHIJKLMNOPQRST"  # 20 chars
        d0 = "0123456789" + shared + "abcdefghij"  # passage at 1-based 11
        d1 = shared + "klmnopqrstuvwxyz!@#$"  # passage at 1-based 1
        # doc 2 must be non-self-repeating: a periodic string like
        # "zyxwvuts"*5 duplicates its own windows at stride 8.
        out = self._spans(
            spark, [(0, d0), (1, d1), (2, "zyxwvutsrqponmlkjihgfedcba9876543210")], 10
        )
        assert out[0] == [(11, 31, 20)]
        assert out[1] == [(1, 21, 20)]
        assert 2 not in out  # no duplicated window → no rows

    def test_intra_doc_repeat_two_spans(self, spark):
        # The same 12-char string twice within ONE doc, separated by more
        # than L unique chars → two disjoint spans (intra-doc occurrences
        # count toward the >1 threshold, like ExactSubstr).
        s = "AAABBBCCCDDD"
        doc = s + "0123456789012345" + s
        out = self._spans(spark, [(0, doc)], 12)
        assert out[0] == [(1, 13, 12), (29, 41, 12)]

    def test_adjacent_windows_merge_into_one_span(self, spark):
        # A 30-char passage duplicated across docs with L=10: 21 dup
        # windows at offsets o..o+20 merge into ONE maximal interval, not
        # 21 rows.
        shared = "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123"  # 30 chars
        out = self._spans(
            spark, [(0, "ab" + shared + "cd"), (1, shared + "wxyz!@#$%^")], 10
        )
        assert out[0] == [(3, 33, 30)]
        assert out[1] == [(1, 31, 30)]

    def test_docs_shorter_than_min_len_emit_nothing(self, spark):
        out = self._spans(spark, [(0, "short"), (1, "short")], 40)
        assert out == {}

    def test_min_len_validation(self, spark):
        import pytest

        from sentiment_analysis_bigdata_spark.operators.dedup import (
            exact_substring_spans,
        )

        df = spark.createDataFrame([(0, "abc")], "doc_id long, text string")
        with pytest.raises(ValueError, match="min_len"):
            exact_substring_spans(df, min_len=0)


class TestExactSubstringAttribution:
    """operators/dedup.exact_substring_attribution — which OTHER docs each
    duplicated span matches (contamination forensics)."""

    def _attr(self, spark, docs, min_len, **kw):
        from sentiment_analysis_bigdata_spark.operators.dedup import (
            exact_substring_attribution,
        )

        df = spark.createDataFrame(docs, "doc_id long, text string")
        out = {}
        for r in exact_substring_attribution(df, min_len=min_len, **kw).collect():
            out.setdefault(r["doc_id"], []).append(
                (
                    r["span_start"],
                    r["span_end"],
                    r["n_match_docs"],
                    r["first_match_doc"],
                )
            )
        return {k: sorted(v) for k, v in out.items()}

    def test_cross_doc_passage_attributes_to_partner(self, spark):
        shared = "ABCDEFGHIJKLMNOPQRST"  # 20 chars
        d0 = "0123456789" + shared + "abcdefghij"
        d1 = shared + "klmnopqrstuvwxyz!@#$"
        out = self._attr(spark, [(0, d0), (1, d1)], 10)
        assert out[0] == [(11, 31, 1, 1)]
        assert out[1] == [(1, 21, 1, 0)]

    def test_intra_doc_repeat_reports_zero_matches(self, spark):
        # Same 12-char string twice in ONE doc: both spans are duplicated
        # (removal-eligible) but match no OTHER document → n_match_docs=0,
        # first_match_doc NULL.
        s = "AAABBBCCCDDD"
        doc = s + "0123456789012345" + s
        out = self._attr(spark, [(0, doc)], 12)
        assert out[0] == [(1, 13, 0, None), (29, 41, 0, None)]

    def test_three_way_copy_counts_both_partners_min_id_first(self, spark):
        shared = "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123"  # 30 chars
        docs = [
            (0, "ab" + shared + "cd"),
            (1, shared + "wxyz!@#$%^"),
            (2, "0987654321" + shared),
        ]
        out = self._attr(spark, docs, 10)
        assert out[0] == [(3, 33, 2, 1)]
        assert out[1] == [(1, 31, 2, 0)]
        assert out[2] == [(11, 41, 2, 0)]

    def test_spans_align_with_exact_substring_spans(self, spark):
        # The (doc_id, span_start, span_end) set must be IDENTICAL to
        # exact_substring_spans — attribution annotates, never re-segments.
        from sentiment_analysis_bigdata_spark.operators.dedup import (
            exact_substring_attribution,
            exact_substring_spans,
        )

        shared = "ABCDEFGHIJKLMNOPQRST"
        df = spark.createDataFrame(
            [
                (0, "0123456789" + shared + "abcdefghij"),
                (1, shared + "klmnopqrstuvwxyz!@#$"),
                (2, shared + "ZYXWVU" + shared),
            ],
            "doc_id long, text string",
        )
        spans = {
            (r["doc_id"], r["span_start"], r["span_end"])
            for r in exact_substring_spans(df, min_len=10).collect()
        }
        attr = {
            (r["doc_id"], r["span_start"], r["span_end"])
            for r in exact_substring_attribution(df, min_len=10).collect()
        }
        assert spans == attr

    def test_df_cap_drops_ubiquitous_windows_keeps_spans(self, spark):
        # A boilerplate passage shared by FOUR docs plus a pair-only
        # passage in two of them. With max_doc_freq=2 the boilerplate
        # windows are dropped from match enumeration (their spans stay,
        # reporting 0 matches); the pair passage still attributes.
        boiler = "BOILERPLATE-BOILER0PLATE-BOILER1PLATE!"  # 38 chars
        pair = "pairwise-shared-secret-passage-XY"  # 33 chars
        docs = [
            (0, boiler + "aaaaaaaaaa" + pair),
            (1, boiler + "bbbbbbbbbb" + pair),
            (2, boiler + "cccccccccc"),
            (3, boiler + "dddddddddd"),
        ]
        out = self._attr(spark, docs, 10, max_doc_freq=2)
        exact = self._attr(spark, docs, 10)
        # exact: every doc's boilerplate span matches the 3 others
        assert all(
            any(n == 3 for (_, _, n, _) in spans) for spans in exact.values()
        )
        # capped: boilerplate spans survive with 0 matches; the pair
        # passage in docs 0/1 still attributes to its partner
        for d in (2, 3):
            assert out[d] == [(1, 39, 0, None)]
        for d, partner in ((0, 1), (1, 0)):
            spans = dict(
                ((s, e), (n, m)) for (s, e, n, m) in out[d]
            )
            assert spans[(1, 39)] == (0, None)  # capped boilerplate
            assert spans[(49, 82)] == (1, partner)  # pair passage


class TestExactSubstringRemoval:
    """operators/dedup.exact_substring_removal — span removal
    materialized as clean text."""

    def _rm(self, spark, docs, min_len):
        from sentiment_analysis_bigdata_spark.operators.dedup import (
            exact_substring_removal,
        )

        df = spark.createDataFrame(docs, "doc_id long, text string")
        return {
            r["doc_id"]: r
            for r in exact_substring_removal(df, min_len=min_len).collect()
        }

    def test_planted_passage_cut_exactly(self, spark):
        shared = "ABCDEFGHIJKLMNOPQRST"  # 20 chars
        docs = [
            (0, "0123456789" + shared + "abcdefghij"),
            (1, shared + "klmnopqrstuvwxyz!@#$"),
            (2, "zyxwvutsrqponmlkjihgfedcba9876543210"),  # unique
            (3, shared),  # fully duplicated
            (4, shared),
        ]
        out = self._rm(spark, docs, 10)
        assert out[0]["clean_text"] == "0123456789abcdefghij"
        assert out[1]["clean_text"] == "klmnopqrstuvwxyz!@#$"
        assert out[2]["clean_text"] == docs[2][1]  # verbatim passthrough
        assert out[2]["n_spans"] == 0 and out[2]["removed_chars"] == 0
        assert out[3]["clean_text"] == "" and out[3]["kept_chars"] == 0
        assert out[4]["removed_chars"] == 20

    def test_two_intra_doc_spans_both_cut(self, spark):
        s = "AAABBBCCCDDD"
        mid = "0123456789012345"
        out = self._rm(spark, [(0, s + mid + s)], 12)
        assert out[0]["clean_text"] == mid
        assert out[0]["n_spans"] == 2
        assert out[0]["removed_chars"] == 24

    def test_accounting_consistent_with_spans(self, spark):
        # removed_chars must equal the sum of span_len from
        # exact_substring_spans, and kept + removed == original length.
        from sentiment_analysis_bigdata_spark.operators.dedup import (
            exact_substring_removal,
            exact_substring_spans,
        )

        shared = "ABCDEFGHIJKLMNOPQRST"
        docs = [
            (0, "0123456789" + shared + "abcdefghij" + shared),
            (1, shared + "klmnopqrstuvwxyz!@#$"),
            (2, "unique-text-without-any-repeats!!"),
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        span_sum: dict[int, int] = {}
        for r in exact_substring_spans(df, min_len=10).collect():
            span_sum[r["doc_id"]] = span_sum.get(r["doc_id"], 0) + r["span_len"]
        for r in exact_substring_removal(df, min_len=10).collect():
            orig = len(dict(docs)[r["doc_id"]])
            assert r["kept_chars"] + r["removed_chars"] == orig
            assert r["removed_chars"] == span_sum.get(r["doc_id"], 0)

    def test_every_doc_appears_exactly_once(self, spark):
        docs = [(i, f"doc {i} body with no repeats {i}!") for i in range(6)]
        out = self._rm(spark, docs, 10)
        assert sorted(out) == list(range(6))


class TestDuplicatedSpanLadder:
    def test_planted_100_token_copy_counted_once(self, spark):
        """VERDICT r4 #7 done-criterion: a 100-token planted copy fires
        at every rung of the {25, 50, 100} ladder, and the longest-match
        merge counts each covered token ONCE — not once per rung."""
        from sentiment_analysis_bigdata_spark.operators.dedup import (
            duplicated_span_stats_ladder,
        )

        passage = " ".join(f"w{i}" for i in range(100))
        unique = " ".join(f"u{i}" for i in range(100))
        docs = spark.createDataFrame(
            [(0, passage), (1, passage), (2, unique)],
            "doc_id long, text string",
        )
        out = {
            r["doc_id"]: r
            for r in duplicated_span_stats_ladder(
                docs, ks=(25, 50, 100)
            ).collect()
        }
        assert out[0]["dup_tokens"] == 100  # once, not 300
        assert out[0]["dup_fraction"] == 1.0
        assert out[1]["dup_tokens"] == 100
        assert out[2]["dup_tokens"] == 0

    def test_short_repeat_only_small_rungs_fire(self, spark):
        """A 30-token shared passage inside otherwise-unique docs is seen
        only by the k=25 rung; merged coverage is exactly the 30 shared
        tokens."""
        from sentiment_analysis_bigdata_spark.operators.dedup import (
            duplicated_span_stats_ladder,
        )

        shared = " ".join(f"s{i}" for i in range(30))
        a = shared + " " + " ".join(f"a{i}" for i in range(70))
        b = " ".join(f"b{i}" for i in range(70)) + " " + shared
        docs = spark.createDataFrame(
            [(0, a), (1, b)], "doc_id long, text string"
        )
        out = {
            r["doc_id"]: r
            for r in duplicated_span_stats_ladder(
                docs, ks=(25, 50, 100)
            ).collect()
        }
        assert out[0]["dup_tokens"] == 30
        assert out[1]["dup_tokens"] == 30

    def test_mixed_length_union_against_naive_sum(self, spark):
        """Ladder union equals the fixed-k union at each rung separately
        when rungs don't overlap, and is strictly below the naive per-rung
        sum when they do (hand-computed mixed intervals)."""
        from sentiment_analysis_bigdata_spark.operators.dedup import (
            duplicated_span_stats,
            duplicated_span_stats_ladder,
        )

        # docs share a 10-token passage: k=5 marks it (6 start positions,
        # union 10), k=10 marks it (1 position, union 10); merged must
        # still be 10, while per-rung sums would give 20.
        shared = " ".join(f"s{i}" for i in range(10))
        docs = spark.createDataFrame(
            [
                (0, shared + " x y z"),
                (1, "p q r " + shared),
            ],
            "doc_id long, text string",
        )
        merged = {
            r["doc_id"]: r["dup_tokens"]
            for r in duplicated_span_stats_ladder(docs, ks=(5, 10)).collect()
        }
        k5 = {
            r["doc_id"]: r["dup_tokens"]
            for r in duplicated_span_stats(docs, k=5).collect()
        }
        k10 = {
            r["doc_id"]: r["dup_tokens"]
            for r in duplicated_span_stats(docs, k=10).collect()
        }
        for d in (0, 1):
            assert merged[d] == 10
            assert k5[d] == 10 and k10[d] == 10
            assert merged[d] < k5[d] + k10[d]


class TestMinhashRecall:
    def test_found_is_subset_of_truth(self, spark, sf_dir):
        from sentiment_analysis_bigdata_spark.workloads.dedup_sim import (
            q_minhash_recall,
        )

        r = q_minhash_recall(spark, sf_dir).first()
        assert 0 <= r["n_found_pairs"] <= r["n_true_pairs"]
        assert 0.0 <= r["recall"] <= 1.0

    def test_identical_docs_always_found(self, spark):
        # jaccard-1.0 pairs have identical signatures -> every band
        # collides -> recall must be exactly 1.0
        import tempfile

        from sentiment_analysis_bigdata_spark.workloads.dedup_sim import (
            q_minhash_recall,
        )

        docs = spark.createDataFrame(
            [(i, "alpha beta gamma delta epsilon") for i in range(4)]
            + [(9, "unrelated words entirely here now")],
            "doc_id long, text string",
        )
        with tempfile.TemporaryDirectory() as d:
            docs.write.mode("overwrite").parquet(f"{d}/documents.parquet")
            r = q_minhash_recall(spark, d).first()
        assert r["n_true_pairs"] == 6 and r["recall"] == 1.0


class TestSourceOverlapMatrix:
    def test_hand_computed_jaccard(self, spark):
        from sentiment_analysis_bigdata_spark.operators.dedup import (
            source_overlap_matrix,
        )

        # srcA doc: tokens t0..t9  -> 5-grams at pos 1..6 (6 grams)
        # srcB doc: tokens t0..t6  -> grams pos 1..3 (3 grams, all in A)
        # srcC doc: u0..u9         -> 6 grams, disjoint
        a = " ".join(f"t{i}" for i in range(10))
        b = " ".join(f"t{i}" for i in range(7))
        c = " ".join(f"u{i}" for i in range(10))
        docs = spark.createDataFrame(
            [(0, a, "A"), (1, b, "B"), (2, c, "C")],
            "doc_id long, text string, source string",
        )
        out = {
            (r["src_a"], r["src_b"]): r
            for r in source_overlap_matrix(docs, k=5).collect()
        }
        ab = out[("A", "B")]
        assert ab["n_common"] == 3 and ab["n_union"] == 6
        assert ab["jaccard"] == 0.5
        # disjoint pairs emit no row (intersection is the driver)
        assert ("A", "C") not in out and ("B", "C") not in out

    def test_identical_sources_full_overlap(self, spark):
        from sentiment_analysis_bigdata_spark.operators.dedup import (
            source_overlap_matrix,
        )

        t = " ".join(f"w{i}" for i in range(8))
        docs = spark.createDataFrame(
            [(0, t, "X"), (1, t, "Y")], "doc_id long, text string, source string"
        )
        r = source_overlap_matrix(docs, k=5).first()
        assert (r["src_a"], r["src_b"]) == ("X", "Y")
        assert r["jaccard"] == 1.0


class TestCrossdocSegmentDedup:
    def _run(self, spark, rows, pct):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = DD.crossdoc_segment_dedup(df, max_df_pct=pct)
        return {
            r["doc_id"]: (r["n_segments"], r["n_kept"], r["text_deduped"])
            for r in out.collect()
        }

    ROWS = [
        (0, "AD spark rocks AD"),
        (1, "AD flink also"),
        (2, "AD duck waddles"),
        (3, "quiet corner here"),
    ]

    def test_boilerplate_dropped_everywhere(self, spark):
        # "AD" is in 3/4 docs (75%) -> blocked at pct=60; every occurrence
        # goes, including the repeat inside doc 0; rare tokens survive
        out = self._run(spark, self.ROWS, pct=60)
        assert out[0] == (4, 2, "spark rocks")
        assert out[1] == (3, 2, "flink also")
        assert out[3] == (3, 3, "quiet corner here")

    def test_threshold_is_document_frequency_not_term_frequency(self, spark):
        # a token repeated many times inside ONE doc never blocks
        rows = [(0, "x x x x x y"), (1, "z w v")]
        out = self._run(spark, rows, pct=60)
        assert out[0] == (6, 6, "x x x x x y")

    def test_empty_blocklist_is_identity(self, spark):
        out = self._run(spark, self.ROWS, pct=101)
        for doc_id, (n, kept, text) in out.items():
            assert n == kept
            assert text == dict(self.ROWS)[doc_id]

    def test_doc_can_lose_everything(self, spark):
        rows = [(0, "AD"), (1, "AD"), (2, "AD"), (3, "other words")]
        out = self._run(spark, rows, pct=60)
        assert out[0] == (1, 0, "")
        assert out[3] == (2, 2, "other words")


class TestExactSubstringClusters:
    """operators/dedup.exact_substring_clusters — transitive duplicate
    families over shared duplicated windows (star edges + components)."""

    def _fam(self, spark, docs, min_len):
        from sentiment_analysis_bigdata_spark.operators.dedup import (
            exact_substring_clusters,
        )

        df = spark.createDataFrame(docs, "doc_id long, text string")
        return {
            r["doc_id"]: (r["family_id"], r["family_size"])
            for r in exact_substring_clusters(df, min_len=min_len).collect()
        }

    def test_transitive_chain_one_family(self, spark):
        # doc0~doc1 share blockA, doc1~doc2 share blockB: one family of 3
        # even though doc0 and doc2 share nothing directly.
        a = "AAAAAAAAAABBBBBBBBBB"  # 20 chars
        b = "CCCCCCCCCCDDDDDDDDDD"
        docs = [
            (0, a + "0123456789!@#$%^&*()"),
            (1, "qwertyuiop" + a + b),
            (2, b + "zxcvbnm,./ASDFGHJKL:"),
            (3, "completely unique text with no repeats at all 123"),
        ]
        fam = self._fam(spark, docs, 10)
        assert fam == {0: (0, 3), 1: (0, 3), 2: (0, 3)}

    def test_intradoc_only_repeats_excluded(self, spark):
        # doc0 repeats a block INSIDE itself only — duplicated windows but
        # no cross-doc partner: excluded from the family view.
        block = "XYXYXYXYXYXYXYXYXYXY"
        docs = [
            (0, block + "0123456789" + block),
            (1, "totally unrelated content 9876543210 qwerty"),
        ]
        assert self._fam(spark, docs, 10) == {}

    def test_two_disjoint_families_with_sizes(self, spark):
        a = "SHAREDBLOCKONE_______"
        b = "sharedblocktwo......."
        docs = [
            (0, a + "pad0pad0pad0"),
            (1, a + "pad1pad1pad1"),
            (2, b + "pad2pad2pad2"),
            (3, b + "pad3pad3pad3"),
            (4, b + "pad4pad4pad4"),
        ]
        fam = self._fam(spark, docs, 12)
        assert fam == {0: (0, 2), 1: (0, 2), 2: (2, 3), 3: (2, 3), 4: (2, 3)}


class TestExactSubstrPrefilterBoundaries:
    """Winnowing-anchor prefilter edges: the auto-threshold boundary
    (L=23 stride-1 path vs L=24 prefiltered path) and a long-L case,
    each against a hand-computed expectation and the prefilter-off twin."""

    def _spans(self, spark, docs, L, **kw):
        from sentiment_analysis_bigdata_spark.operators.dedup import (
            exact_substring_spans,
        )

        df = spark.createDataFrame(docs, "doc_id long, text string")
        return {
            (r["doc_id"], r["span_start"], r["span_end"])
            for r in exact_substring_spans(df, min_len=L, **kw).collect()
        }

    def test_forced_prefilter_below_w0_rejected(self, spark):
        """prefilter=True with L <= W0 degenerates (anchor gram length
        <= 1 → every position an anchor → superset of the stride-1 work
        plus the anchor passes). Guarded loud per ADVICE r9; the
        (W0, _ANCHOR_MIN_L) band stays allowed for path-parity tests."""
        from sentiment_analysis_bigdata_spark.operators import dedup as DD

        df = spark.createDataFrame(
            [(0, "some text long enough either way " * 4)],
            "doc_id long, text string",
        )
        for L in (DD._ANCHOR_W0, DD._ANCHOR_W0 - 4, 2):
            with pytest.raises(ValueError, match="prefilter=True requires"):
                DD._exactsubstr_marked(df, "text", "doc_id", L, prefilter=True)
        # auto mode at the same L silently takes the stride-1 path
        DD._exactsubstr_marked(df, "text", "doc_id", DD._ANCHOR_W0).collect()
        # forced-on just above W0 is allowed (parity band)
        DD._exactsubstr_marked(
            df, "text", "doc_id", DD._ANCHOR_W0 + 1, prefilter=True
        ).collect()

    def test_forced_band_parity_short_anchor_grams(self, spark):
        """The explicitly-allowed forced band W0 < L < _ANCHOR_MIN_L uses
        anchor grams as short as 2 chars — maximal hash-collision density
        on a small alphabet, the worst case for the anchor guarantee's
        tie handling. Prefilter on/off must agree position-for-position
        on adversarial periodic 2-letter corpora."""
        from sentiment_analysis_bigdata_spark.operators import dedup as DD

        docs = [
            (0, "ab" * 40),                      # pure period-2
            (1, "ab" * 15 + "ba" * 15),           # phase flip
            (2, "a" * 50),                        # unary
            (3, "ab" * 12 + "unique-tail-XYZQW"), # shared prefix only
            (4, "zzqq" + "ab" * 20 + "qqzz"),     # embedded block
            (5, "no dup here 0123456789!@#$%^&"),
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        for L in (DD._ANCHOR_W0 + 1, 19, DD._ANCHOR_MIN_L - 1):
            on = {
                (r["doc_id"], r["off"])
                for r in DD._exactsubstr_marked(
                    df, "text", "doc_id", L, prefilter=True
                ).collect()
            }
            off = {
                (r["doc_id"], r["off"])
                for r in DD._exactsubstr_marked(
                    df, "text", "doc_id", L, prefilter=False
                ).collect()
            }
            assert on == off, (L, on ^ off)

    def test_threshold_boundary_paths_agree(self, spark):
        shared = "SHARED-BLOCK-0123456789ABCDEF"  # 29 chars > both L
        docs = [
            (0, "qwertyuiop" + shared + "asdfghjkl;"),
            (1, shared + "zxcvbnm,./!@#$%^&*()_+-=[每]"),
            (2, "no duplicated content whatsoever 000"),
        ]
        for L in (23, 24):  # last stride-1 / first prefiltered
            want = {(0, 11, 11 + 29), (1, 1, 1 + 29)}
            got_auto = self._spans(spark, docs, L)
            got_off = self._spans(spark, docs, L, prefilter=False)
            got_on = self._spans(spark, docs, L, prefilter=True)
            assert got_auto == got_off == got_on == want, L

    def test_long_window_prefiltered(self, spark):
        block = ("LONGBLOCK-" * 10)[:96]  # 96 chars, one shared block
        docs = [
            (0, "A" * 30 + block + "B" * 30),
            (1, block + "C" * 50),
        ]
        # periodic block: intra-block self-repeats extend the covered
        # region beyond the planted offsets, so exact span equality is
        # not pinned here; assert both paths agree AND cover the copy
        got_on = self._spans(spark, docs, 64, prefilter=True)
        got_off = self._spans(spark, docs, 64, prefilter=False)
        assert got_on == got_off
        covered0 = [
            (a, b) for d, a, b in got_on if d == 0 and a <= 31 and b >= 31 + 96
        ]
        covered1 = [
            (a, b) for d, a, b in got_on if d == 1 and a <= 1 and b >= 1 + 96
        ]
        assert covered0 and covered1
