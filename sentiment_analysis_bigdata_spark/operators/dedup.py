"""Deduplication operators (north star): exact, MinHash-LSH, SimHash,
n-gram Jaccard, embedding-cosine near-dup.

Absent from the reference (it has no dedup at all); designed here as the
LLM-training-pipeline workhorses. Every operator is expressed so the heavy
side stays distributed:

- exact dedup: hash-groupBy on a fingerprint — one shuffle, no sort.
- MinHash-LSH: signature (narrow) → band explode (narrow) → bucket
  group-by (shuffle on band hash) → in-bucket pairs → pair verify.
  Candidate pairs only — never O(n²).
- SimHash: 64-bit signature + banded buckets for Hamming-radius search.
- embedding near-dup: sign-LSH buckets → in-bucket cosine.

All signatures use the md5-based stable hashes from ``functions.hashing`` so
results are deterministic across engines (oracle-checkable).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sentiment_analysis_bigdata_spark.functions import hashing as H
from sentiment_analysis_bigdata_spark.functions import text as TXT
from sentiment_analysis_bigdata_spark.functions import vector as V
from sentiment_analysis_bigdata_spark.plans.barrier import barrier_eager, barrier_lazy
from sentiment_analysis_bigdata_spark.sources import local_frame


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one row per normalized-text fingerprint (lowest id wins).

    groupBy(fingerprint) → min(id), then a semi-join back for the full row.
    Deterministic survivor choice (min id) — ``dropDuplicates`` keeps an
    arbitrary row, which is not reproducible across runs/engines.
    """
    fp = TXT.fingerprint(text_col)
    keyed = df.withColumn("__fp", fp)
    survivors = keyed.groupBy("__fp").agg(F.min(id_col).alias(id_col))
    return keyed.join(survivors, ["__fp", id_col], "left_semi").drop("__fp")


def exact_dedup_keep_best(
    df: DataFrame,
    score_col: Column | str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact dedup that keeps the BEST duplicate, not the first: per
    fingerprint cluster the survivor is argmax(score, tie → min id) —
    what a production curation pipeline actually wants (when a page was
    crawled five times, keep the highest-quality capture, not the lowest
    crawl id). Same one-agg + semi-join shape as :func:`exact_dedup`;
    the argmax is a single ``max_by`` on a (score, -id) struct, so
    survivor choice stays deterministic and engine-reproducible.
    """
    s = F.col(score_col) if isinstance(score_col, str) else score_col
    keyed = df.withColumn("__fp", TXT.fingerprint(text_col))
    # struct ordering = lexicographic: score first, then -id so the tie
    # break is the SMALLEST id at equal score
    best = keyed.groupBy("__fp").agg(
        F.max(
            F.struct(
                s.alias("s"), (-F.col(id_col)).alias("nid")
            )
        ).alias("__best")
    ).select(
        "__fp", (-F.col("__best.nid")).alias(id_col)
    )
    return keyed.join(best, ["__fp", id_col], "left_semi").drop("__fp")


def duplicate_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_cluster_size: int = 2,
) -> DataFrame:
    """(fingerprint, n_docs, min_doc_id) per fingerprint cluster.

    ``min_cluster_size=2`` (default) returns only true duplicate groups;
    ``min_cluster_size=1`` includes singletons, which verifies the
    fingerprint itself on corpora with few or no exact duplicates.
    """
    return (
        df.groupBy(TXT.fingerprint(text_col).alias("fingerprint"))
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("min_doc_id"))
        .filter(F.col("n_docs") >= min_cluster_size)
    )


def _minhash_kernel(params, out_col: str):
    """Arrow batch kernel: (doc_id, __h31) → (doc_id, signature array).

    For permutation i: min over tokens x of (a·(x⊕s) + b) mod p — the
    exact family in ``hashing._MINHASH_PARAMS`` (a < 2³¹ and x⊕s < 2³¹,
    so the int64 product never overflows). Vectorized across the batch:
    one (n_tokens × k) permutation matrix, per-doc mins via
    ``np.minimum.reduceat``. Empty docs get the sentinel p per slot."""
    import numpy as np

    A = np.array([a % (1 << 31) for a, _, _ in params], dtype=np.int64)
    B = np.array([b for _, b, _ in params], dtype=np.int64)
    S = np.array([s for _, _, s in params], dtype=np.int64)
    P = np.int64(H.MERSENNE_P)

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            out = np.full((len(pdf), len(A)), int(P), dtype=np.int64)
            lens = np.fromiter(
                (0 if hs is None else len(hs) for hs in pdf["__h31"]),
                dtype=np.int64,
                count=len(pdf),
            )
            nz_idx = np.flatnonzero(lens > 0)
            h_col = pdf["__h31"]
            for lo, hi in _doc_slices(lens[nz_idx], _MAX_SLICE_TOKENS):
                docs = nz_idx[lo:hi]
                flat = np.concatenate(
                    [np.asarray(h_col.iat[d], dtype=np.int64) for d in docs]
                )
                perms = (A[None, :] * (flat[:, None] ^ S[None, :]) + B[None, :]) % P
                offsets = np.zeros(len(docs), dtype=np.int64)
                np.cumsum(lens[docs][:-1], out=offsets[1:])
                out[docs] = np.minimum.reduceat(perms, offsets, axis=0)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], out_col: list(out)}
            )

    return kernel


def minhash_signatures(
    df: DataFrame,
    tokens_col: Column | str,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    out_col: str = "sig",
) -> DataFrame:
    """(doc_id, sig array<bigint>): MinHash signatures, corpus-scale path.

    Same split as :func:`simhash_signatures`: the 31-bit md5 token hashes
    compute JVM-side (bit-identical to ``hashing.minhash_signature`` and
    its SQL twin), then ONE narrow Arrow hop evaluates all ``num_hashes``
    permutations as a single numpy matrix instead of ``num_hashes``
    interpreted HOF passes (each of which allocates a permuted copy of
    the hash array per row). No shuffle; only (id, array<long>) crosses
    the Arrow boundary.
    """
    toks = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    h31 = F.transform(
        toks, lambda t: F.pmod(H.md5_hash64_expr(t), F.lit(1 << 31))
    )
    id_type = df.schema[id_col].dataType.simpleString()
    return df.select(
        F.col(id_col).alias("doc_id"), h31.alias("__h31")
    ).mapInPandas(
        _minhash_kernel(H.minhash_params(num_hashes), out_col),
        schema=f"doc_id {id_type}, {out_col} array<bigint>",
    )


def minhash_bands(
    df: DataFrame,
    tokens_col: Column | str,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """(doc_id, band, band_key): LSH banding of a MinHash signature.

    rows-per-band r = num_hashes/bands; two docs share a band key iff their
    signatures agree on all r rows of that band → Jaccard-similar docs
    collide with high probability (standard MinHash-LSH banding).
    Signatures come from the Arrow kernel (:func:`minhash_signatures`).
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    r = num_hashes // bands
    keyed = minhash_signatures(df, tokens_col, id_col, num_hashes, "__sig")
    band_rows = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(F.concat_ws(",", *[F.col("__sig")[b * r + i] for i in range(r)])).alias(
                "band_key"
            ),
        )
        for b in range(bands)
    ]
    return keyed.select(
        "doc_id", F.explode(F.array(*band_rows)).alias("bk")
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key"))


def minhash_candidate_pairs(
    df: DataFrame,
    tokens_col: Column | str,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """Distinct candidate (a, b) pairs (a < b) sharing ≥1 LSH band bucket.

    The band rows group on (band, band_key) — one shuffle, bucket-local,
    never O(n²). Each bucket's sorted member set expands one member at a
    time: member a streams out its (a, b) pairs with every later member
    b, so no array holds more than the bucket's n members (a bucket
    expanded as one array of its n(n-1)/2 pairs would need GBs per row
    and passes Spark's array size limit at 65,537 members). ``distinct``
    then folds pairs that share several bands. The band frame is
    consumed once, so the MinHash Arrow kernel runs once per evaluation
    (a self-join reads it twice, and at small scale AQE broadcasts one
    side, running the kernel once per side). Hot buckets (boilerplate
    docs) are the skew risk at 100 TB: a bucket's member set is one row
    and its pair count is quadratic in its size.
    ``max_bucket`` (off by default — dropping data silently is a policy
    decision) excludes buckets with more members from candidate
    generation, the standard production guard against quadratic blowup
    on boilerplate.
    """
    buckets = (
        minhash_bands(df, tokens_col, id_col, num_hashes, bands)
        .groupBy("band", "band_key")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("ids"))
    )
    ids = F.col("ids")
    keep = F.size(ids) >= 2
    if max_bucket is not None:
        keep = keep & (F.size(ids) <= max_bucket)
    return (
        buckets.filter(keep)
        .select("ids", F.posexplode(ids).alias("i", "a"))
        .select("a", F.explode(F.slice(ids, F.col("i") + 2, F.size(ids))).alias("b"))
        .distinct()
    )


def jaccard_similarity(a_tokens: Column, b_tokens: Column) -> Column:
    """Set Jaccard of two token arrays (order/duplicate insensitive)."""
    inter = F.size(F.array_intersect(a_tokens, b_tokens)).cast("double")
    union = F.size(F.array_union(a_tokens, b_tokens)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: tokens/shingles → signatures →
    banded candidates → exact Jaccard verify ≥ threshold.

    Returns (a, b, jaccard). The verify join re-attaches token arrays to
    candidate pairs only — the pair set is tiny relative to the corpus.
    """
    toks = (
        H.char_shingles(text_col, shingle_k)
        if shingle_k
        else TXT.tokenize_nonempty(text_col)
    )
    base = df.select(F.col(id_col).alias("doc_id"), F.array_distinct(toks).alias("toks"))
    cands = minhash_candidate_pairs(
        base, F.col("toks"), "doc_id", num_hashes, bands, max_bucket=max_bucket
    )
    a = base.select(F.col("doc_id").alias("a"), F.col("toks").alias("a_toks"))
    b = base.select(F.col("doc_id").alias("b"), F.col("toks").alias("b_toks"))
    return (
        cands.join(a, "a")
        .join(b, "b")
        .withColumn("jaccard", jaccard_similarity(F.col("a_toks"), F.col("b_toks")))
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


# Cap on tokens per vectorized numpy slice inside the Arrow kernels: the
# (tokens × bits) vote matrix stays ≲ 30 MB so temporaries live in cache
# instead of thrashing main memory.
_MAX_SLICE_TOKENS = 65536


def _doc_slices(lens, max_tokens: int):
    """Split docs (token counts ``lens``) into contiguous [lo, hi) slices
    whose token totals stay ≤ max_tokens (oversized docs get their own
    slice)."""
    n = len(lens)
    lo = 0
    while lo < n:
        hi, total = lo, 0
        while hi < n and (hi == lo or total + lens[hi] <= max_tokens):
            total += lens[hi]
            hi += 1
        yield lo, hi
        lo = hi


def _simhash_votes_kernel(n_bits: int, weighted: bool, out_col: str):
    """Arrow batch kernel: (doc_id, __hs[, __ws]) → (doc_id, signature).

    Fully vectorized across the batch: token-hash lists flatten to ONE
    (n_tokens × 60) bit matrix; per-doc vote sums come from a single
    ``np.add.reduceat`` over the flattened contributions — no per-token
    Python, no per-doc numpy re-dispatch."""

    def kernel(batches):
        import numpy as np
        import pandas as pd

        bit_idx = np.arange(n_bits, dtype=np.int64)

        for pdf in batches:
            out = np.zeros(len(pdf), dtype=np.int64)
            lens = np.fromiter(
                (0 if hs is None else len(hs) for hs in pdf["__hs"]),
                dtype=np.int64,
                count=len(pdf),
            )
            nz_idx = np.flatnonzero(lens > 0)
            hs_col = pdf["__hs"]
            ws_col = pdf["__ws"] if weighted else None
            # Slice the batch so each (tokens × 60) vote matrix stays
            # ~cache-sized: one batch-wide matrix for 10⁶ tokens would be
            # ~0.5 GB ×3 temporaries — measured 6× slower than slicing.
            for lo, hi in _doc_slices(lens[nz_idx], _MAX_SLICE_TOKENS):
                docs = nz_idx[lo:hi]
                flat = np.concatenate(
                    [np.asarray(hs_col.iat[d], dtype=np.int64) for d in docs]
                )
                # (n_tokens, 60) ±1 votes (±w when weighted)
                contrib = 2 * ((flat[:, None] >> bit_idx) & 1) - 1
                if weighted:
                    w = np.concatenate(
                        [np.asarray(ws_col.iat[d], dtype=np.int64) for d in docs]
                    )
                    contrib = contrib * w[:, None]
                offsets = np.zeros(len(docs), dtype=np.int64)
                np.cumsum(lens[docs][:-1], out=offsets[1:])
                votes = np.add.reduceat(contrib, offsets, axis=0)
                out[docs] = ((votes > 0).astype(np.int64) << bit_idx).sum(axis=1)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], out_col: out})

    return kernel


def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    weighted: bool = False,
    out_col: str = "simhash",
) -> DataFrame:
    """(doc_id, simhash): 60-bit SimHash over word tokens.

    Kernel shape (the corpus-scale path, measured 3× faster than the
    per-row HOF expression at sf0.1 by the one-off
    tools/simhash_kernel_bench.py, since removed; see git history):
    the md5 token hashes compute JVM-side exactly as in
    ``hashing.simhash64`` (so the DuckDB oracle replays them bit-for-bit
    and there is no Python tokenizer to keep in sync), then ONE Arrow
    ``mapInPandas`` hop turns each batch of hash arrays into signatures
    via a vectorized numpy popcount/vote matrix. The HOF expression
    allocates two 60-slot arrays per token in interpreted evaluation
    (~0.4 ms/doc); the numpy kernel does the same votes as one
    (tokens × 60) matrix reduction per batch.

    Plan stays NARROW — no explode, no shuffle; partitioning and row
    order are preserved, and the Arrow transfer carries only
    (id, array<long>) — never the document text. ``weighted=True`` votes
    with token character length (Charikar weighting, engine-portable).
    Docs with no/null text get signature 0 (matching the SQL twin).
    """
    n_bits = H.MD5_PREFIX_HEX_CHARS * 4  # 60
    toks = TXT.tokenize_nonempty(text_col)
    hs = F.transform(toks, H.md5_hash64_expr)
    cols = [F.col(id_col).alias("doc_id"), hs.alias("__hs")]
    if weighted:
        cols.append(
            F.transform(toks, lambda t: F.length(t).cast("bigint")).alias("__ws")
        )
    id_type = df.schema[id_col].dataType.simpleString()
    return df.select(*cols).mapInPandas(
        _simhash_votes_kernel(n_bits, weighted, out_col),
        schema=f"doc_id {id_type}, {out_col} bigint",
    )


def simhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """SimHash near-dup: band the 60-bit signature into ``bands`` chunks; by
    pigeonhole, any pair within ``max_hamming < bands`` bits shares at least
    one exact chunk → bucket join on chunks, verify with bit_count(xor).

    Returns (a, b, hamming).
    """
    bits = H.MD5_PREFIX_HEX_CHARS * 4  # 60
    chunk = bits // bands
    sigs = simhash_signatures(df, text_col, id_col)
    chunks = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright(F.col("simhash"), i * chunk)
                        .bitwiseAND(F.lit((1 << chunk) - 1))
                        .alias("chunk_key"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("c"),
    ).select("doc_id", "simhash", F.col("c.band").alias("band"), F.col("c.chunk_key").alias("chunk_key"))
    l, r = chunks.alias("l"), chunks.alias("r")
    return (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.chunk_key") == F.col("r.chunk_key"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("a"),
            F.col("r.doc_id").alias("b"),
            H.hamming64(F.col("l.simhash"), F.col("r.simhash")).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
) -> DataFrame:
    """Exact n-gram Jaccard for a given candidate pair set (a, b).

    Decoupled from candidate generation so any bucketing strategy (MinHash,
    SimHash, sign-LSH, blocking keys) can feed it.
    """
    grams = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(TXT.ngrams(TXT.tokenize_nonempty(text_col), n)).alias("g"),
    )
    return (
        pairs.join(grams.select(F.col("id").alias("a"), F.col("g").alias("a_g")), "a")
        .join(grams.select(F.col("id").alias("b"), F.col("g").alias("b_g")), "b")
        .select("a", "b", jaccard_similarity(F.col("a_g"), F.col("b_g")).alias("jaccard"))
    )


# Pair graphs with at most this many directed edges close on the driver
# (numpy rounds over the collected edge list); larger graphs keep the
# distributed join + aggregate round. The bound caps driver memory, not
# speed: on 4 cores, 2^20 edges of 4-node chains take 16 MB of Arrow and a
# 63 MB numpy peak, and close in 6.2 s against 16.8 s for the Spark step;
# at 2^21 edges the size probe costs 0.8 s beside a 19.9 s Spark step
# (SCALING.md, "Near-dup clustering").
LOCAL_COMPONENTS_MAX_EDGES = 1 << 20


def _spark_label_round(edges: DataFrame):
    """Min-label round over the distributed edge list: one join + one
    aggregation, materialized by an eager barrier, plus the label-sum
    action. Round 1 (``labels`` None) reads the edge list alone."""

    def step(labels):
        if labels is None:
            nxt = (
                edges.groupBy("src")
                .agg(F.least(F.col("src"), F.min("dst")).alias("label"))
                .withColumnRenamed("src", "node")
            )
        else:
            neighbor_min = (
                edges.join(labels, edges.dst == labels.node)
                .groupBy("src")
                .agg(F.min("label").alias("nbr_label"))
                .withColumnRenamed("src", "node")
            )
            nxt = labels.join(neighbor_min, "node", "left").select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
            )
        nxt = nxt.transform(barrier_eager)
        return nxt, nxt.agg(F.sum("label")).first()[0]

    def result(labels):
        if labels is None:
            return edges.select(
                F.col("src").alias("node"), F.col("src").alias("component")
            ).distinct()
        return labels.select("node", F.col("label").alias("component"))

    return step, result


def _local_label_round(spark, table, id_type):
    """The same min-label round over a collected edge list (a pyarrow
    table of ``src``/``dst``): ``np.minimum.at`` scatters each edge's
    neighbor label, so round r yields exactly the labels of the Spark
    round r. The result is an Arrow local relation of the edge id type."""
    import numpy as np

    src = table.column("src").to_numpy()
    nodes, si = np.unique(src, return_inverse=True)
    di = np.searchsorted(nodes, table.column("dst").to_numpy())

    def step(labels):
        cur = nodes if labels is None else labels
        nxt = cur.copy()
        np.minimum.at(nxt, si, cur[di])
        # SQL sum semantics: an empty label set sums to NULL
        return nxt, (int(nxt.sum()) if len(nxt) else None)

    def result(labels):
        return local_frame(
            spark,
            [nodes, nodes if labels is None else labels],
            T.StructType(
                [T.StructField("node", id_type), T.StructField("component", id_type)]
            ),
        )

    return step, result


def connected_components(
    pairs: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    max_iterations: int = 20,
    require_convergence: bool = True,
) -> DataFrame:
    """Connected components over a pair graph → (node, component) with
    component = min node id in the component.

    ``require_convergence`` defaults to True (round 10): propagation
    needs O(diameter) rounds, and a graph deeper than the budget used to
    return silently-PARTIAL labels — at corpus scale that is silent
    under-deduplication through ``apps corpus-cluster-dedup``. Now it
    fails loud; callers with genuinely deep graphs should use
    :func:`connected_components_star` (O(log n) rounds) rather than
    raising the budget.

    Near-dup pairs are edges; transitive closure groups a→b, b→c into one
    cluster (pairwise dedup alone would keep c). Algorithm: iterative
    min-label propagation — each round every node adopts the smallest label
    among itself and its neighbors; converges in O(diameter) rounds.
    Round 1 reads the edge list alone (``least(src, min(dst))``), so no
    identity-label pass runs. Convergence is detected by the label sum:
    min-propagation is monotone non-increasing per node, so a round with
    an unchanged sum is a fixed point — one cheap aggregation instead of
    a change-detection join.

    One round loop, two round steps. The symmetric edge list is
    materialized once behind an eager barrier; an integral edge list of
    at most ``LOCAL_COMPONENTS_MAX_EDGES`` directed edges is then
    collected (one bounded ``limit`` probe) and every round is a numpy
    scatter-min on the driver, returned as an Arrow local relation —
    a small pair graph pays no per-round join, barrier or sum job.
    Larger graphs (a 100 TB pair graph does not fit on the driver) keep
    the distributed step: one join + one aggregation per round, each
    round's labels materialized via ``localCheckpoint`` — without it the
    logical plan doubles per iteration and Catalyst analysis time
    explodes (an unbounded iterative join loop is the classic Spark
    footgun). On a real cluster, swap for ``df.checkpoint()`` against
    reliable storage so executor loss can't lose label state. Both steps
    run the same rounds, so labels, the non-convergence error and the
    partial labels under ``require_convergence=False`` are identical.
    """
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .union(pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .distinct()
        .transform(barrier_eager)
    )
    id_type = edges.schema["src"].dataType
    probe = None
    if isinstance(id_type, T.IntegralType):
        probe = edges.limit(LOCAL_COMPONENTS_MAX_EDGES + 1).toArrow()
    if (
        probe is not None
        and probe.num_rows <= LOCAL_COMPONENTS_MAX_EDGES
        and probe.column("src").null_count == 0
    ):
        step, result = _local_label_round(pairs.sparkSession, probe, id_type)
    else:
        step, result = _spark_label_round(edges)
    labels, prev_sum = None, None
    for _ in range(max_iterations):
        labels, new_sum = step(labels)
        # prev_sum starts as NULL: round 1 of a non-empty graph never
        # matches it, and an empty graph (sum NULL) converges at once
        if new_sum == prev_sum:
            return result(labels)
        prev_sum = new_sum
    if require_convergence:
        # One more fixed-point probe would cost a full round; callers with
        # an EXACT contract (oracle-replayed reachability) must not return
        # silently-partial labels when the graph diameter exceeds the
        # round budget.
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "rounds (graph diameter exceeds the budget); use "
            "connected_components_star (O(log n) rounds) for deep graphs, "
            "or raise max_iterations"
        )
    return result(labels)


def dedup_segments(
    df: DataFrame,
    text_col: str = "text",
    sep: str = " ",
) -> DataFrame:
    """Intra-document segment dedup (the C4/Gopher 'remove duplicate lines'
    primitive, parameterized by separator): split on ``sep``, keep only the
    FIRST occurrence of each segment (order preserved), rejoin.

    Pure narrow expressions — a two-arg HOF filter keeps segment i iff its
    first occurrence index equals i. Per-doc cost is O(segments²) with tiny
    constants; segments-per-doc is bounded (lines/sentences), so this fuses
    into the scan stage and never shuffles.

    Adds ``{text_col}_deduped`` plus before/after segment counts.
    """
    # materialize the split ONCE as a column: referencing the split
    # expression inside the lambda would re-split per element (HOF lambda
    # bodies get no common-subexpression elimination)
    segs = F.col("__segs")
    kept = F.filter(segs, lambda x, i: F.array_position(segs, x) == i + 1)
    return (
        df.withColumn("__segs", F.split(F.col(text_col), sep))
        .withColumn("__kept", kept)
        .select(
            "*",
            F.size("__segs").cast("bigint").alias("n_segments"),
            F.size("__kept").cast("bigint").alias("n_unique_segments"),
            F.array_join("__kept", sep).alias(f"{text_col}_deduped"),
        )
        .drop("__segs", "__kept")
    )


def crossdoc_segment_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = " ",
    max_df_pct: int = 50,
) -> DataFrame:
    """Cross-document segment dedup (the CCNet / RefinedWeb boilerplate-
    removal primitive): drop EVERY occurrence of any segment (line,
    paragraph, or token, per ``sep``) whose corpus document frequency is
    >= ``max_df_pct`` percent of documents — navigation chrome, licence
    headers, and cookie banners repeat across a crawl, so a high-df
    segment is boilerplate by definition. Complements ``dedup_segments``
    (intra-document, first-occurrence-wins) with the corpus-wide pass.

    Shape for 100 TB: one narrow explode of per-doc DISTINCT segments,
    ONE aggregation on the segment key (the only shuffle), then the
    blocklist collapses to a single-row array that broadcasts back as a
    crossJoin — the document table itself is never shuffled and is
    rewritten by a narrow HOF filter in the scan stage. The blocklist is
    bounded by construction: a segment needs df >= p% of n docs, so at
    most (avg distinct segments per doc) * 100/p entries exist,
    independent of corpus size. The threshold is integer-exact
    (``df * 100 >= n_docs * p``) so the kept set is engine-reproducible.

    Adds ``n_segments``, ``n_kept``, and ``{text_col}_deduped``.
    """
    segs_arr = F.split(F.col(text_col), sep)
    per_doc = df.select(
        F.col(id_col), F.explode(F.array_distinct(segs_arr)).alias("__seg")
    )
    n_docs = df.agg(F.count(F.lit(1)).alias("__n_docs"))
    blocked = (
        per_doc.groupBy("__seg")
        .agg(F.count(F.lit(1)).alias("__df"))
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("__df") * F.lit(100) >= F.col("__n_docs") * F.lit(max_df_pct))
    )
    blocklist = blocked.agg(
        F.coalesce(F.collect_set("__seg"), F.array().cast("array<string>")).alias(
            "__bl"
        )
    )
    bl = F.col("__bl")
    return (
        df.crossJoin(F.broadcast(blocklist))
        .withColumn("__segs", segs_arr)
        .withColumn("__kept", F.filter(F.col("__segs"), lambda x: ~F.array_contains(bl, x)))
        .select(
            "*",
            F.size("__segs").cast("bigint").alias("n_segments"),
            F.size("__kept").cast("bigint").alias("n_kept"),
            F.array_join("__kept", sep).alias(f"{text_col}_deduped"),
        )
        .drop("__segs", "__kept", "__bl")
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_matches: int = 1,
) -> DataFrame:
    """Benchmark decontamination: find corpus docs sharing ≥ ``min_matches``
    distinct token n-grams with ANY benchmark document — the standard check
    that an eval set hasn't leaked into the training corpus.

    Shape for 100 TB: the benchmark side is tiny (eval sets are thousands of
    rows), so AQE broadcasts its distinct n-gram hashes at runtime — no
    forced hint, since the gram count is data-dependent and the unhinted
    plan degrades to a shuffle join instead of OOMing if a caller passes an
    oversized "benchmark". The corpus explodes to (doc, gram) — narrow —
    and the probe is an inner join followed by one per-doc aggregation.
    The corpus is never self-joined and never shuffled on gram while the
    benchmark side fits the broadcast threshold.

    Returns (doc_id, n_matching_grams) for flagged docs.
    """
    def grams(df: DataFrame, keep_id: bool) -> DataFrame:
        toks = TXT.tokenize_nonempty(text_col)
        g = F.explode(F.array_distinct(TXT.ngrams(toks, n))).alias("gram")
        cols = [F.col(id_col).alias("doc_id"), g] if keep_id else [g]
        return df.select(*cols)

    bench_grams = grams(benchmark, keep_id=False).distinct()
    return (
        grams(corpus, keep_id=True)
        .join(bench_grams, "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_matching_grams"))
        .filter(F.col("n_matching_grams") >= min_matches)
    )


def embedding_near_duplicates(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_bits: int = 8,
) -> DataFrame:
    """Embedding-cosine near-dup: sign-LSH bucket join → in-bucket cosine.

    Two vectors with cosine ≥ 0.95 almost always agree on leading-dim signs
    (each sign flip requires the hyperplane to pass between them); bucketing
    on ``n_bits`` signs shrinks the join from O(n²) to per-bucket blocks.
    Returns (a, b, cosine) with a < b.
    """
    # norms precomputed once per row: HOF folds are interpreted with no
    # CSE, so the per-pair cosine otherwise pays ~5 folds instead of 1
    # (dot only); dot/(na·nb) is IEEE-identical to the per-pair form
    base = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        V.norm(F.col(vec_col)).alias("nrm"),
        V.hyperplane_sign_bucket(vec_col, n_bits).alias("bucket"),
    )
    l, r = base.alias("l"), base.alias("r")
    denom = F.col("l.nrm") * F.col("r.nrm")
    return (
        l.join(
            r,
            (F.col("l.bucket") == F.col("r.bucket")) & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("a"),
            F.col("r.id").alias("b"),
            F.when(denom > 0, V.dot(F.col("l.v"), F.col("r.v")) / denom)
            .otherwise(F.lit(0.0))
            .alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 4,
    repartition_to: int | None = None,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every character k-gram, slide a
    window of ``w`` consecutive hashes, select the minimum per window, and
    keep the distinct selected hashes as the document's fingerprint set.

    Guarantees of the scheme: any shared substring of length >= k + w - 1
    between two documents yields at least one SHARED fingerprint, while only
    ~2/(w+1) of positions are selected — a contiguous-match detector with
    bounded density (unlike MinHash, which sketches whole-document set
    similarity, winnowing localizes copied passages).

    Scale shape: ZERO shuffle — the whole selection is a narrow per-row
    pipeline. The k-gram hash array computes once per row (JVM md5,
    let-bound with the single-element-transform idiom so interpreted eval
    doesn't re-derive it per window — there is no CSE in HOF lambdas, see
    SCALING.md), the per-window min is ``array_min(slice(hashes, j, w))``
    over window starts, and ``array_distinct`` dedups in place; only the
    ~2/(w+1)-dense fingerprint set ever explodes. An earlier formulation
    posexploded every character position and ran a ROWS window over it —
    same values, but it shuffled n_chars x 16 bytes per document for a
    per-doc sliding min that needs no partitioning at all.

    ``repartition_to``: optional parallelism floor for the hashing pass.
    Parquet scans split at row-group granularity, so a small single-group
    file yields ONE task no matter the core count; a tiny pre-shuffle then
    unlocks every core for the md5-dominated projection. At 100 TB the
    input has thousands of natural splits and the knob should stay None.

    Returns distinct (id_col, fp) pairs for docs with >= 1 full window.
    """
    c = F.lower(F.col(text_col))
    grams = F.transform(
        F.sequence(F.lit(1), F.length(c) - F.lit(k - 1)),
        lambda i: H.md5_hash64_expr(c.substr(i, F.lit(k))),
    )

    def select_fps(hs: Column) -> Column:
        # window j covers hashes j..j+w-1 (1-based); starts 1..n_starts-w+1
        return F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(hs) - F.lit(w - 1)),
                lambda j: F.array_min(F.slice(hs, j, w)),
            )
        )

    fps = F.element_at(F.transform(F.array(grams), select_fps), 1)
    base = df.filter(F.length(c) >= k + w - 1)
    if repartition_to and base.rdd.getNumPartitions() < repartition_to:
        base = base.repartition(repartition_to, id_col)
    return base.select(F.col(id_col), F.explode(fps).alias("fp"))


def winnow_overlap(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 4,
    max_df: int = 50,
    min_shared: int = 2,
    repartition_to: int | None = None,
) -> DataFrame:
    """Cross-document passage-overlap pairs via shared winnowing fingerprints.

    Fingerprint-bucket equi self-join (the MOSS index shape): docs sharing
    >= ``min_shared`` selected fingerprints are candidate contiguous-copy
    pairs. Fingerprints appearing in more than ``max_df`` documents are
    boilerplate (licence headers, templates) and are dropped BEFORE the
    join, capping every bucket — the same df-cap discipline as the sparse
    cosine inverted index (operators/affinity.py); never O(n²).

    The df-cap is a partial-aggregated oversize list anti-joined back —
    NOT a count window over fp: a window partition cannot be split, so a
    mega-duplicated boilerplate fingerprint (exactly the rows the cap
    exists to drop) would funnel its whole corpus-scaled posting through
    ONE window task before the filter ever ran (VERDICT r11 #4 defect
    class). ``groupBy(fp).count`` combines map-side, the oversize list
    is tiny (boilerplate fps only — AQE broadcasts it at runtime), and
    the (md5-dominated) fingerprint pass still runs once because the
    fingerprint frame is barriered before its two consumers.

    Returns (doc_a, doc_b, n_shared) with doc_a < doc_b.
    """
    fps = winnow_fingerprints(df, text_col, id_col, k, w, repartition_to).transform(
        barrier_eager
    )
    oversize = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") > max_df)
        .select("fp")
    )
    kept = fps.join(oversize, "fp", "left_anti")
    l, r = kept.alias("l"), kept.alias("r")
    return (
        l.join(r, "fp")
        .filter(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .groupBy(
            F.col(f"l.{id_col}").alias("doc_a"), F.col(f"r.{id_col}").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def connected_components_star(
    pairs: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    max_rounds: int = 25,
    require_convergence: bool = True,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al. 2014, "Connected Components in MapReduce and Beyond")
    → (node, component), component = min node id — the SAME contract as
    :func:`connected_components`, reached in O(log n) rounds instead of
    O(diameter).

    Why both exist: min-label propagation does one join+agg per round but
    needs as many rounds as the graph's diameter — fine for near-dup
    clusters (tiny diameters), catastrophic for chain-shaped graphs at
    100 TB. Star contraction rewires the edge set itself toward a star
    per component:

    - large-star (per node u): every neighbor LARGER than u re-attaches
      to u's smallest neighbor-or-self m;
    - small-star (per node u, over min-oriented edges): every neighbor
      ≤ u re-attaches to m, and u attaches to m.

    Each half-round is one groupBy-min + one equi join on the node key;
    the edge set provably shrinks toward (node → component-min) stars,
    with convergence detected by an unchanged edge multiset (cheap count
    after subtract on the checkpointed frames). Deterministic throughout
    — no tie-breaks needed (min is total on node ids).
    """
    e = (
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .transform(barrier_eager)
    )
    all_nodes = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .distinct()
        .transform(barrier_eager)
    )
    def _one_round(e: DataFrame) -> DataFrame:
        # --- large star: symmetric neighborhoods; v > u re-attaches to m
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = sym.groupBy("u").agg(F.min("v").alias("mv")).select(
            "u", F.least(F.col("mv"), F.col("u")).alias("m")
        )
        large = (
            sym.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .transform(barrier_eager)
        )
        # --- small star: min-orient (u ≥ v); all small neighbors + u → m
        ori = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        ms = ori.groupBy("u").agg(F.min("v").alias("m"))
        return (
            ori.join(ms, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(ms.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .transform(barrier_eager)
        )

    def _unchanged(a: DataFrame, b: DataFrame) -> bool:
        # edge multiset unchanged (both frames are distinct sets, so two
        # empty set-differences ⇔ equality)
        return a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()

    for _ in range(max_rounds):
        small = _one_round(e)
        if _unchanged(small, e):
            e = small
            converged = True
            break
        e = small
    else:
        # The budget may have been exhausted ON the converging round:
        # the in-loop check compares each round's OUTPUT to its INPUT,
        # so an edge set that reached the fixed point exactly at round
        # max_rounds still reads as unconverged. One confirming round
        # (ADVICE r10) distinguishes "already a fixed point" from
        # "genuinely short of contraction" instead of raising spuriously
        # one round early.
        nxt = _one_round(e)
        converged = _unchanged(nxt, e)
    if require_convergence and not converged:
        # Without the fixed point the edge set is not yet per-component
        # stars: a node can still carry edges to several targets, so the
        # join below would emit DUPLICATE (node, component) rows with
        # conflicting labels — the same silent-partial trap the
        # propagation variant closes (r10). Fail loud instead.
        raise RuntimeError(
            f"connected_components_star did not reach its fixed point in "
            f"{max_rounds} rounds; raise max_rounds (convergence is "
            "O(log n) alternating large/small-star rounds)"
        )
    # final edge set is (node → root) stars; roots and isolated nodes map
    # to themselves
    roots = all_nodes.join(
        e.select(F.col("u").alias("node"), F.col("v").alias("component")),
        "node",
        "left",
    ).select(
        "node", F.coalesce(F.col("component"), F.col("node")).alias("component")
    )
    return roots


def fuzzy_pairs(
    entities: DataFrame,
    name_col: str,
    block: Column,
    max_distance: int = 2,
    max_block: int | None = None,
) -> DataFrame:
    """Blocked edit-distance matching (entity resolution): candidate
    pairs share a BLOCKING KEY (the classic record-linkage trick — a
    cheap deterministic function both near-duplicates agree on), then
    exact Levenshtein filters within the block. Never all-pairs: the
    self-join is keyed on the block, fan-out (block size choose 2), with
    the same ``max_block`` skew guard as co-occurrence
    (operators/affinity.py) for pathological blocks.

    Input should already be entity-grained (e.g. DISTINCT names — at
    100 TB you dedupe to the entity table first; row-grained matching
    re-joins the pairs back). Returns (name_a, name_b, distance),
    name_a < name_b.
    """
    b = entities.select(
        F.col(name_col).alias("name"), block.alias("block")
    ).distinct()
    if max_block is not None:
        sizes = b.groupBy("block").agg(F.count(F.lit(1)).alias("__n"))
        oversize = sizes.filter(F.col("__n") > max_block).select("block")
        b = b.join(oversize, "block", "left_anti")
    left = b.select("block", F.col("name").alias("name_a"))
    right = b.select("block", F.col("name").alias("name_b"))
    return (
        left.join(right, "block")
        .filter(F.col("name_a") < F.col("name_b"))
        .select(
            "name_a",
            "name_b",
            F.levenshtein("name_a", "name_b").alias("distance"),
        )
        .filter(F.col("distance") <= max_distance)
    )


def prefix_filtered_jaccard_pairs(
    docs: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (PPJoin family,
    Xiao et al. 2008): all document pairs with token-set Jaccard ≥ t,
    with NO all-pairs join and no approximation — the exact-threshold
    complement to MinHash-LSH (probabilistic recall) in this module.

    The filter: order the vocabulary globally by (df asc, token asc) —
    rarest first — and sort each document's token set by that order. Two
    sets with Jaccard ≥ t must overlap in ≥ ⌈t/(1+t)·(|a|+|b|)⌉ tokens,
    so each can discard all but its first |d| − ⌈t·|d|⌉ + 1 tokens (the
    PREFIX) and any qualifying pair still shares ≥ 1 prefix token.
    Candidates therefore come from an equi join on PREFIX-token postings
    — and because prefixes start at the RAREST tokens, posting lists stay
    short exactly where the join fans out.

    Scale shape: one corpus pass to distinct (doc, token); the
    vocab-wide df ranking comes from
    ``operators/ordering.banded_global_ordinal`` — exact, tie-stable
    (df asc, token asc), and never the single-partition sort a global
    ``row_number()`` window compiles to (VERDICT r11 #2: the vocabulary
    grows with the corpus under Heaps' law, so that window's one task
    scales with the data; PPJoin only needs A consistent total order,
    and the banded ordinal reproduces this exact one). The df frame is
    barriered first so the ordinal's bounded side passes read a
    materialized vocab frame. Then per-doc sorted rank arrays (narrow);
    prefix explode → token-keyed candidate join → exact verify via
    array_intersect on the two rank arrays. Everything is integer
    arithmetic, so the oracle replays it bit-for-bit.

    Returns (a, b, jaccard) with a < b, jaccard rounded to 6 dp.
    """
    from sentiment_analysis_bigdata_spark.functions.text import tokenize_nonempty
    from sentiment_analysis_bigdata_spark.operators.ordering import (
        banded_global_ordinal,
    )

    toks = (
        docs.select(
            F.col(id_col).alias("doc"),
            F.explode(F.array_distinct(tokenize_nonempty(F.col(text_col)))).alias(
                "token"
            ),
        )
        .distinct()
    )
    dfreq = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
        .transform(barrier_eager)
    )
    rank = banded_global_ordinal(
        dfreq, "df", "token", out_col="rank"
    ).select("token", F.col("rank").cast("int").alias("rank"))
    ranked = toks.join(rank, "token").select("doc", "rank")
    sets = ranked.groupBy("doc").agg(
        F.sort_array(F.collect_list("rank")).alias("ranks")
    )
    sz = F.size("ranks")
    prefix_len = sz - F.ceil(sz * F.lit(threshold)).cast("int") + 1
    pre = sets.select(
        "doc", "ranks", F.slice("ranks", 1, prefix_len).alias("prefix")
    )
    postings = pre.select("doc", F.explode("prefix").alias("rank"))
    cand = (
        postings.alias("x")
        .join(postings.alias("y"), "rank")
        .filter(F.col("x.doc") < F.col("y.doc"))
        .select(F.col("x.doc").alias("a"), F.col("y.doc").alias("b"))
        .distinct()
    )
    sa = sets.select(F.col("doc").alias("a"), F.col("ranks").alias("ra"))
    sb = sets.select(F.col("doc").alias("b"), F.col("ranks").alias("rb"))
    inter = F.size(F.array_intersect("ra", "rb"))
    union = F.size("ra") + F.size("rb") - inter
    return (
        cand.join(sa, "a")
        .join(sb, "b")
        .select(
            "a",
            "b",
            F.round(inter.cast("double") / union, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def dedup_cascade(
    docs: DataFrame,
    emb: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    emb_id_col: str = "vec_id",
    emb_vec_col: str = "embedding",
    minhash_threshold: float = 0.7,
    num_hashes: int = 16,
    bands: int = 4,
    minhash_max_bucket: int | None = None,
    cosine_threshold: float = 0.95,
    n_bits: int = 8,
) -> DataFrame:
    """End-to-end dedup pipeline report: exact → MinHash-LSH → semantic,
    each stage consuming the previous stage's survivors, with a
    deterministic **keep-first** removal policy (a doc is removed when it
    has a verified near-dup of smaller id — the higher id of every pair
    drops, no iterative clustering). Returns one row per stage:
    ``(stage, stage_order, n_in, n_removed, n_out)``.

    This is the cheap-to-expensive cascade order every large-corpus
    curation run uses (exact hashing first removes the bulk for pennies;
    LSH banding next; embedding cosine last over what remains). ``emb``
    must share ``docs``'s id domain (``emb_id_col`` values are doc ids).

    Scale shape: survivor frames are ``localCheckpoint``-materialized
    between stages — the single-process stand-in for what a production
    run does by writing each stage's survivors to parquet; every stage
    is the already-audited shape of its standalone operator (groupBy
    fingerprint / banded equi join / sign-LSH bucket join — never
    O(n²)).
    """
    total = docs.select(F.col(id_col).alias("doc_id"))
    s1 = exact_dedup(docs, text_col, id_col).transform(barrier_eager)
    mh_pairs = minhash_near_duplicates(
        s1,
        text_col,
        id_col,
        threshold=minhash_threshold,
        num_hashes=num_hashes,
        bands=bands,
        max_bucket=minhash_max_bucket,
    )
    # barrier the removed-id frame (tiny: distinct removed ids), not just
    # s2: the rm2 stage count below reads mh_removed AGAIN in the final
    # plan, and without this barrier that re-executes the whole LSH
    # banding/verification stage a second time
    mh_removed = (
        mh_pairs.select(F.col("b").alias(id_col))
        .distinct()
        .transform(barrier_eager)
    )
    s2 = s1.join(mh_removed, [id_col], "left_anti").transform(barrier_eager)
    sem_base = emb.join(
        s2.select(F.col(id_col).alias(emb_id_col)), [emb_id_col], "left_semi"
    )
    sem_pairs = embedding_near_duplicates(
        sem_base, emb_vec_col, emb_id_col, threshold=cosine_threshold, n_bits=n_bits
    )
    sem_removed = sem_pairs.select(F.col("b").alias(id_col)).distinct()

    def _cnt(df: DataFrame, name: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias(name))

    # broadcast the 1-row count frames (bare crossJoin of two 1-row
    # aggregates compiles to a CartesianProduct node)
    c = (
        _cnt(total, "n0")
        .crossJoin(F.broadcast(_cnt(s1.select(id_col), "n1")))
        .crossJoin(F.broadcast(_cnt(mh_removed, "rm2")))
        .crossJoin(F.broadcast(_cnt(sem_removed, "rm3")))
    )
    stages = F.array(
        F.struct(
            F.lit("exact").alias("stage"),
            F.lit(1).alias("stage_order"),
            F.col("n0").alias("n_in"),
            (F.col("n0") - F.col("n1")).alias("n_removed"),
            F.col("n1").alias("n_out"),
        ),
        F.struct(
            F.lit("minhash").alias("stage"),
            F.lit(2).alias("stage_order"),
            F.col("n1").alias("n_in"),
            F.col("rm2").alias("n_removed"),
            (F.col("n1") - F.col("rm2")).alias("n_out"),
        ),
        F.struct(
            F.lit("semantic").alias("stage"),
            F.lit(3).alias("stage_order"),
            (F.col("n1") - F.col("rm2")).alias("n_in"),
            F.col("rm3").alias("n_removed"),
            (F.col("n1") - F.col("rm2") - F.col("rm3")).alias("n_out"),
        ),
    )
    return c.select(F.explode(stages).alias("s")).select("s.*")


def interval_union_contrib(
    intervals: DataFrame,
    group_col: str = "doc_id",
    start_col: str = "start",
    end_col: str = "end",
) -> DataFrame:
    """Running-max-end sweep over integer intervals ``[start, end]``:
    adds ``contrib`` = positions this interval covers that no earlier
    (by start) interval already covered, so ``sum(contrib)`` per group is
    EXACTLY ``|union|`` — one window, no per-position explode. Shared by
    the duplicated-span ladder and the span-corruption plan (and
    property-tested against the brute-force position union,
    tests/test_properties.py); the DuckDB oracles replay the identical
    window text."""
    w = (
        Window.partitionBy(group_col)
        .orderBy(start_col, end_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return intervals.withColumn(
        "contrib",
        F.greatest(
            F.lit(0),
            F.col(end_col)
            - F.greatest(
                F.coalesce(F.max(end_col).over(w), F.lit(0)),
                F.col(start_col) - 1,
            ),
        ),
    )


def source_overlap_matrix(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    k: int = 5,
) -> DataFrame:
    """Pairwise content overlap BETWEEN corpus sources — the
    cross-source generalization of :func:`decontaminate`'s corpus-vs-
    benchmark check, answering the curation question "which of my crawl
    sources are republishing each other?" before mixture weights are
    assigned (overlapping sources otherwise get double weight).

    Per source: the DISTINCT set of token ``k``-grams; per source pair
    (a < b): intersection, union and Jaccard of those sets. Scale shape:
    one corpus-sized explode + distinct; each gram then emits only its
    source-combination pairs via a ``collect_set`` bounded by the source
    count (pair fan-out ≤ C(n_sources, 2) per gram, NEVER a row-level
    self-join), and per-source set sizes come from the same distinct
    frame — so the whole matrix costs two aggregations over the gram
    frame. Sources are a curated handful (dozens) by construction.
    Only pairs with ≥ 1 shared gram emit a row — fully disjoint pairs
    are ABSENT, not jaccard = 0 (consumers gating on low overlap should
    left-join a pair skeleton, the q_split_leakage pattern).
    """
    grams = (
        df.select(
            F.col(group_col).alias("src"),
            TXT.tokenize_nonempty(text_col).alias("l"),
        )
        .where(F.size("l") >= k)
        .select(
            "src",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("l") - (k - 1)),
                    lambda i: F.concat_ws(" ", F.slice("l", i, k)),
                )
            ).alias("gram"),
        )
        .distinct()
        .transform(barrier_eager)
    )
    sizes = grams.groupBy("src").agg(F.count(F.lit(1)).alias("n_grams"))
    inter = (
        grams.groupBy("gram")
        .agg(F.array_sort(F.collect_set("src")).alias("srcs"))
        .where(F.size("srcs") >= 2)
        .select(
            F.explode(
                F.filter(
                    F.flatten(
                        F.transform(
                            F.col("srcs"),
                            lambda a: F.transform(
                                F.col("srcs"),
                                lambda b: F.struct(
                                    a.alias("src_a"), b.alias("src_b")
                                ),
                            ),
                        )
                    ),
                    lambda p: p["src_a"] < p["src_b"],
                )
            ).alias("p")
        )
        .groupBy("p.src_a", "p.src_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    # no broadcast hint: sizes is n_sources-sized in practice but derives
    # from a keyed agg over the corpus scan — per the SCALING broadcast
    # policy such frames are left to AQE (broadcast while they fit)
    sa = sizes.select(F.col("src").alias("src_a"), F.col("n_grams").alias("na"))
    sb = sizes.select(F.col("src").alias("src_b"), F.col("n_grams").alias("nb"))
    return (
        inter.join(sa, "src_a")
        .join(sb, "src_b")
        .select(
            "src_a",
            "src_b",
            "n_common",
            (F.col("na") + F.col("nb") - F.col("n_common")).alias("n_union"),
            F.round(
                F.col("n_common")
                / (F.col("na") + F.col("nb") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )


def duplicated_span_stats_ladder(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ks: tuple[int, ...] = (5, 10, 20),
    min_occurrences: int = 2,
) -> DataFrame:
    """Variable-length duplicated-substring accounting via a k-LADDER —
    the step from ``duplicated_span_stats``'s single fixed k toward the
    true Lee et al. 2022 (arXiv:2107.06499) variable-length semantics:
    run the fixed-k gram marking at each rung of ``ks`` (e.g. 25/50/100
    tokens), then LONGEST-MATCH MERGE: union the marked intervals of all
    rungs per document, so a long planted copy that fires at every rung
    counts each covered token ONCE, never once per rung, while short
    repeats only the small rungs can see still contribute theirs.

    Scale shape: one positional-gram explode + one hash aggregation per
    rung (each the same shuffle the fixed-k operator does — rung count is
    a small constant), then ONE per-doc interval-union sweep over the
    mixed-length intervals: sorted by start, a running-max-end window
    (``rows unbounded preceding .. 1 preceding``) gives
    ``contrib = max(0, end - max(running_end, start - 1))`` — no
    per-position explode, identical in Spark and DuckDB. Returns
    ``(doc_id, n_tokens, dup_tokens, dup_fraction)`` like the fixed-k
    form.
    """
    ks = tuple(sorted(set(ks)))
    toks = df.select(
        F.col(id_col).alias("doc_id"), TXT.tokenize_nonempty(text_col).alias("l")
    )
    # checkpoint the tokenized frame ONCE: every rung (plus the final
    # n_tokens join) re-reads it — without the barrier that is ks+1
    # corpus scans + tokenizations
    sized = toks.select(
        "doc_id", F.size("l").alias("n_tokens"), "l"
    ).transform(barrier_eager)

    def rung(k: int) -> DataFrame:
        grams = sized.where(F.col("n_tokens") >= k).select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.col("n_tokens") - (k - 1)),
                    lambda i: F.struct(
                        i.alias("pos"),
                        F.concat_ws(" ", F.slice("l", i, k)).alias("gram"),
                    ),
                )
            ).alias("g"),
        ).select("doc_id", "g.pos", "g.gram")
        dup_grams = (
            grams.groupBy("gram")
            .agg(F.count(F.lit(1)).alias("occ"))
            .where(F.col("occ") >= min_occurrences)
            .select("gram")
        )
        return grams.join(dup_grams, "gram", "left_semi").select(
            "doc_id",
            F.col("pos").alias("start"),
            (F.col("pos") + (k - 1)).alias("end"),
        )
    intervals = rung(ks[0])
    for k in ks[1:]:
        intervals = intervals.unionByName(rung(k))
    per_doc = (
        interval_union_contrib(intervals)
        .groupBy("doc_id")
        .agg(F.sum("contrib").alias("dup_tokens"))
    )
    return (
        sized.select("doc_id", "n_tokens")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("dup_tokens", F.lit(0)).alias("dup_tokens"),
            F.round(
                F.coalesce("dup_tokens", F.lit(0))
                / F.greatest("n_tokens", F.lit(1)),
                6,
            ).alias("dup_fraction"),
        )
    )


def duplicated_span_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    min_occurrences: int = 2,
) -> DataFrame:
    """Exact duplicated-substring accounting — the distributed analogue
    of suffix-array substring dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better", arXiv:2107.06499):
    every token ``k``-gram occurring ≥ ``min_occurrences`` times
    corpus-wide (across OR within documents) marks its ``k`` positions
    duplicated; per document the marked intervals are unioned and
    reported as ``(doc_id, n_tokens, dup_tokens, dup_fraction)``.

    Where the paper builds one giant suffix array, this uses the
    shuffle-friendly fixed-``k`` formulation: explode positional
    k-grams (narrow, no shuffle) → ONE hash aggregation over gram keys
    (the only corpus-sized shuffle) → semi join positions back → per-doc
    interval union. The union exploits equal-length intervals: sorted by
    start, each contributes ``min(k, start - prev_start)`` (first
    contributes ``k``) — one lag window per doc, no per-position
    explode. Docs shorter than ``k`` tokens report 0 duplicated.
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"), TXT.tokenize_nonempty(text_col).alias("l")
    )
    sized = toks.select("doc_id", F.size("l").alias("n_tokens"), "l")
    grams = sized.where(F.col("n_tokens") >= k).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.col("n_tokens") - (k - 1)),
                lambda i: F.struct(
                    i.alias("pos"),
                    F.concat_ws(" ", F.slice("l", i, k)).alias("gram"),
                ),
            )
        ).alias("g"),
    ).select("doc_id", "g.pos", "g.gram")
    dup_grams = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("occ"))
        .where(F.col("occ") >= min_occurrences)
        .select("gram")
    )
    dup_pos = grams.join(dup_grams, "gram", "left_semi")
    w = Window.partitionBy("doc_id").orderBy("pos")
    covered = dup_pos.withColumn("prev", F.lag("pos").over(w)).select(
        "doc_id",
        F.when(F.col("prev").isNull(), F.lit(k))
        .otherwise(F.least(F.lit(k), F.col("pos") - F.col("prev")))
        .alias("contrib"),
    )
    per_doc = covered.groupBy("doc_id").agg(F.sum("contrib").alias("dup_tokens"))
    return (
        sized.select("doc_id", "n_tokens")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("dup_tokens", F.lit(0)).alias("dup_tokens"),
            F.round(
                F.coalesce("dup_tokens", F.lit(0))
                / F.greatest("n_tokens", F.lit(1)),
                6,
            ).alias("dup_fraction"),
        )
    )


# Winnowing-anchor prefilter tuning (``_exactsubstr_marked``): anchor
# neighborhood width. Expected anchor density ~2/(W0+1) of positions, so the
# first corpus-sized shuffle carries ~1/8.5 of the stride-1 row count at
# W0=16. Prefilter engages when L >= _ANCHOR_MIN_L so the anchor gram length
# L0 = L - W0 + 1 stays >= 9 chars (meaningfully collision-sparse).
_ANCHOR_W0 = 16
_ANCHOR_MIN_L = 24
_LONG_MAX = "9223372036854775807"
_LONG_MIN = "CAST(-9223372036854775808 AS BIGINT)"


def _anchor_positions_expr(L: int, W0: int) -> str:
    """SQL expr: winnowing anchors of ``_t`` as ``array<struct<p,ah>>``.

    Content-defined anchor selection with the Schleimer et al. 2003
    winnowing guarantee, generalized to ties: position ``p`` is an anchor
    iff its ``L0``-gram hash equals the minimum of SOME valid width-``W0``
    hash window containing ``p`` (``L0 = L - W0 + 1``). Any two equal
    length-``L`` windows each fully contain one hash window; selection is
    content-determined, so both occurrences anchor the SAME VALUE at
    DISTINCT positions — grouping anchor values with occ >= 2 therefore
    yields a superset of every duplicated-window region, and the exact
    hash+text verification downstream removes false positives, never
    misses (see ``_exactsubstr_marked``). xxhash64 collisions only ADD
    candidates.

    Sliding min/max are computed by doubling (4 ``least`` + 4
    ``greatest`` zips, O(m log W0) primitive ops) instead of a
    per-window argmin aggregate (O(m·W0) struct allocations — there is
    no CSE in interpreted HOF eval). ``fk[i]`` = min of
    ``hs[i..i+k-1]`` (identity LONG_MAX past the end); ``gk[p]`` = max
    over valid window starts ``i ∈ [p-W0+1, p] ∩ [1, m-W0+1]`` of the
    window min (incomplete window starts masked to LONG_MIN); anchor
    iff ``g[p] == hs[p]`` — window mins never exceed ``hs[p]``, so
    equality means "p attains some window's min". Stays JVM-side: an
    Arrow mapInPandas kernel was measured SLOWER here (0.95 s vs
    0.50 s warm at sf0.1 — Python worker round-trip on a corpus the
    JVM already holds; tools/exactsubstr_shuffle_bench.py history in
    SCALING.md)."""
    if W0 & (W0 - 1) or W0 < 2:
        raise ValueError(f"W0 must be a power of two >= 2, got {W0}")
    L0 = L - W0 + 1
    stages: dict[str, str] = {
        "h0": (
            f"transform(sequence(1, length(_t) - {L0} + 1),"
            f" i -> xxhash64(substring(_t, i, {L0})))"
        )
    }
    order = ["h0"]
    prev, k = "h0", 1
    while k < W0:
        name = f"f{2 * k}"
        stages[name] = (
            f"transform(sequence(1, size({prev})),"
            f" i -> least(element_at({prev}, i),"
            f" IF(i + {k} <= size({prev}), element_at({prev}, i + {k}),"
            f" {_LONG_MAX}L)))"
        )
        order.append(name)
        prev, k = name, 2 * k
    fmin = prev
    stages["g0"] = (
        f"transform(sequence(1, size({fmin})),"
        f" i -> IF(i <= size({fmin}) - {W0} + 1, element_at({fmin}, i),"
        f" {_LONG_MIN}))"
    )
    order.append("g0")
    prev, k = "g0", 1
    while k < W0:
        name = f"g{2 * k}"
        stages[name] = (
            f"transform(sequence(1, size({prev})),"
            f" i -> greatest(element_at({prev}, i),"
            f" IF(i - {k} >= 1, element_at({prev}, i - {k}), {_LONG_MIN})))"
        )
        order.append(name)
        prev, k = name, 2 * k
    gmax = prev
    anchors = (
        f"transform(filter(sequence(1, size(h0)),"
        f" p -> element_at({gmax}, p) = element_at(h0, p)),"
        f" p -> named_struct('p', p, 'ah', element_at(h0, p)))"
    )
    # nest the pipeline into one expression via sequential let-bindings:
    # each stage becomes a single-element-array lambda binding (the repo's
    # standard CSE idiom) so every array is computed exactly once.
    expr = anchors
    for name in reversed(order):
        expr = (
            f"element_at(transform(array(({stages[name]})),"
            f" {name} -> ({expr})), 1)"
        )
    return expr


def _exactsubstr_marked(
    df: DataFrame,
    text_col: str,
    id_col: str,
    L: int,
    prefilter: bool | None = None,
) -> DataFrame:
    """Verified duplicated-window positions ``(doc_id, off, w)`` shared by
    ``exact_substring_spans`` and ``exact_substring_attribution``: the
    corpus-sized shuffle carries only fixed-width ``(doc_id, off,
    xxhash64)``; hash-duplicate candidates re-materialize window TEXT and
    re-group on it, so 64-bit collisions only add candidates — exact.

    ``prefilter`` (default auto: on for ``L >= _ANCHOR_MIN_L``) engages the
    winnowing-anchor pre-pass (VERDICT r8 #3): a narrow per-row anchor
    selection emits ~2/(W0+1) of positions into the first corpus-wide
    shuffle instead of all of them; only positions within ``W0`` of a
    corpus-duplicated anchor VALUE re-enter the exact stride-1 hash →
    text-verify pipeline. The anchor guarantee (see
    ``_anchor_positions_expr``) makes the candidate set a superset of all
    true duplicated offsets, so results are bit-identical with the
    prefilter on or off — only shuffle volume changes (measured in
    SCALING.md via ``tools/exactsubstr_shuffle_bench.py``)."""
    if L < 1:
        raise ValueError(f"min_len must be >= 1, got {L}")
    # length guard first: F.sequence(1, k) counts DOWN for k < 1
    base = df.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("_t")
    ).filter(F.length("_t") >= L)
    if prefilter is None:
        prefilter = L >= _ANCHOR_MIN_L
    elif prefilter and L <= _ANCHOR_W0:
        # For L <= W0 the anchor gram length L0 = L - W0 + 1 degenerates
        # to <= 1 (or negative — hashing empty substrings), making EVERY
        # position an anchor: results would still be correct, but the
        # "prefilter" expands to a superset of the stride-1 candidate
        # set plus the anchor passes — a silent, strictly-worse perf
        # cliff. Fail loud instead (mirrors the W0 power-of-two guard in
        # _anchor_positions_expr). L in (W0, _ANCHOR_MIN_L) is allowed
        # when forced explicitly — the anchor grams are short but
        # well-defined, and tests exercise that band for path parity.
        raise ValueError(
            f"prefilter=True requires min_len > W0={_ANCHOR_W0} "
            f"(anchor gram length min_len - W0 + 1 must be >= 2); got "
            f"min_len={L}. Use prefilter=None (auto engages at "
            f"min_len >= {_ANCHOR_MIN_L}) or prefilter=False."
        )
    if prefilter:
        W0 = _ANCHOR_W0
        # The anchor table feeds TWO consumers (the occ>=2 aggregate and
        # the semi join back); a lazy localCheckpoint materializes the
        # anchor-density rows (~2/(W0+1) of positions, ~20 B each) once
        # instead of running the per-row hash + doubling passes twice.
        # Same executor-loss tradeoff note as exact_substring_attribution;
        # SPARK_GRAFT_CHECKPOINT_DIR flips the barrier to reliable storage.
        anchors = (
            base.select(
                "doc_id",
                F.explode(F.expr(_anchor_positions_expr(L, W0))).alias("a"),
            )
            .select("doc_id", "a.p", "a.ah")
            .transform(barrier_lazy)
        )
        dup_ah = (
            anchors.groupBy("ah")
            .agg(F.count(F.lit(1)).alias("occ"))
            .where(F.col("occ") > 1)
            .select("ah")
        )
        cand_regions = (
            anchors.join(dup_ah, "ah", "left_semi")
            .groupBy("doc_id")
            .agg(F.collect_set("p").alias("ps"))
        )
        wins = (
            cand_regions.join(base, "doc_id")
            .select(
                "doc_id",
                "_t",
                F.explode(
                    F.expr(
                        f"array_distinct(flatten(transform(ps,"
                        f" p -> sequence("
                        f"CAST(greatest(1, p - {W0} + 1) AS BIGINT),"
                        f" CAST(least(p, length(_t) - {L} + 1) AS BIGINT)))))"
                    )
                ).alias("off"),
            )
            .select(
                "doc_id",
                "off",
                F.expr(f"xxhash64(substring(_t, CAST(off AS INT), {L}))").alias(
                    "h"
                ),
            )
        )
    else:
        wins = base.select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, length(_t) - {L} + 1),"
                    f" i -> struct(CAST(i AS BIGINT) AS off,"
                    f" xxhash64(substring(_t, i, {L})) AS h))"
                )
            ).alias("w"),
        ).select("doc_id", "w.off", "w.h")
    dup_h = (
        wins.groupBy("h")
        .agg(F.count(F.lit(1)).alias("occ"))
        .where(F.col("occ") > 1)
        .select("h")
    )
    cand = wins.join(dup_h, "h", "left_semi").select("doc_id", "off")
    # verification pass: only hash-dup candidates re-derive window text
    cand_w = cand.join(base, "doc_id").select(
        "doc_id",
        "off",
        F.expr(f"substring(_t, CAST(off AS INT), {L})").alias("w"),
    )
    dup_w = (
        cand_w.groupBy("w")
        .agg(F.count(F.lit(1)).alias("occ"))
        .where(F.col("occ") > 1)
        .select("w")
    )
    return cand_w.join(dup_w, "w", "left_semi")


def exact_substring_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 40,
    prefilter: bool | None = None,
) -> DataFrame:
    """Byte-offset duplicated-span extraction — the removal-oriented
    variant of suffix-array substring dedup (Lee et al. 2022,
    arXiv:2107.06499 ExactSubstr): emit, per document, the maximal
    character intervals covered by some length-``min_len`` window whose
    text occurs ≥ 2 times corpus-wide (across OR within documents).
    Returns ``(doc_id, span_start, span_end, span_len)`` with 1-based
    inclusive start and exclusive end — exactly the offsets a curation
    pass cuts out of the raw text, where ``duplicated_span_stats`` only
    reports per-doc coverage counts.

    Semantics: any duplicated substring of length ≥ ``min_len`` is the
    union of its stride-1 ``min_len``-windows, each itself duplicated, so
    the union of duplicated-window intervals [off, off+L) is precisely
    the character mass ExactSubstr removes at threshold L.

    Scale shape (the reason this is not a naive text-keyed group-by,
    which would shuffle L× the corpus bytes): the corpus-sized shuffle
    carries only ``(doc_id, off, xxhash64(window))`` — ~24 bytes per
    position regardless of L. Hash-duplicate candidates (dup-rate-sized
    on real corpora) then re-materialize their window TEXT from the doc
    row and re-group by it, so 64-bit collisions can only ADD candidates
    and are always eliminated — the result is exact. Per-doc interval
    merge is one lag window (equal-length intervals: a new span starts
    when ``off - prev_off > L``). Position-level rows are inherent to
    exact substring dedup; where the paper pays for them with one giant
    suffix array on a single machine, this formulation pays one
    fixed-width hash shuffle and stays data-parallel.
    """
    marked = _exactsubstr_marked(
        df, text_col, id_col, int(min_len), prefilter=prefilter
    ).select(
        "doc_id", "off"
    )
    L = int(min_len)
    ord_w = Window.partitionBy("doc_id").orderBy("off")
    brk = marked.withColumn(
        "b",
        F.when(F.col("off") - F.lag("off").over(ord_w) <= L, F.lit(0)).otherwise(
            F.lit(1)
        ),
    )
    grp = brk.withColumn(
        "g", F.sum("b").over(ord_w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        grp.groupBy("doc_id", "g")
        .agg(
            F.min("off").alias("span_start"),
            (F.max("off") + L).alias("span_end"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start")).alias("span_len"),
        )
    )


def exact_substring_attribution(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 40,
    max_doc_freq: int | None = None,
    prefilter: bool | None = None,
) -> DataFrame:
    """Cross-doc ATTRIBUTION for ExactSubstr spans — contamination
    forensics: for each maximal duplicated span (the intervals
    ``exact_substring_spans`` removes), WHICH other documents share its
    content. Returns ``(doc_id, span_start, span_end, span_len,
    n_match_docs, first_match_doc)`` where ``n_match_docs`` counts the
    distinct OTHER documents containing at least one of the span's
    duplicated ``min_len``-windows and ``first_match_doc`` is the
    smallest such doc_id (deterministic representative; NULL — with
    ``n_match_docs = 0`` — for spans that are only intra-document
    repeats, which a licensing/contamination audit treats differently
    from cross-source copying).

    Scale shape: everything downstream of the corpus-sized fixed-width
    hash shuffle (shared ``_exactsubstr_marked`` pipeline) runs at
    CANDIDATE-SET size — the attribution join is
    ``positions × doc-frequency(window)``, never all-pairs over the
    corpus. ``max_doc_freq`` df-caps that join for 100 TB runs the same
    way winnowing caps its buckets: windows shared by more than
    ``max_doc_freq`` distinct docs (ubiquitous boilerplate whose
    per-pair attribution is meaningless) are dropped from match
    enumeration, so capped spans report attribution over the remaining
    informative windows only. Default ``None`` = exact (the oracle
    contract).

    Fault-tolerance tradeoff: the default ``localCheckpoint`` barrier
    truncates lineage with executor-local, non-replicated storage, so a
    lost executor aborts the job instead of recomputing — acceptable for
    this bounded batch audit. A 1000-executor 100 TB run sets
    ``SPARK_GRAFT_CHECKPOINT_DIR`` to flip EVERY engine barrier to
    reliable ``.checkpoint()`` storage (``plans/barrier.py``) with the
    same plan-dedup win and identical results.
    """
    L = int(min_len)
    # The verified candidate set feeds FOUR consumers (span grouping twice
    # via grp, the distinct (window, doc) match table, and through it the
    # match aggregate); a lazy localCheckpoint materializes the corpus-
    # sized window explode + hash shuffle ONCE instead of once per branch
    # (AQE exchange reuse only recovers part of it — measured 46 live
    # exchanges without the barrier, 1/3 of them duplicated subtrees).
    marked = _exactsubstr_marked(
        df, text_col, id_col, L, prefilter=prefilter
    ).transform(barrier_lazy)
    ord_w = Window.partitionBy("doc_id").orderBy("off")
    brk = marked.withColumn(
        "b",
        F.when(F.col("off") - F.lag("off").over(ord_w) <= L, F.lit(0)).otherwise(
            F.lit(1)
        ),
    )
    grp = brk.withColumn(
        "g", F.sum("b").over(ord_w.rowsBetween(Window.unboundedPreceding, 0))
    )
    wd = marked.select("w", F.col("doc_id").alias("match_doc")).distinct()
    if max_doc_freq is not None:
        capped = (
            wd.groupBy("w")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") <= int(max_doc_freq))
            .select("w")
        )
        wd = wd.join(capped, "w", "left_semi")
    matches = grp.join(wd, "w").where(F.col("match_doc") != F.col("doc_id"))
    spans = grp.groupBy("doc_id", "g").agg(
        F.min("off").alias("span_start"),
        (F.max("off") + L).alias("span_end"),
    )
    match_agg = matches.groupBy("doc_id", "g").agg(
        F.countDistinct("match_doc").alias("n_match_docs"),
        F.min("match_doc").alias("first_match_doc"),
    )
    return spans.join(match_agg, ["doc_id", "g"], "left").select(
        "doc_id",
        "span_start",
        "span_end",
        (F.col("span_end") - F.col("span_start")).alias("span_len"),
        F.coalesce(F.col("n_match_docs"), F.lit(0)).alias("n_match_docs"),
        "first_match_doc",
    )


def exact_substring_removal(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 40,
    prefilter: bool | None = None,
) -> DataFrame:
    """ExactSubstr REMOVAL materialized — the actual curation output: each
    document's text with every duplicated span (``exact_substring_spans``
    semantics, Lee et al. 2022 arXiv:2107.06499) cut out. Returns
    ``(doc_id, clean_text, n_spans, kept_chars, removed_chars)``; docs
    with no duplicated span pass through verbatim, a doc that is one big
    duplicated span keeps the empty string.

    Reconstruction is pure expressions: the per-doc span list (maximal,
    disjoint, sorted — guaranteed by the span merge) folds left with
    ``F.aggregate``, emitting the gap substring before each span and the
    tail after the last; no UDF, no second corpus shuffle beyond the
    span pipeline itself (the doc-sized span lists join back broadcast-
    or hash-side at dup-rate size).
    """
    L = int(min_len)
    spans = exact_substring_spans(df, text_col, id_col, L, prefilter=prefilter)
    base = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_t"))
    spans_g = spans.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(F.struct("span_start", "span_end"))
        ).alias("sp")
    )
    joined = base.join(spans_g, "doc_id", "left")
    rebuilt = F.aggregate(
        F.col("sp"),
        F.struct(
            F.lit(1).cast("long").alias("pos"), F.lit("").alias("s")
        ),
        lambda acc, sp: F.struct(
            sp["span_end"].alias("pos"),
            F.concat(
                acc["s"],
                F.expr("_t").substr(
                    acc["pos"].cast("int"),
                    (sp["span_start"] - acc["pos"]).cast("int"),
                ),
            ).alias("s"),
        ),
        lambda acc: F.concat(
            acc["s"],
            F.expr("_t").substr(
                acc["pos"].cast("int"),
                (F.length("_t") - acc["pos"] + 1).cast("int"),
            ),
        ),
    )
    return joined.select(
        "doc_id",
        F.when(F.col("sp").isNull(), F.col("_t"))
        .otherwise(rebuilt)
        .alias("clean_text"),
        F.coalesce(F.size("sp"), F.lit(0)).cast("long").alias("n_spans"),
        F.length("_t").cast("long").alias("_orig"),
    ).select(
        "doc_id",
        "clean_text",
        "n_spans",
        F.length("clean_text").cast("long").alias("kept_chars"),
        (F.col("_orig") - F.length("clean_text")).cast("long").alias(
            "removed_chars"
        ),
    )


def exact_substring_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 40,
    max_iterations: int = 20,
    prefilter: bool | None = None,
) -> DataFrame:
    """ExactSubstr duplicate-FAMILY view (VERDICT r8 #5's reserved slot):
    group documents connected by shared duplicated ``min_len``-windows
    into transitive families — the suffix-array-free analogue of
    clustering ExactSubstr hits (Lee et al. 2022, arXiv:2107.06499),
    composed from two certified operators: the shared
    ``_exactsubstr_marked`` window pipeline and ``connected_components``.

    Returns ``(doc_id, family_id, family_size)`` for every document that
    shares at least one duplicated window with ANOTHER document
    (``family_id`` = min doc_id in the family); docs whose duplicated
    windows are only intra-document repeats are not cross-doc duplicates
    and are excluded, like singletons in a dedup cluster report.

    Scale shape: NO pair join anywhere — per-window doc sets collapse to
    STAR edges (every doc → the window's min doc), which preserve
    connectivity exactly while emitting one edge per (window, doc)
    instead of O(df²) pairs, so boilerplate windows shared by thousands
    of docs stay linear. Label propagation is the bounded-round
    ``connected_components`` with localCheckpoint lineage truncation.
    """
    L = int(min_len)
    # wd feeds the self-join AND its own per-window min aggregate, and the
    # edge union downstream doubles consumers again — barrier it so the
    # corpus-sized marked pipeline runs once (module convention; see
    # exact_substring_attribution).
    wd = (
        _exactsubstr_marked(df, text_col, id_col, L, prefilter=prefilter)
        .select("w", "doc_id")
        .distinct()
        .transform(barrier_lazy)
    )
    star = (
        wd.join(wd.groupBy("w").agg(F.min("doc_id").alias("root")), "w")
        .where(F.col("doc_id") != F.col("root"))
        .select("root", "doc_id")
        .distinct()
    )
    # exact oracle contract (recursive-CTE reachability replay): a
    # diameter larger than the round budget must FAIL, not silently split
    # families.
    comp = connected_components(
        star, "root", "doc_id", max_iterations, require_convergence=True
    )
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("family_size")
    )
    return comp.join(sizes, "component").select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("family_id"),
        F.col("family_size").cast("long").alias("family_size"),
    )
