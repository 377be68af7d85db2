"""Deterministic Lloyd's k-means over an embedding column.

The reference has no clustering surface (its 1,077 LoC stop at three
classifiers — SURVEY §2.6), but a training-data pipeline organizes a
corpus by clustering its embeddings (topic balancing, per-cluster
sampling, duplicate-cluster inspection). MLlib's ``KMeans`` is the
production path, but its kmeans|| init is RNG-dependent and therefore
not SQL-replayable; this operator is the *value-checkable* twin: every
step is a plain DataFrame composition with fixed, documented arithmetic,
so a DuckDB oracle can replay the identical recursion (see
``workloads/cluster_q.py``).

Determinism contract (what makes the oracle exact):

- **Init**: the centroids are the vectors of the ``k`` smallest ids
  (cluster_id = rank of the seed id). No RNG.
- **Assign**: squared L2 distance computed left-to-right over the
  dimensions (``F.aggregate`` over ``zip_with`` — the same sequential
  IEEE sum as DuckDB's ``list_sum(list_transform(...))``); argmin tie
  breaks to the lowest cluster_id via lexicographic ``array_min`` on
  ``(dist, cluster_id)`` structs.
- **Re-estimate**: per-(cluster, dim) mean via ``posexplode`` →
  ``groupBy`` → ``avg``, ROUNDED to ``round_digits`` (default 9) before
  becoming the next iteration's literals. Both engines consume the same
  rounded values, so cross-engine float drift (partial-agg association
  order, ~1e-15) cannot cascade into a flipped assignment.
- An empty cluster keeps its previous centroid (documented, replayed
  identically by the oracle via COALESCE).

Scale shape (100 TB): ONE Lloyd loop (:func:`_lloyd_centers`) serves
every path. Each round is one assign pass plus ONE shuffle —
``posexplode`` then a partial+final hash agg keyed (cluster_id, dim)
with k×d output rows, collected to the driver as the next centroids.
Only the assign step varies, selected by ``assign_method``:

- ``literal`` (default for k ≤ 256): the k×d centroids are codegen'd
  literals — zero join, but plan size and py4j/parse cost grow with k.
- ``broadcast`` (default for k > 256, the real-SemDeDup shape — Abbas
  et al. use k=50,000 for LAION): the centroid list ships to executors
  as ONE broadcast row holding ``array<struct<cid,c>>``; the assign is
  a ``transform`` over that array with the SAME sequential
  zip_with/aggregate arithmetic, so assignments are bit-identical to
  the literal path (pytest-proven at k=512) with plan size O(1) in k.
- ``gemm`` (opt-in, the large-k WALL-TIME path): the assign is an
  Arrow ``mapInPandas`` kernel computing all n×k distances as one BLAS
  matmul per batch via ``d² = |x|² + |c|² − 2x·c`` — the FAISS assign
  shape, ~100× the interpreted HOF fold at k ≥ 4096. Exactness comes
  from GRID QUANTIZATION instead of a fixed summation order: inputs
  and re-estimated centroids are floored onto the 2^-grid_bits lattice
  first, which (for |x| < 2, d ≤ 64, grid_bits = 16) makes every
  product and partial sum exactly representable in float64 — so BLAS
  accumulation order, FMA contraction, and DuckDB's sequential
  ``list_sum`` all yield the SAME bits, and the oracle replay is exact
  by arithmetic, not by hoping ties don't land on a rounding boundary.
  Assignments are pytest-proven identical to the broadcast path on
  quantized inputs.

Driver traffic per round is k×d doubles on every path: the collected
means come in and go back out as literals, as the broadcast row, or
inside the gemm kernel — model-sized, like a persisted ANN codebook
(50k×64 ≈ 26 MB at the SemDeDup-at-LAION shape). No global sort, no
cartesian.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sentiment_analysis_bigdata_spark.sources import local_frame

# Above this k the assign step switches from k inline literal folds to a
# broadcast centroid row: plan size/parse time grow with k on the
# literal path while the broadcast path is O(1) in plan size.
BROADCAST_ASSIGN_THRESHOLD = 256


def _sqdist_sql(vec_col: str, center: list[float]) -> str:
    """Sequential left-to-right sum of squared per-dim diffs over an
    ``array<double>`` column (matches DuckDB ``list_sum`` order for
    bit-stable cross-engine replay).

    Emitted as SQL TEXT, not Column-API calls: k centroids × (zip_with +
    aggregate + 2 lambdas) through py4j cost ~1.7 s of driver time PER
    assign at k=16 — rebuilt every Lloyd round; one ``selectExpr`` parse
    of the same expressions is milliseconds, and the parsed plan (and so
    the arithmetic) is identical. Float literals use repr(), which
    round-trips exactly."""
    arr = "array(" + ", ".join(f"{float(x)!r}D" for x in center) + ")"
    return (
        f"aggregate(zip_with({vec_col}, {arr}, "
        f"(x, c) -> (x - c) * (x - c)), 0.0D, (acc, x) -> acc + x)"
    )


def _assign(base: DataFrame, centers: list[list[float]]) -> DataFrame:
    """Add ``cluster_id`` (argmin of squared L2; ties → lowest cid via
    lexicographic struct array_min) and ``dist2`` columns to the
    ``(_id, _v)`` frame. Centroids are inline literals; the struct is
    selected once and fields projected in a second step (a top-level
    alias is not re-inlined, so the k folds run once per row)."""
    cands = ", ".join(
        f"struct({_sqdist_sql('_v', ctr)} AS d, {i} AS cid)"
        for i, ctr in enumerate(centers)
    )
    return (
        base.selectExpr("*", f"array_min(array({cands})) AS _best")
        .selectExpr("*", "_best.cid AS cluster_id", "_best.d AS dist2")
        .drop("_best")
    )


def _assign_broadcast(base: DataFrame, centers: list[list[float]]) -> DataFrame:
    """Same argmin contract as :func:`_assign` (sequential squared-L2,
    ties → lowest cid) but the centroids ride as ONE broadcast row
    holding ``array<struct<cid int, c array<double>>>`` instead of k
    inline literal folds — plan size is O(1) in k, so k can be tens of
    thousands. The per-element arithmetic is the identical left-to-right
    zip_with/aggregate fold, so assignments are bit-identical to the
    literal path."""
    one = (
        local_frame(
            base.sparkSession, [range(len(centers)), centers], "cid int, c array<double>"
        )
        .select(F.struct(F.col("cid"), F.col("c")).alias("s"))
        .groupBy()
        .agg(F.array_sort(F.collect_list("s")).alias("_cents"))
    )
    sq = (
        "aggregate(zip_with(_v, s.c, "
        "(x, c) -> (x - c) * (x - c)), 0.0D, (acc, x) -> acc + x)"
    )
    return (
        base.crossJoin(F.broadcast(one))
        .selectExpr(
            "*",
            f"array_min(transform(_cents, s -> struct({sq} AS d, s.cid AS cid)))"
            " AS _best",
        )
        .selectExpr("*", "_best.cid AS cluster_id", "_best.d AS dist2")
        .drop("_best", "_cents")
    )


def quantize_grid(vec: Column, grid_bits: int = 16) -> Column:
    """Floor every component of an ``array<float|double>`` onto the
    2^-grid_bits lattice (``floor(x·2^b)/2^b`` — exact in float64 for
    |x| < 2^(52-b)). This is the determinism contract of the gemm assign
    path: on lattice inputs every squared-distance/dot-product term and
    partial sum is exactly representable, so ANY summation order (BLAS,
    FMA, sequential SQL fold) produces identical bits. DuckDB replay:
    ``list_transform(v, x -> floor(CAST(x AS DOUBLE) * 65536.0) / 65536.0)``.
    """
    scale = float(1 << grid_bits)
    return F.transform(
        vec.cast("array<double>"), lambda x: F.floor(x * scale) / scale
    )


def _assign_gemm(base: DataFrame, centers: list[list[float]]) -> DataFrame:
    """Same argmin contract as :func:`_assign` (ties → lowest cid; on
    grid-quantized inputs bit-identical distances) but all n×k distances
    per Arrow batch come from ONE BLAS matmul:
    ``d² = |x|² + |c|² − 2·X@Cᵀ``. The centroid matrix ships inside the
    serialized kernel (k×d float64 — model-sized, like a broadcast ANN
    codebook); ``np.argmin`` returns the FIRST minimum, i.e. the lowest
    cid, matching the lexicographic array_min tie-break of the other
    paths."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    cm = np.asarray(centers, dtype="float64")  # (k, d), cid = row index
    cc = (cm * cm).sum(axis=1)  # exact on the grid

    fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in base.schema.fields
    )
    schema = f"{fields}, `cluster_id` int, `dist2` double"

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["_v"].to_numpy()).astype("float64")
            xx = (x * x).sum(axis=1)
            d2 = xx[:, None] + cc[None, :] - 2.0 * (x @ cm.T)
            cid = d2.argmin(axis=1)
            out = pdf.copy()
            out["cluster_id"] = cid.astype("int32")
            out["dist2"] = d2[np.arange(len(cid)), cid]
            yield out

    return base.mapInPandas(kernel, schema=schema)


_ASSIGN = {
    "literal": _assign,
    "broadcast": _assign_broadcast,
    "gemm": _assign_gemm,
}


def _lloyd_base(df: DataFrame, id_col: str, vec: Column) -> DataFrame:
    """The ``(_id, _v)`` frame every Lloyd step reads. ``_v`` is projected
    ONCE here: HOF lambdas evaluate interpreted (no CSE), so a cast
    inside the per-centroid fold would re-run k times per row."""
    return df.select(F.col(id_col).alias("_id"), vec.alias("_v"))


def _lloyd_centers(
    base: DataFrame,
    k: int,
    iterations: int,
    assign: Callable[[DataFrame, list[list[float]]], DataFrame],
    mean: Column,
    strict: bool,
) -> list[list[float]]:
    """The Lloyd loop shared by every assign path: seeds are the ``_v``
    of the ``k`` smallest ``_id`` (cid = seed rank), each round runs
    ``assign`` and re-estimates every (cluster, dim) with ``mean`` over
    the exploded ``val`` column, and an empty cluster keeps its previous
    centroid. Returns the final centroids as a Python list — k×d doubles
    of driver traffic per round."""
    seeds = base.orderBy("_id").limit(k).select("_v").collect()
    if not seeds:
        raise ValueError("kmeans_lloyd: input frame is empty (need >= 1 row)")
    if strict and len(seeds) < k:
        raise ValueError(
            f"kmeans_lloyd: k={k} exceeds row count {len(seeds)}; pass "
            "strict=False to run with one cluster per row instead"
        )
    centers: list[list[float]] = [list(r["_v"]) for r in seeds]
    dim = len(centers[0])

    for _ in range(iterations):
        rows = (
            assign(base, centers)
            .select("cluster_id", F.posexplode("_v").alias("dim", "val"))
            .groupBy("cluster_id", "dim")
            .agg(mean.alias("m"))
            .collect()
        )
        new_centers = [list(c) for c in centers]  # empty cluster keeps old
        by_cid: dict[int, dict[int, float]] = {}
        for r in rows:
            by_cid.setdefault(r["cluster_id"], {})[r["dim"]] = r["m"]
        for cid, dims in by_cid.items():
            new_centers[cid] = [dims[i] for i in range(dim)]
        centers = new_centers
    return centers


def kmeans_lloyd(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 4,
    iterations: int = 2,
    round_digits: int = 9,
    assign_method: str = "auto",
    strict: bool = True,
    grid_bits: int = 16,
) -> DataFrame:
    """Run ``iterations`` Lloyd rounds from the k-smallest-id seeds and
    return the final assignment frame: ``(id_col, cluster_id, dist2)``.

    ``iterations`` counts re-estimation rounds; the returned assignment
    uses the centroids produced by the last round. Every path runs the
    same loop (:func:`_lloyd_centers`) with the centroids on the driver;
    only the assign step differs.

    ``assign_method``: ``"literal"`` inlines centroids as codegen
    literals, ``"broadcast"`` ships them as one broadcast row (plan size
    O(1) in k; required for large k), ``"auto"`` picks by
    ``k > BROADCAST_ASSIGN_THRESHOLD``; both produce bit-identical
    assignments. ``"gemm"`` (opt-in) is the large-k wall-time path: BLAS
    assign over GRID-QUANTIZED vectors, with means floored onto the same
    grid (``grid_bits``; see :func:`quantize_grid`) — identical to the
    other paths' assign when the input is already on the lattice.
    ``strict=False`` permits k > row-count (runs with one seed per row —
    the SQL ``LIMIT k`` semantics); an empty input always raises.
    """
    if assign_method not in ("auto", *_ASSIGN):
        raise ValueError(f"unknown assign_method {assign_method!r}")
    if assign_method == "auto":
        assign_method = (
            "broadcast" if k > BROADCAST_ASSIGN_THRESHOLD else "literal"
        )
    if assign_method == "gemm":
        scale = float(1 << grid_bits)
        vec = quantize_grid(F.col(vec_col), grid_bits)
        # per-(cluster, dim) sums are exact on the lattice, so the floored
        # avg is bit-identical across engines and partial-agg orders
        mean = F.floor(F.avg("val") * scale) / scale
    else:
        vec = F.col(vec_col).cast("array<double>")
        mean = F.round(F.avg("val"), round_digits)
    assign = _ASSIGN[assign_method]
    base = _lloyd_base(df, id_col, vec)
    centers = _lloyd_centers(base, k, iterations, assign, mean, strict)
    return assign(base, centers).select(
        F.col("_id").alias(id_col), "cluster_id", "dist2"
    )


def kmeans_silhouette(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 4,
    iterations: int = 2,
    round_digits: int = 9,
    strict: bool = True,
) -> DataFrame:
    """Per-cluster simplified silhouette (Hruschka et al.): for each
    point, a = distance to its OWN centroid, b = distance to the nearest
    OTHER centroid, s = (b − a) / max(a, b) — the O(n·k) clustering-
    quality score that replaces the O(n²) pairwise silhouette at corpus
    scale (the approximation every large-scale clustering report uses).

    One corpus pass: the k distance folds are computed once per row into
    an array column, argmin gives the assignment, a filtered argmin the
    runner-up — no join, no shuffle until the per-cluster mean. Distances
    are sqrt of the same sequential squared-L2 the assign path uses, so
    the score is engine-replayable.

    Returns (cluster_id, n_points, mean_silhouette). Requires k >= 2
    (with a single cluster 'nearest other centroid' does not exist).
    """
    if k < 2:
        raise ValueError("kmeans_silhouette: k must be >= 2")
    base = _lloyd_base(df, id_col, F.col(vec_col).cast("array<double>"))
    centers = _lloyd_centers(
        base, k, iterations, _assign, F.round(F.avg("val"), round_digits), strict
    )
    cands = ", ".join(
        f"struct({_sqdist_sql('_v', ctr)} AS d, {i} AS cid)"
        for i, ctr in enumerate(centers)
    )
    scored = (
        base.selectExpr("*", f"array({cands}) AS _cands")
        .selectExpr("*", "array_min(_cands) AS _best")
        .selectExpr(
            "*",
            "array_min(filter(_cands, s -> s.cid != _best.cid)) AS _second",
        )
    )
    sil = F.expr(
        "CASE WHEN greatest(sqrt(_best.d), sqrt(_second.d)) > 0 "
        "THEN (sqrt(_second.d) - sqrt(_best.d)) "
        "     / greatest(sqrt(_best.d), sqrt(_second.d)) "
        "ELSE 0.0D END"
    )
    return (
        scored.select(F.expr("_best.cid").alias("cluster_id"), sil.alias("_s"))
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.round(F.avg("_s"), 6).alias("mean_silhouette"),
        )
    )


def kmeans_summary(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 4,
    iterations: int = 2,
    assign_method: str = "auto",
    strict: bool = True,
) -> DataFrame:
    """Per-cluster size + inertia (sum of squared distances), the
    standard clustering fit report."""
    assigned = kmeans_lloyd(
        df, vec_col, id_col, k=k, iterations=iterations,
        assign_method=assign_method, strict=strict,
    )
    return assigned.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.round(F.sum("dist2"), 6).alias("inertia"),
    )


# Row-chunk size for the in-cluster pair kernels: bounds kernel memory at
# chunk × block_size cosines regardless of cluster size (the join-based
# shape this replaces streamed its n²/k pairs; the kernel must not trade
# that for an n²-sized allocation).
_PAIR_CHUNK_ROWS = 1024


def _cluster_base(
    emb: DataFrame, vec_col: str, id_col: str, assigned: DataFrame
) -> DataFrame:
    """(id, v, nrm, cluster_id) — the pair-kernel input frame. Projected
    to exactly the four columns the kernel touches (guide §4: an opaque
    Python op over wider rows would ship, and read, the extra columns)."""
    from sentiment_analysis_bigdata_spark.functions import vector as V

    return emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        V.norm(F.col(vec_col)).alias("nrm"),
    ).join(assigned.select(F.col(id_col).alias("id"), "cluster_id"), "id")


def _pair_cos_chunks(pdf, chunk: int = _PAIR_CHUNK_ROWS):
    """Yield ``(lo, hi, cos_block)`` for one id-SORTED cluster block:
    ``cos_block[i - lo, j]`` = cosine(row i, row j), **bit-identical** to
    the interpreted HOF formulation it replaces
    (``aggregate(zip_with(a, b, (x, y) -> x*y), 0.0, +)`` then
    ``dot / (nrm_a * nrm_b)`` with a 0.0 zero-norm guard):

    - the dot accumulates per DIMENSION in ascending order
      (``acc += V[:, j_l] * V[:, j_r]``) — the same left-to-right IEEE
      double adds as the zip_with fold and as DuckDB's ``list_sum``;
      float32 inputs widen exactly, each product/add is one double op in
      both engines, so every partial sum matches bit for bit;
    - the denominator is the same single multiply of the JVM-computed
      norms (passed through, NOT recomputed), the division the same
      IEEE divide, and D > 0 the same guard — so downstream threshold
      compares and orderings see identical bits.
    """
    import numpy as np

    Vm = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
    nrm = pdf["nrm"].to_numpy(dtype=np.float64)
    n, d = Vm.shape
    for lo in range(0, n, chunk):
        hi = min(lo + chunk, n)
        G = np.zeros((hi - lo, n), dtype=np.float64)
        for j in range(d):
            G += Vm[lo:hi, j][:, None] * Vm[:, j][None, :]
        D = nrm[lo:hi, None] * nrm[None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = np.where(D > 0, G / D, 0.0)
        yield lo, hi, cos


def _iter_cluster_blocks(batches):
    """Iterate complete id-sorted cluster blocks out of a mapInPandas
    batch stream whose rows arrive sorted by (cluster_id, id) within the
    partition (``repartition(cluster_id)`` + ``sortWithinPartitions``).

    Yields one pandas DataFrame per cluster. A cluster spanning batch
    boundaries is carried until its last row arrives, so kernel memory
    is bounded by ONE block (the operator's existing k-scales-with-n
    block bound) plus one Arrow batch — never by the partition. This
    amortizes the per-call Python/Arrow overhead across every cluster in
    the partition, which per-group applyInPandas pays per cluster
    (measured 3× regression at k=4096 with ~4-row groups)."""
    import numpy as np
    import pandas as pd

    def close(pieces):
        return pieces[0] if len(pieces) == 1 else pd.concat(pieces, ignore_index=True)

    # pieces of the open cluster, one per batch it spans; joined once,
    # when the cluster closes (re-concatenating per batch would copy a
    # B-batch cluster O(B²) rows)
    carry, carry_cid = [], None
    for pdf in batches:
        cids = pdf["cluster_id"].to_numpy()
        if not len(cids):
            continue
        # rows are sorted by cluster_id: runs of equal ids are clusters,
        # and the last run may continue in the next batch
        bounds = [0, *(np.flatnonzero(cids[1:] != cids[:-1]) + 1).tolist(), len(cids)]
        for lo, hi in zip(bounds, bounds[1:]):
            if carry and cids[lo] != carry_cid:
                yield close(carry)
                carry = []
            carry.append(pdf.iloc[lo:hi])
            carry_cid = cids[lo]
    if carry:
        yield close(carry)


def _semdedup_report_kernel(threshold: float):
    """mapInPandas kernel: (id, v, nrm, cluster_id) rows, sorted by
    (cluster_id, id) per partition → ONE row per cluster
    (cluster_id, n_points, n_removed, n_kept)."""
    import numpy as np
    import pandas as pd

    def kernel(batches):
        # one output row per cluster, accumulated and yielded as ONE
        # frame per task: k-bounded output, and it avoids paying the
        # per-Arrow-batch overhead once per (possibly tiny) cluster
        cids, n_pts, n_rm = [], [], []
        for pdf in _iter_cluster_blocks(batches):
            n = len(pdf)
            if n == 1:
                n_removed = 0
            else:
                removed = np.zeros(n, dtype=bool)
                for lo, hi, cos in _pair_cos_chunks(pdf):
                    hit = cos >= threshold
                    # pair (i, j) exists for i < j (ids ascend with
                    # position); mask out j <= i within this row chunk
                    cols = np.arange(n)[None, :]
                    rows = np.arange(lo, hi)[:, None]
                    removed |= (hit & (cols > rows)).any(axis=0)
                n_removed = int(removed.sum())
            cids.append(pdf["cluster_id"].iat[0])
            n_pts.append(n)
            n_rm.append(n_removed)
        if cids:
            pts = np.asarray(n_pts, dtype=np.int64)
            rm = np.asarray(n_rm, dtype=np.int64)
            yield pd.DataFrame(
                {
                    "cluster_id": pd.Series(cids),
                    "n_points": pts,
                    "n_removed": rm,
                    "n_kept": pts - rm,
                }
            )

    return kernel


def _knn_edges_kernel(n_neighbors: int):
    """mapInPandas kernel: cluster blocks → top-``n_neighbors`` edges
    per row by (cos desc, neighbor id asc). The tie-break rides a STABLE
    argsort over the id-sorted block (equal cosines keep ascending-id
    positional order — exactly the row_number ordering it replaces), so
    any id type the old window supported still orders identically."""
    import numpy as np
    import pandas as pd

    # flush accumulated edges at ~this many rows so task memory stays
    # bounded for huge partitions while tiny clusters still share batches
    _FLUSH_EDGES = 100_000

    def kernel(batches):
        out_id, out_nb = [], []
        out_cos: list[float] = []
        out_rank: list[int] = []

        def flush():
            frame = pd.DataFrame(
                {
                    "id": pd.concat(out_id, ignore_index=True),
                    "neighbor": pd.concat(out_nb, ignore_index=True),
                    "cos": pd.Series(out_cos, dtype="float64"),
                    "rank": pd.Series(out_rank, dtype="int32"),
                }
            )
            out_id.clear()
            out_nb.clear()
            out_cos.clear()
            out_rank.clear()
            return frame

        for pdf in _iter_cluster_blocks(batches):
            n = len(pdf)
            if n <= 1:
                continue
            ids = pdf["id"].reset_index(drop=True)
            src_pos: list[int] = []
            nb_pos: list[int] = []
            for lo, hi, cos in _pair_cos_chunks(pdf):
                for i in range(lo, hi):
                    row = np.delete(cos[i - lo], i)
                    others = np.delete(np.arange(n), i)
                    order = np.argsort(-row, kind="stable")[:n_neighbors]
                    src_pos.extend([i] * len(order))
                    nb_pos.extend(others[order])
                    out_cos.extend(row[order])
                    out_rank.extend(range(1, len(order) + 1))
            out_id.append(ids.iloc[src_pos])
            out_nb.append(ids.iloc[nb_pos])
            if len(out_cos) >= _FLUSH_EDGES:
                yield flush()
        if out_cos:
            yield flush()

    return kernel


def semdedup(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 4,
    iterations: int = 2,
    threshold: float = 0.95,
    assign_method: str = "auto",
    strict: bool = True,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embeddings, then inside each cluster remove every point with cosine
    ≥ ``threshold`` to a lower-id point. Clustering bounds the pairwise
    check to within-cluster blocks — the k-means step is what makes
    semantic dedup sub-quadratic (``k`` grows with the corpus so block
    sizes stay bounded; the paper uses 50k clusters for LAION).

    Keep-first policy (remove the higher id of every pair), same as
    :func:`~..operators.dedup.dedup_cascade`. Returns the per-cluster
    report ``(cluster_id, n_points, n_removed, n_kept)``.

    Pair stage (r13): ONE Arrow kernel per cluster block
    (:func:`_semdedup_report_kernel`) replaces the cluster self-join +
    per-pair interpreted HOF dot + distinct + join-back + agg — four
    shuffles and ~n²/k interpreted folds collapse into a groupBy
    exchange plus vectorized numpy (guide §4.2). Cosines are
    bit-identical to the HOF formulation (see
    :func:`_pair_cos_chunks` — same per-dimension left-to-right IEEE
    accumulation), the norms still compute JVM-side exactly as before,
    so the removal decisions and the oracle are unchanged (prototype
    full-collect diff: zero; oracle re-proven at sf0.001/0.01).
    Kernel memory is chunk-bounded (``_PAIR_CHUNK_ROWS`` × block); the
    group bound is the operator's existing block bound (k scales with
    the corpus).
    """
    assigned = kmeans_lloyd(
        emb, vec_col, id_col, k=k, iterations=iterations,
        assign_method=assign_method, strict=strict,
    )
    base = _cluster_base(emb, vec_col, id_col, assigned)
    cid_t = assigned.schema["cluster_id"].dataType.simpleString()
    return (
        base.repartition("cluster_id")
        .sortWithinPartitions("cluster_id", "id")
        .mapInPandas(
            _semdedup_report_kernel(threshold),
            schema=(
                f"cluster_id {cid_t}, n_points bigint,"
                " n_removed bigint, n_kept bigint"
            ),
        )
    )


def knn_graph(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 16,
    iterations: int = 2,
    n_neighbors: int = 3,
    assign_method: str = "auto",
    strict: bool = True,
) -> DataFrame:
    """Approximate kNN graph via cluster blocking: each vector's top
    ``n_neighbors`` by cosine among its OWN k-means cluster — the
    IVF-nprobe=1 shape for building similarity graphs (diversity
    sampling, graph-based label propagation over corpus neighborhoods).
    Deterministic cut: (cosine desc, neighbor id asc) row_number.

    Same scale shape as :func:`semdedup`: per-cluster blocks bound the
    pair work at n²/k. Pair stage (r13): one Arrow kernel per block
    (:func:`_knn_edges_kernel`) replaces the cluster self-join +
    interpreted per-pair HOF dot + ranking window — the top-k cut is
    cluster-local (every candidate edge lives inside one block), so the
    window's extra shuffle disappears with it (guide §2.4/§4.2).
    Cosines are bit-identical to the HOF fold (:func:`_pair_cos_chunks`)
    and the 6dp rounding still applies JVM-side via ``F.round`` (Java
    HALF_UP ≠ numpy half-even on exact-tie doubles, which exist — e.g.
    1/128 — so rounding must stay in the JVM). Recall vs exact kNN is a
    measurable trade (raise k and probe adjacent clusters to improve
    it — see ``similarity.ivf_topk`` for the multi-probe variant).

    Embeddings must be finite: the kernel's ``np.argsort`` ranks a NaN
    cosine LAST, where a Spark window over the same cosines would rank
    it first (Spark orders NaN above every double), so a NaN component
    changes which neighbors survive the cut.
    """
    assigned = kmeans_lloyd(
        emb, vec_col, id_col, k=k, iterations=iterations,
        assign_method=assign_method, strict=strict,
    )
    base = _cluster_base(emb, vec_col, id_col, assigned)
    id_t = emb.schema[id_col].dataType.simpleString()
    edges = (
        base.repartition("cluster_id")
        .sortWithinPartitions("cluster_id", "id")
        .mapInPandas(
            _knn_edges_kernel(n_neighbors),
            schema=f"id {id_t}, neighbor {id_t}, cos double, rank int",
        )
    )
    return edges.select(
        "id", "neighbor", F.round("cos", 6).alias("cosine"), "rank"
    )
