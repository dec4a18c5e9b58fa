"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``  — brute-force exact top-k: broadcast the (small) query
  set against the corpus; the dot product is an ordered JVM-side fold
  (zip_with + aggregate in double precision — deterministic summation
  order), ranking via per-query window.  Exact baseline; scales linearly in
  corpus size and is embarrassingly parallel.
- ``lsh_topk``     — random-hyperplane LSH bucketing: sign-bit sketches put
  near vectors in shared buckets; top-k is computed inside buckets only.
  The scale path: the corpus-wide shuffle key is the bucket id.  Recall is
  tunable via (planes, tables).

Hyperplanes are generated deterministically from xxhash64 of (table, plane,
dim) — reproducible across runs/clusters with no RNG state.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _c(x) -> Column:
    return F.col(x) if isinstance(x, str) else x


#: Fault-injection seam for the durability drill (DURABILITY.md): when set,
#: called with (src, dst) BEFORE every publish rename — a test raises from
#: here to simulate a crash at any rename boundary of the index lifecycle.
#: None in production; the call costs one None-check.
_RENAME_HOOK = None


def _publish_rename(fs, src, dst, what: str) -> None:
    """Every durable publish rename funnels through here so the crash
    drill can kill the process at each boundary exactly once."""
    if _RENAME_HOOK is not None:
        _RENAME_HOOK(str(src), str(dst))
    if not fs.rename(src, dst):
        raise IOError(f"{what}: rename {src} -> {dst}")


def _fs_write_text(spark, path: str, text: str) -> None:
    """Write a small text file through the Hadoop FileSystem API, so the
    sidecar lands on the SAME filesystem as the parquet half of the index
    (HDFS/S3/file — whatever the path's scheme resolves to).  A builtin
    ``open()`` here would silently ship a broken index on any non-local
    path: parquet written remotely, sidecar written nowhere."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(p, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def _fs_write_text_atomic(spark, path: str, text: str) -> None:
    """Publish a small text file by write-to-temp-then-rename (the same
    discipline as :func:`_staged_partition_append`).  ``_fs_write_text``
    truncates the destination in place, so a crash mid-write leaves a
    corrupt file; manifests that gate exactly-once commits must never be
    observable half-written.  Rename is atomic on HDFS and local FS; the
    delete+rename pair leaves at worst a missing-file window, which
    readers treat as "no manifest yet" — never a truncated one."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    p = hpath(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    tmp = hpath(path + ".__staging__")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
    if fs.exists(p):
        fs.delete(p, False)
    _publish_rename(fs, tmp, p, "atomic publish failed")


def _fs_read_text(spark, path: str) -> str:
    """Read a small text file through the Hadoop FileSystem API (twin of
    :func:`_fs_write_text`)."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    stream = fs.open(p)
    try:
        return jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def dot(a, b) -> Column:
    """Ordered-fold double dot product of two array columns (JVM-side)."""
    return F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a, b) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    query_id: str = "query_id",
    corpus_id: str = "corpus_id",
    query_vec: str = "query_vec",
    corpus_vec: str = "corpus_vec",
) -> DataFrame:
    """Exact top-k neighbors per query by cosine similarity.

    Output: (query_id, corpus_id, similarity, rank), rank 1..k, ties broken
    by corpus id for determinism.  The query side is broadcast (it is the
    small side by construction); per-query ranking uses a window partitioned
    by query — no global sort.
    """
    from supersonic_spark.operators.core import ensure_parallelism

    q = queries.select(_c(query_id).alias("__qid"), _c(query_vec).alias("__qv"))
    c = ensure_parallelism(corpus).select(
        _c(corpus_id).alias("__cid"), _c(corpus_vec).alias("__cv")
    )
    scored = c.join(F.broadcast(q)).select(
        F.col("__qid").alias(query_id),
        F.col("__cid").alias(corpus_id),
        cosine("__qv", "__cv").alias("similarity"),
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("similarity").desc(), F.col(corpus_id).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _hyperplane_weight(table: int, plane: int, dim: int) -> float:
    """Deterministic pseudo-random weight in [-1, 1): SHA-256 of
    (table, plane, dim) — no RNG state, reproducible on any cluster.
    Computed driver-side once; ships to executors as a literal array."""
    import hashlib

    h = hashlib.sha256(f"ss-lsh:{table}:{plane}:{dim}".encode()).digest()
    v = int.from_bytes(h[:8], "big")
    return (v % 2_000_003) / 1_000_001.0 - 1.0


def _bucket_sketch_udf(dim: int, planes: int, tables: int):
    """Vectorized (Arrow-batched) bucket sketch: one numpy matmul per batch
    computes all `tables` bucket ids → array<long>.  This is the sanctioned
    Python hot path: ~dim×planes×tables flops per row as BLAS, not 2048
    expression nodes per row.  Weights derive from _hyperplane_weight, so
    buckets are reproducible across runs/executors."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    W = np.array(
        [
            [_hyperplane_weight(t, p, d) for t in range(tables) for p in range(planes)]
            for d in range(dim)
        ]
    )  # dim × (tables·planes)
    pow2 = (1 << np.arange(planes)).astype("int64")

    @pandas_udf(ArrayType(LongType()))
    def buckets(v: pd.Series) -> pd.Series:
        x = np.stack([np.asarray(e, dtype="float64") for e in v])
        proj = x @ W
        bits = (proj >= 0).reshape(len(x), tables, planes)
        ids = (bits * pow2).sum(axis=2).astype("int64")
        return pd.Series(list(ids))

    # The function IS deterministic (fixed weights, pure numpy); the
    # marking is the sanctioned way to stop the optimizer DUPLICATING the
    # evaluation: the posexplode above it makes InferFiltersFromGenerate
    # derive ``size(buckets(v)) > 0``, which — like the join keys'
    # isnotnull — is pushed below the ensure_parallelism exchange and
    # re-evaluates the whole Arrow matmul pass serially in the scan stage
    # (coalesce-wrapping blocks the null-check but not the size-check).
    # Non-deterministic expressions are never copied or reordered, so the
    # sketch runs exactly once, above the exchange.
    return buckets.asNondeterministic()


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    dim: int,
    query_id: str = "query_id",
    corpus_id: str = "corpus_id",
    query_vec: str = "query_vec",
    corpus_vec: str = "corpus_vec",
    planes: int = 8,
    tables: int = 4,
) -> DataFrame:
    """Approximate top-k: candidates share an LSH bucket in ≥1 table; exact
    cosine re-scores candidates.  Corpus-side shuffle key = (table, bucket)."""
    from supersonic_spark.operators.core import ensure_parallelism

    sketch = _bucket_sketch_udf(dim, planes, tables)
    q = queries.select(_c(query_id).alias("__qid"), _c(query_vec).alias("__qv"))
    c = ensure_parallelism(corpus).select(
        _c(corpus_id).alias("__cid"), _c(corpus_vec).alias("__cv")
    )
    # coalesce-wrapped sketch for the same no-isnotnull-inference reason
    # as ivf_topk's cell key: the (tbl, bkt) join constraint otherwise
    # rewrites onto the sketch UDF and duplicates it below the
    # ensure_parallelism exchange (serial Arrow pass in the scan stage).
    # The UDF never returns NULL, so values are unchanged.
    empty = F.array().cast("array<bigint>")
    qb = (
        q.withColumn("__bkts", F.coalesce(sketch("__qv"), empty))
        .select("__qid", "__qv", F.posexplode("__bkts").alias("tbl", "bkt"))
    )
    cb = (
        c.withColumn("__bkts", F.coalesce(sketch("__cv"), empty))
        .select("__cid", "__cv", F.posexplode("__bkts").alias("tbl", "bkt"))
    )
    cand = (
        cb.join(F.broadcast(qb), ["tbl", "bkt"])
        .select("__qid", "__qv", "__cid", "__cv")
        .dropDuplicates(["__qid", "__cid"])
    )
    scored = cand.select(
        F.col("__qid").alias(query_id),
        F.col("__cid").alias(corpus_id),
        cosine("__qv", "__cv").alias("similarity"),
    )
    w = Window.partitionBy(query_id).orderBy(F.col("similarity").desc(), F.col(corpus_id).asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# ------------------------------------------------------------------- IVF

def ivf_train_centroids_hier(
    corpus: DataFrame,
    corpus_id,
    corpus_vec,
    n_cells: int,
    sample_size: int = 4096,
    iters: int = 10,
    max_train_bytes: int = 128 << 20,
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """Two-level spherical k-means for LARGE cell counts: ``k1 = ⌈√n_cells⌉``
    coarse centroids trained on a driver sample, then per-coarse-cell fine
    centroids (``⌈n_cells/k1⌉`` each) trained on that cell's sample members.

    Why: flat assignment costs ``N·n_cells·dim`` flops — when n_cells must
    scale with the corpus to hold cell size constant (the SemDeDup recipe),
    that term is asymptotically QUADRATIC in N, and it is exactly what the
    round-7 scaling sweep measured (dedup_semantic_semdedup exponent 1.6 at
    sf30 with everything else linear).  Hierarchical assignment costs
    ``N·(k1 + k2)·dim ≈ N·2√n_cells·dim`` — the standard IVF/ANN trade: a
    vector near a coarse boundary can land in a slightly different fine
    cell than flat k-means would give, which only moves WHICH near-dup
    pairs a clustered scan can see (same approximation class as flat cells;
    identical vectors still always share a cell — the deterministic argmax
    chain sees identical rows).

    The sample grows mildly with n_cells (8 rows per requested cell, capped
    at 64k rows AND at ``max_train_bytes`` of f64 — rows × dim × 8, so a
    dim-1024 corpus caps at ~16k rows instead of silently collecting
    ~0.5 GB to the driver) so fine cells train on >1 member; a coarse cell
    with no sample members degenerates to one fine cell at the coarse
    centroid.  When the byte cap squeezes the sample below 8 rows/cell,
    the COARSE level falls back to the distributed trainer
    (:func:`kmeans_lloyd` — k1 ≈ √n_cells centroids, corpus never
    collected) and only the fine per-cell training uses the byte-capped
    sample.  Unlike the flat trainer's 4096-row ``orderBy(xxhash64)
    .limit``, the bigger sample is taken by a deterministic
    HASH-THRESHOLD filter — ``orderBy().limit()`` is a TakeOrdered whose
    driver-side merge receives ``partitions × limit`` wide vectors,
    itself a scaling hazard at 64k; the filter ships only the surviving
    rows and is content-defined, so it is reproducible across layouts and
    cluster sizes.  When ``n_total`` is within 1.5× of the target the
    filter is skipped entirely (collect all, trim driver-side): a
    hash-threshold keeps the target only IN EXPECTATION, and at small
    ratios binomial variance can undershoot it.  Returns (coarse,
    fine-per-coarse); feed both to :func:`_assign_cells_hier_udf`.
    """
    eff = min(max(sample_size, 8 * n_cells), 65536)
    sel = corpus.select(_c(corpus_vec).alias("v"), _c(corpus_id).alias("i"))
    n_total = sel.count()  # parquet-backed scans answer this from footers
    first = sel.first()
    dim = len(first["v"]) if first is not None else 1
    row_cap = max(1, int(max_train_bytes // (dim * 8)))
    # distributed-coarse fallback when the byte cap cuts below the hier
    # quality bar (8 rows/cell) AND actually binds (corpus bigger than cap)
    coarse_distributed = row_cap < min(8 * n_cells, n_total)
    eff = min(eff, row_cap)
    if n_total > eff and n_total > int(1.5 * eff):
        # keep ~1.3×eff by hash threshold, then trim deterministically;
        # below the 1.5× ratio we collect everything instead (see above)
        denom = 1 << 20
        thresh = min(denom, int(denom * 1.3 * eff / n_total) + 1)
        sel = sel.filter(F.pmod(F.xxhash64(F.col("i")), F.lit(denom)) < thresh)
    # deterministic trim: survivors are already hash-randomized, so plain
    # id order is a stable, layout-independent rule (no driver TakeOrdered)
    rows = sorted(sel.collect(), key=lambda r: r.i)[:eff]
    X = np.asarray([list(r.v) for r in rows], dtype="float64")
    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    # the coarse level is not sample-bound when trained distributed
    k1_bound = n_total if coarse_distributed else len(Xn)
    k1 = min(int(math.ceil(math.sqrt(n_cells))), k1_bound)
    k2 = int(math.ceil(n_cells / max(k1, 1)))
    if coarse_distributed and len(Xn) > 0:
        # the sample is byte-bound below hier quality (8 rows/cell): train
        # the coarse quantizer on the FULL corpus distributed — per
        # iteration one Arrow matmul scan + one k1×dim shuffle, nothing
        # wide ever collected — and keep the sample for fine training only.
        _, c1_list = kmeans_lloyd(corpus, corpus_id, corpus_vec, k=k1, iters=3)
        C1 = np.asarray(c1_list, dtype="float64")
        C1 = C1 / np.maximum(np.linalg.norm(C1, axis=1, keepdims=True), 1e-12)
    else:
        C1 = _spherical_lloyd(Xn, k1, iters)
    assign = np.argmax(Xn @ C1.T, axis=1)
    fine: list[list[list[float]]] = []
    for j in range(k1):
        members = Xn[assign == j]
        if len(members) == 0:
            fine.append([list(map(float, C1[j]))])
        else:
            C2 = _spherical_lloyd(members, min(k2, len(members)), iters)
            fine.append([list(map(float, c)) for c in C2])
    return [list(map(float, c)) for c in C1], fine


def _assign_cells_hier_udf(coarse, fine):
    """Arrow-batched two-level cell assignment: argmax over the coarse
    centroids, then argmax over that coarse cell's fine centroids; emits a
    single GLOBAL fine-cell id (coarse offsets + fine index) as array<int>
    of length 1 — drop-in for ``_assign_cells_udf(..., nprobe=1)``."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, IntegerType

    C1 = np.asarray(coarse, dtype="float64")
    C1n = C1 / np.maximum(np.linalg.norm(C1, axis=1, keepdims=True), 1e-12)
    F2n = []
    for f in fine:
        A = np.asarray(f, dtype="float64")
        F2n.append(A / np.maximum(np.linalg.norm(A, axis=1, keepdims=True), 1e-12))
    offsets = np.zeros(len(F2n) + 1, dtype="int64")
    np.cumsum([len(f) for f in F2n], out=offsets[1:])

    @pandas_udf(ArrayType(IntegerType()))
    def cells(v: pd.Series) -> pd.Series:
        x = np.stack([np.asarray(e, dtype="float64") for e in v])
        xn = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        # Round scores before argmax: BLAS reduction order varies with the
        # BATCH shape, so the same vector in two Arrow batches gets dot
        # products differing by ~1e-14 — with hundreds of cells, near-tied
        # centroids then flip the argmax and identical vectors can land in
        # different cells (observed; it breaks the copy-shares-cell
        # invariant the oracle relies on).  1e-9 is far above FP jitter
        # and far below any meaningful cosine gap; residual exact ties
        # break to the lowest cell id, consistently for identical rows.
        c1 = np.argmax(np.round(xn @ C1n.T, 9), axis=1)
        out = np.empty(len(xn), dtype="int64")
        for c in np.unique(c1):
            m = c1 == c
            out[m] = offsets[c] + np.argmax(np.round(xn[m] @ F2n[c].T, 9), axis=1)
        return pd.Series([[int(o)] for o in out])

    return cells


def _assign_cells_udf(centroids, nprobe: int):
    """Arrow-batched cell assignment: one matmul per batch scores every
    vector against all centroids; returns the ``nprobe`` nearest cell ids
    (by cosine) as array<int>."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, IntegerType

    C = np.asarray(centroids, dtype="float64")  # n_cells × dim
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)

    @pandas_udf(ArrayType(IntegerType()))
    def cells(v: pd.Series) -> pd.Series:
        x = np.stack([np.asarray(e, dtype="float64") for e in v])
        xn = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        sim = xn @ Cn.T                       # batch × n_cells
        # Round before ranking, ties to the lowest cell id (stable sort):
        # BLAS reduction order varies with the BATCH shape, so the same
        # vector in two Arrow batches gets dot products differing by
        # ~1e-14; with near-tied centroids that flips the ranking and
        # identical vectors can land in different cells — breaking the
        # copy-shares-cell invariant semdedup/ivf oracles rely on (same
        # fix as _assign_cells_hier_udf, where it was first observed).
        top = np.argsort(-np.round(sim, 9), axis=1, kind="stable")[
            :, :nprobe
        ].astype("int32")
        return pd.Series(list(top))

    return cells


def ivf_centroids(
    corpus: DataFrame, corpus_id, corpus_vec, n_cells: int
) -> list[list[float]]:
    """Deterministic IVF 'coarse quantizer': pick ``n_cells`` corpus vectors
    by xxhash64 order of their ids (a reproducible pseudo-random sample —
    no RNG state, stable across runs/clusters).

    This replaces trained k-means centroids (training is a separate offline
    job at 100 TB; any centroid set keeps the index correct — only cell
    balance changes).  Collects n_cells × dim floats to the driver: tiny.
    """
    rows = (
        corpus.select(_c(corpus_vec).alias("v"), _c(corpus_id).alias("i"))
        .orderBy(F.xxhash64(F.col("i")))
        .limit(n_cells)
        .collect()
    )
    return [list(r.v) for r in rows]


def ivf_train_centroids(
    corpus: DataFrame,
    corpus_id,
    corpus_vec,
    n_cells: int,
    sample_size: int = 4096,
    iters: int = 10,
) -> list[list[float]]:
    """Spherical k-means IVF coarse quantizer, trained driver-side on a
    deterministic sample.

    The 100 TB shape: training reads a bounded sample (``sample_size`` rows
    chosen by xxhash64 order of ids — reproducible, no RNG state), and the
    Lloyd iterations are ``sample_size × n_cells`` numpy flops on the
    driver — milliseconds.  The big data is touched exactly once, by the
    cell-assignment pass in :func:`ivf_topk`.  Versus the sampled-vector
    centroids of :func:`ivf_centroids`, trained centroids even out cell
    sizes (fewer straggler cells) and raise recall at the same nprobe.

    Deterministic k-means++-style init: seeds are the first ``n_cells``
    sample vectors in xxhash64 order; assignment ties break to the lowest
    cell id.  Empty cells re-seed to the vector farthest from its centroid.
    """
    Xn = _sample_vectors_normalized(corpus, corpus_id, corpus_vec, sample_size)
    C = _spherical_lloyd(Xn, min(n_cells, len(Xn)), iters)
    return [list(map(float, c)) for c in C]


def _sample_vectors_normalized(
    corpus: DataFrame, corpus_id, corpus_vec, sample_size: int
) -> "np.ndarray":
    """The shared deterministic training sample: the first ``sample_size``
    corpus vectors in (xxhash64(id), id) order, collected once and
    L2-normalized.  One TakeOrdered job — trainers that need both coarse
    centroids and codebooks reuse a single collect instead of re-running
    the corpus scan per training stage."""
    rows = (
        corpus.select(_c(corpus_vec).alias("v"), _c(corpus_id).alias("i"))
        .orderBy(F.xxhash64(F.col("i")), F.col("i"))
        .limit(sample_size)
        .collect()
    )
    X = np.asarray([list(r.v) for r in rows], dtype="float64")
    return X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)


def _spherical_lloyd(Xn: "np.ndarray", k: int, iters: int) -> "np.ndarray":
    """Deterministic spherical Lloyd iterations on a pre-normalized sample
    (seeds = first ``k`` rows; ties break to the lowest cell id; empty
    cells re-seed to the worst-fit vector).  Shared by the flat and
    hierarchical trainers — behavior identical to the original inline loop."""
    C = Xn[:k].copy()
    for _ in range(iters):
        sim = Xn @ C.T                                  # sample × k
        assign = np.argmax(sim, axis=1)
        for j in range(k):
            members = Xn[assign == j]
            if len(members):
                m = members.sum(axis=0)
                C[j] = m / max(np.linalg.norm(m), 1e-12)
            else:                                       # re-seed empty cell
                worst = int(np.argmin(sim.max(axis=1)))
                C[j] = Xn[worst]
    return C


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id,
    query_vec,
    corpus_id,
    corpus_vec,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    centroids: list[list[float]] | None = None,
    train: bool = False,
) -> DataFrame:
    """IVF approximate top-k: corpus vectors live in their nearest-centroid
    cell (inverted list); each query probes its ``nprobe`` nearest cells and
    exact cosine re-scores only those cells' vectors.

    Scale shape: the corpus shuffles once on cell id (≈ corpus/n_cells rows
    per cell); queries broadcast to their probe cells.  Versus LSH:
    deterministic recall/latency knobs (n_cells, nprobe) and one shuffle key
    instead of (table, bucket) fan-out.

    ``train=True`` fits the coarse quantizer with sampled spherical k-means
    (:func:`ivf_train_centroids`) instead of raw sampled vectors — better
    cell balance, same index mechanics.
    """
    if centroids is None:
        centroids = (
            ivf_train_centroids(corpus, corpus_id, corpus_vec, n_cells)
            if train
            else ivf_centroids(corpus, corpus_id, corpus_vec, n_cells)
        )

    from supersonic_spark.operators.core import ensure_parallelism

    c_assign = _assign_cells_udf(centroids, 1)
    q_assign = _assign_cells_udf(centroids, nprobe)

    # The cell column is coalesce-wrapped (the UDF never returns NULL, so
    # values are unchanged): the inner join on "cell" infers
    # isnotnull(cell), and that null-intolerant constraint — rewritten
    # through the projection onto the assignment UDF — is pushed BELOW the
    # ensure_parallelism exchange, evaluating the whole Arrow assignment
    # pass twice, once serially in the (often 1-task) scan stage (the
    # round-7 simhash trap, here via a join key instead of a filter;
    # measured as a duplicate ArrowEvalPython node in the r8 plan pins).
    # Coalesce is null-tolerant, so isnotnull(coalesce(x, -1)) folds away
    # and the UDF evaluates once, above the exchange, in parallel.
    c = (
        ensure_parallelism(corpus)
        .select(_c(corpus_id).alias("__cid"), _c(corpus_vec).alias("__cv"))
        .withColumn("cell", F.coalesce(c_assign("__cv")[0], F.lit(-1)))
    )
    qd = (
        queries.select(_c(query_id).alias("__qid"), _c(query_vec).alias("__qv"))
        .withColumn("cell", F.explode(q_assign("__qv")))
    )
    cand = c.join(F.broadcast(qd), "cell").select("__qid", "__qv", "__cid", "__cv")
    scored = cand.select(
        F.col("__qid").alias("query_id"),
        F.col("__cid").alias("corpus_id"),
        cosine(F.col("__qv"), F.col("__cv")).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("corpus_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .drop("rank")
    )


def kmeans_lloyd(
    df: DataFrame,
    id_col,
    vec_col,
    k: int = 8,
    iters: int = 3,
) -> tuple[DataFrame, list[list[float]]]:
    """DISTRIBUTED spherical k-means (Lloyd's): the full-corpus companion
    to the driver-side sampled trainer (:func:`ivf_train_centroids`).

    Per iteration: (1) assignment — one Arrow-batched matmul pass over the
    corpus against the broadcast centroids (no shuffle); (2) update — one
    posexplode → (cluster, dim) partial-aggregated mean shuffle, whose
    output is k×dim rows collected to the driver for the next broadcast.
    At 100 TB each iteration therefore costs one corpus scan + one
    k×dim-sized shuffle — the canonical distributed-ML shape (small model
    state circulates; big data never moves).

    Deterministic end to end: seeds are the k vectors with the smallest
    xxhash64(id) (ties to lowest id), assignment argmax ties break to the
    lowest cluster id (numpy argmax), means are dimension-wise independent
    aggregations.  Returns (assignments DataFrame ``id_col, cluster``,
    centroids as k×dim python lists — unit-normalized).
    """
    centroids = ivf_centroids(df, id_col, vec_col, k)
    base = df.select(_c(id_col).alias("__id"), _c(vec_col).alias("__v"))
    for _ in range(iters):
        assigned = base.withColumn("cluster", _assign_cells_udf(centroids, 1)("__v")[0])
        # update: normalize, then dimension-wise mean per cluster —
        # posexplode keys the shuffle on (cluster, dim); partial agg
        # shrinks it to k×dim rows before the exchange.
        nrm = F.sqrt(
            F.aggregate("__v", F.lit(0.0), lambda a, x: a + x.cast("double") * x)
        )
        unit = F.transform("__v", lambda x: x.cast("double") / F.greatest(nrm, F.lit(1e-12)))
        dims = (
            assigned.select("cluster", F.posexplode(unit).alias("dim", "val"))
            .groupBy("cluster", "dim")
            .agg(F.avg("val").alias("m"))
        )
        rows = (
            dims.groupBy("cluster")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "m"))),
                    lambda s: s["m"],
                ).alias("centroid")
            )
            .collect()
        )
        new_c = list(centroids)
        for r in rows:
            v = np.asarray(r["centroid"], dtype="float64")
            n = np.linalg.norm(v)
            if n > 1e-12:
                new_c[r["cluster"]] = [float(x) for x in v / n]
        centroids = new_c
    final = base.withColumn("cluster", _assign_cells_udf(centroids, 1)("__v")[0])
    out = final.select(F.col("__id").alias(id_col if isinstance(id_col, str) else "id"),
                       "cluster")
    return out, centroids


def mean_embedding(
    df: DataFrame,
    key_col: str,
    vec_col: str,
    out_col: str = "centroid",
    round_dp: int | None = 6,
) -> DataFrame:
    """Grouped mean-pooling of embedding vectors: (key, centroid, n) with
    centroid[i] = avg over the group of vec[i].  The building block for
    cluster profiling, class prototypes, and IVF centroid refresh.

    Scale shape: posexplode to (key, dim, value) — dim× row inflation, but
    partial aggregation folds map-side, so the one shuffle carries
    groups × dim rows (sketch-sized, not corpus-sized); the vector is then
    reassembled per group via sort_array over (pos, mean) structs (a small
    in-group sort of `dim` elements, not a data sort).  ``round_dp`` rounds
    the means (cross-engine double-sum portability); None keeps full bits.
    """
    e = df.select(
        _c(key_col).alias("__k"),
        F.posexplode(_c(vec_col).cast("array<double>")).alias("__pos", "__val"),
    )
    m = e.groupBy("__k", "__pos").agg(
        F.avg("__val").alias("__mv"), F.count(F.lit(1)).alias("__n")
    )
    mv = F.round("__mv", round_dp) if round_dp is not None else F.col("__mv")
    g = m.groupBy("__k").agg(
        F.sort_array(F.collect_list(F.struct(F.col("__pos"), mv.alias("__mv")))).alias(
            "__pairs"
        ),
        F.max("__n").alias("n"),
    )
    return g.select(
        F.col("__k").alias(key_col),
        F.transform("__pairs", lambda p: p["__mv"]).alias(out_col),
        "n",
    )


def quantize_embedding_int8(
    df: DataFrame, vec_col: str, out_col: str = "qvec", scale_col: str = "qscale"
) -> DataFrame:
    """Symmetric int8 scalar quantization of an embedding column: per-vector
    scale = max(|v|)/127, codes = round(v/scale) ∈ [-127, 127] — 4× smaller
    on disk/shuffle than float32 with ~0.4% cosine error at 64 dims.  Keeps
    all other columns; dequantize with :func:`dequantize_embedding_int8`.

    Scale shape: zero-shuffle map stage; aggregate() folds the max and the
    code array builds in one transform — all JVM array expressions.
    """
    v = _c(vec_col).cast("array<double>")
    amax = F.aggregate(
        v, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x))
    )
    scale = F.when(amax > 0.0, amax / F.lit(127.0)).otherwise(F.lit(1.0))
    out = df.withColumn(scale_col, scale)
    codes = F.transform(
        v, lambda x: F.round(x / F.col(scale_col)).cast("tinyint")
    )
    return out.withColumn(out_col, codes)


def dequantize_embedding_int8(
    df: DataFrame, qvec_col: str = "qvec", scale_col: str = "qscale",
    out_col: str = "vec",
) -> DataFrame:
    """Inverse of :func:`quantize_embedding_int8`: vec[i] = codes[i] * scale
    (array<double>; quantization error ≤ scale/2 per component)."""
    codes = _c(qvec_col)
    return df.withColumn(
        out_col,
        F.transform(codes, lambda c: c.cast("double") * F.col(scale_col)),
    )


# ------------------------------------------------------- product quantization

def pq_train_codebooks(
    corpus: DataFrame,
    corpus_id,
    corpus_vec,
    m: int = 8,
    ksub: int = 16,
    sample_size: int = 4096,
    iters: int = 12,
) -> list[list[list[float]]]:
    """Product-quantization codebooks: split the (L2-normalized) vector into
    ``m`` subspaces and run plain-L2 Lloyd's with ``ksub`` centroids per
    subspace, driver-side on a deterministic sample (xxhash64 order of ids —
    reproducible, no RNG state; the same bounded-sample discipline as
    :func:`ivf_train_centroids`).

    Returns m × ksub × (dim/m) floats — the entire index metadata is
    m·ksub·dim/m = ksub·dim floats regardless of corpus size, so at 100 TB
    the codebooks broadcast for free while the corpus itself compresses to
    ``m`` uint8 codes per vector (32× smaller than float32 at dim=64, m=8).

    Deterministic: seeds are the first ksub sample subvectors, ties break
    to the lowest centroid id, empty clusters re-seed to the farthest
    point.
    """
    rows = (
        corpus.select(_c(corpus_vec).alias("v"), _c(corpus_id).alias("i"))
        .orderBy(F.xxhash64(F.col("i")), F.col("i"))
        .limit(sample_size)
        .collect()
    )
    X = np.asarray([list(r.v) for r in rows], dtype="float64")
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d = dim // m
    books = []
    for j in range(m):
        S = X[:, j * d : (j + 1) * d]
        k = min(ksub, len(S))
        C = S[:k].copy()
        for _ in range(iters):
            d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)  # n × k
            assign = np.argmin(d2, axis=1)
            for t in range(k):
                members = S[assign == t]
                if len(members):
                    C[t] = members.mean(axis=0)
                else:  # re-seed to the worst-approximated point
                    C[t] = S[int(np.argmax(d2.min(axis=1)))]
        books.append([list(map(float, c)) for c in C])
    return books


def _pq_encode_udf(codebooks):
    """Arrow-batched PQ encoder: per subspace, one distance matmul against
    that subspace's codebook; emits m int32 codes per vector."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, IntegerType

    B = [np.asarray(b, dtype="float64") for b in codebooks]
    d = B[0].shape[1]

    @pandas_udf(ArrayType(IntegerType()))
    def codes(v: pd.Series) -> pd.Series:
        x = np.stack([np.asarray(e, dtype="float64") for e in v])
        x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        out = np.empty((len(x), len(B)), dtype="int32")
        for j, Cb in enumerate(B):
            S = x[:, j * d : (j + 1) * d]
            d2 = (S * S).sum(1)[:, None] - 2.0 * (S @ Cb.T) + (Cb * Cb).sum(1)[None, :]
            out[:, j] = np.argmin(d2, axis=1)
        return pd.Series(list(out))

    return codes


def _pq_lut_udf(codebooks):
    """Arrow-batched ADC lookup-table builder: per query, a flat
    m·ksub array — lut[j·ksub + t] = <q̂_subj, codebook[j][t]>, so the
    approximate cosine of any corpus code word is m array lookups."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, DoubleType

    B = [np.asarray(b, dtype="float64") for b in codebooks]
    d = B[0].shape[1]

    @pandas_udf(ArrayType(DoubleType()))
    def lut(v: pd.Series) -> pd.Series:
        x = np.stack([np.asarray(e, dtype="float64") for e in v])
        x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        tabs = np.concatenate(
            [x[:, j * d : (j + 1) * d] @ B[j].T for j in range(len(B))], axis=1
        )  # batch × (m·ksub)
        return pd.Series(list(tabs))

    return lut


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id,
    query_vec,
    corpus_id,
    corpus_vec,
    k: int = 5,
    m: int = 8,
    ksub: int = 16,
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Product-quantization approximate top-k by asymmetric distance
    computation (ADC): corpus vectors compress to ``m`` codes; each query
    carries an m×ksub lookup table; the approximate cosine of a (query,
    corpus) pair is a JVM-side fold of ``m`` array lookups — no float
    vectors move after encoding.

    Scale shape: the corpus is touched once by the Arrow-batched encoder
    (map-only); the scored scan carries m ints per corpus row instead of
    dim floats (32× at dim=64/m=8 — the reason PQ exists: the compressed
    corpus fits in memory at sizes where raw vectors spill); queries (with
    LUTs) broadcast.  Returns (query_id, corpus_id, score, rank) where
    score ≈ cosine; callers wanting exact ranking re-score the top
    candidates with :func:`cosine_topk` over the shortlist.
    """
    from supersonic_spark.operators.core import ensure_parallelism

    if codebooks is None:
        codebooks = pq_train_codebooks(corpus, corpus_id, corpus_vec, m, ksub)
    enc = _pq_encode_udf(codebooks)
    lut = _pq_lut_udf(codebooks)
    ksub_real = len(codebooks[0])

    c = (
        ensure_parallelism(corpus)
        .select(_c(corpus_id).alias("__cid"), _c(corpus_vec).alias("__cv"))
        .withColumn("__codes", enc("__cv"))
        .drop("__cv")
    )
    q = (
        queries.select(_c(query_id).alias("__qid"), _c(query_vec).alias("__qv"))
        .withColumn("__lut", lut("__qv"))
        .drop("__qv")
    )
    cand = c.crossJoin(F.broadcast(q))
    # ADC score: m lookups, all JVM-side array expressions
    score = F.aggregate(
        F.sequence(F.lit(0), F.lit(len(codebooks) - 1)),
        F.lit(0.0),
        lambda acc, j: acc
        + F.element_at(
            F.col("__lut"),
            (j * ksub_real + F.element_at(F.col("__codes"), j + 1) + 1).cast("int"),
        ),
    )
    scored = cand.select(
        F.col("__qid").alias("query_id"),
        F.col("__cid").alias("corpus_id"),
        score.alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("corpus_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ivfpq_train(
    corpus: DataFrame,
    corpus_id,
    corpus_vec,
    n_cells: int = 16,
    m: int = 8,
    ksub: int = 16,
    sample_size: int = 4096,
    iters: int = 12,
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """Train an IVF-PQ index driver-side on one deterministic bounded
    sample: spherical-k-means coarse centroids (cells), then per-subspace
    L2 codebooks over the RESIDUALS (v̂ − centroid(cell(v̂))) — residual
    magnitudes are much smaller than raw vectors, so the same ksub buys
    finer quantization (the reason IVF-PQ beats flat PQ at equal bits).

    Returns (centroids n_cells × dim, codebooks m × ksub × dim/m).  Index
    metadata stays O(n_cells·dim + ksub·dim) regardless of corpus size.

    The training sample is collected ONCE and shared by both stages
    (coarse k-means and residual codebooks) — the previous shape ran the
    identical TakeOrdered corpus scan twice, doubling the training-side
    scan cost of every ivfpq_topk call (round-8 optimization; same rows,
    same ordering, bit-identical centroids/codebooks).
    """
    Xn = _sample_vectors_normalized(corpus, corpus_id, corpus_vec, sample_size)
    C = _spherical_lloyd(Xn, min(n_cells, len(Xn)), iters)
    centroids = [list(map(float, c)) for c in C]
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    assign = np.argmax(Xn @ Cn.T, axis=1)
    R = Xn - Cn[assign]
    dim = R.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d = dim // m
    books = []
    for j in range(m):
        S = R[:, j * d : (j + 1) * d]
        k = min(ksub, len(S))
        Cb = S[:k].copy()
        for _ in range(iters):
            d2 = ((S[:, None, :] - Cb[None, :, :]) ** 2).sum(axis=2)
            a = np.argmin(d2, axis=1)
            for t in range(k):
                members = S[a == t]
                if len(members):
                    Cb[t] = members.mean(axis=0)
                else:
                    Cb[t] = S[int(np.argmax(d2.min(axis=1)))]
        books.append([list(map(float, c)) for c in Cb])
    return centroids, books


def _ivfpq_encode_udf(centroids, codebooks):
    """Arrow-batched IVF-PQ encoder: per vector, nearest cell + m residual
    codes, one pass."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, IntegerType

    C = np.asarray(centroids, dtype="float64")
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    B = [np.asarray(b, dtype="float64") for b in codebooks]
    d = B[0].shape[1]

    @pandas_udf(ArrayType(IntegerType()))
    def enc(v: pd.Series) -> pd.Series:
        x = np.stack([np.asarray(e, dtype="float64") for e in v])
        xn = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        cell = np.argmax(xn @ Cn.T, axis=1)
        R = xn - Cn[cell]
        out = np.empty((len(x), 1 + len(B)), dtype="int32")
        out[:, 0] = cell
        for j, Cb in enumerate(B):
            S = R[:, j * d : (j + 1) * d]
            d2 = (S * S).sum(1)[:, None] - 2.0 * (S @ Cb.T) + (Cb * Cb).sum(1)[None, :]
            out[:, 1 + j] = np.argmin(d2, axis=1)
        return pd.Series(list(out))

    return enc


def _ivfpq_query_udf(centroids, codebooks, nprobe: int):
    """Arrow-batched query prep: per query, the ``nprobe`` nearest cells,
    each with its bias term <q̂, centroid> and the shared m×ksub residual
    LUT — emitted as one array [cell0, bias0, …, lut…] per probe via a
    struct-free flat layout (cells, biases, lut)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, DoubleType, IntegerType, StructField, StructType

    C = np.asarray(centroids, dtype="float64")
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    B = [np.asarray(b, dtype="float64") for b in codebooks]
    d = B[0].shape[1]
    out_type = StructType([
        StructField("cells", ArrayType(IntegerType())),
        StructField("biases", ArrayType(DoubleType())),
        StructField("lut", ArrayType(DoubleType())),
    ])

    @pandas_udf(out_type)
    def prep(v: pd.Series) -> pd.DataFrame:
        x = np.stack([np.asarray(e, dtype="float64") for e in v])
        xn = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        sim = xn @ Cn.T
        cells = np.argsort(-sim, axis=1)[:, :nprobe].astype("int32")
        biases = np.take_along_axis(sim, cells, axis=1)
        lut = np.concatenate(
            [xn[:, j * d : (j + 1) * d] @ B[j].T for j in range(len(B))], axis=1
        )
        return pd.DataFrame(
            {"cells": list(cells), "biases": list(biases), "lut": list(lut)}
        )

    return prep


def ivfpq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id,
    query_vec,
    corpus_id,
    corpus_vec,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    m: int = 8,
    ksub: int = 16,
    index: tuple | None = None,
) -> DataFrame:
    """IVF-PQ approximate top-k — the canonical billion-scale ANN index
    (coarse inverted lists + residual product quantization):

    - corpus: ONE Arrow-batched pass emits (cell, m residual codes); rows
      shuffle once on cell id and thereafter cost m ints each;
    - queries: probe their ``nprobe`` nearest cells; per probed cell the
      approximate cosine is bias(<q̂, centroid>) + m LUT lookups — a
      JVM-side fold, no float vectors move;
    - candidates: only rows in probed cells are scored (the IVF pruning),
      each at PQ cost (the compression) — versus :func:`pq_topk`'s full
      scan and :func:`ivf_topk`'s full-width vectors.

    Exactness: score ≈ cosine with residual-quantization error; rerank the
    shortlist with :func:`cosine_topk` when exact order matters.
    """
    from supersonic_spark.operators.core import ensure_parallelism

    if index is None:
        index = ivfpq_train(corpus, corpus_id, corpus_vec, n_cells, m, ksub)
    centroids, codebooks = index
    ksub_real = len(codebooks[0])
    enc = _ivfpq_encode_udf(centroids, codebooks)
    prep = _ivfpq_query_udf(centroids, codebooks, nprobe)

    # coalesce-wrapped cell for the same no-isnotnull-inference reason as
    # ivf_topk: the join on "cell" must not push a null-check onto the
    # encode UDF below the ensure_parallelism exchange (duplicate +
    # serial Arrow pass; values unchanged — enc never returns NULL).
    c = (
        ensure_parallelism(corpus)
        .select(_c(corpus_id).alias("__cid"), _c(corpus_vec).alias("__cv"))
        .withColumn("__e", enc("__cv"))
        .select(
            "__cid",
            F.coalesce(F.col("__e")[0], F.lit(-1)).alias("cell"),
            F.slice(F.col("__e"), 2, len(codebooks)).alias("__codes"),
        )
    )
    q = (
        queries.select(_c(query_id).alias("__qid"), _c(query_vec).alias("__qv"))
        .withColumn("__p", prep("__qv"))
        .select(
            "__qid",
            F.col("__p.lut").alias("__lut"),
            F.posexplode(F.col("__p.cells")).alias("__probe", "cell"),
            F.col("__p.biases").alias("__biases"),
        )
        .select(
            "__qid", "cell", "__lut",
            F.element_at(F.col("__biases"), F.col("__probe") + 1).alias("__bias"),
        )
    )
    cand = c.join(F.broadcast(q), "cell")
    score = F.col("__bias") + F.aggregate(
        F.sequence(F.lit(0), F.lit(len(codebooks) - 1)),
        F.lit(0.0),
        lambda acc, j: acc
        + F.element_at(
            F.col("__lut"),
            (j * ksub_real + F.element_at(F.col("__codes"), j + 1) + 1).cast("int"),
        ),
    )
    scored = cand.select(
        F.col("__qid").alias("query_id"),
        F.col("__cid").alias("corpus_id"),
        score.alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("corpus_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def rerank_topk(
    shortlist: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    query_id,
    query_vec,
    corpus_id,
    corpus_vec,
    k: int = 5,
) -> DataFrame:
    """Exact-cosine rerank of an ANN shortlist: join the (query_id,
    corpus_id) candidates from any approximate index (:func:`lsh_topk`,
    :func:`ivf_topk`, :func:`pq_topk`, :func:`ivfpq_topk`) back to their
    float vectors and re-score exactly — the standard two-stage retrieval
    (ANN recalls, exact ranks).

    Scale shape: only shortlist rows (|queries|·k_ann, tiny vs corpus)
    fetch vectors; the corpus side joins on its id (one shuffle of the
    shortlist, broadcastable query side), never a full scan.  Output:
    (query_id, corpus_id, similarity, rank) like :func:`cosine_topk`.
    """
    q = queries.select(_c(query_id).alias("__qid"), _c(query_vec).alias("__qv"))
    c = corpus.select(_c(corpus_id).alias("__cid"), _c(corpus_vec).alias("__cv"))
    cand = shortlist.select(
        _c(query_id).alias("__qid"), _c(corpus_id).alias("__cid")
    ).dropDuplicates(["__qid", "__cid"])
    scored = (
        cand.join(c, "__cid")
        .join(F.broadcast(q), "__qid")
        .select(
            F.col("__qid").alias("query_id"),
            F.col("__cid").alias("corpus_id"),
            cosine("__qv", "__cv").alias("similarity"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("similarity").desc(), F.col("corpus_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def mmr_topk(
    shortlist: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    query_id,
    query_vec,
    corpus_id,
    corpus_vec,
    k: int = 5,
    lam: float = 0.7,
    field_col=None,
    max_per_field: int | None = None,
) -> DataFrame:
    """Maximal-marginal-relevance rerank of an ANN shortlist: greedily
    select ``k`` results per query maximizing
    ``lam * cos(q, d) - (1 - lam) * max over selected s of cos(d, s)``
    (empty selected set ⇒ pure relevance, so rank 1 is the exact cosine
    top-1).  Ties break on the smaller corpus id.  The standard retrieval
    diversification — near-duplicate hits in the shortlist cannot occupy
    multiple result slots.

    With ``field_col`` (a corpus column, e.g. source/domain) and
    ``max_per_field``, the greedy pick additionally enforces a HARD
    per-field quota: once a field holds ``max_per_field`` selected
    results, its remaining candidates are skipped (result may then have
    fewer than ``k`` rows if every surviving candidate is quota-blocked).
    This is the "max N results per source" constraint of federated /
    multi-domain retrieval.

    Output: (query_id, corpus_id, similarity, mmr_score, rank).

    Scale shape: the greedy loop is inherently sequential per query but
    touches only that query's shortlist (m candidates, m ≪ corpus), so it
    runs as one Arrow-batched applyInPandas group per query — O(k·m·dim)
    numpy work per group, never a corpus scan.  Vector fetch is the same
    shortlist-sized join as :func:`rerank_topk`.  Math is float64
    regardless of the stored vector width (cross-engine replayability).
    """
    import numpy as np
    import pandas as pd

    use_field = field_col is not None and max_per_field is not None
    c_cols = [_c(corpus_id).alias("__cid"), _c(corpus_vec).alias("__cv")]
    if use_field:
        c_cols.append(_c(field_col).alias("__fld"))
    q = queries.select(_c(query_id).alias("__qid"), _c(query_vec).alias("__qv"))
    c = corpus.select(*c_cols)
    cand = shortlist.select(
        _c(query_id).alias("__qid"), _c(corpus_id).alias("__cid")
    ).dropDuplicates(["__qid", "__cid"])
    joined = cand.join(c, "__cid").join(F.broadcast(q), "__qid")

    # id column types follow the inputs (like semdedup) — the shortlist may
    # carry string doc ids or int32 keys, not just longs
    qid_t = cand.schema["__qid"].dataType.simpleString()
    cid_t = cand.schema["__cid"].dataType.simpleString()
    out_schema = (
        f"query_id {qid_t}, corpus_id {cid_t}, similarity double, "
        "mmr_score double, rank int"
    )

    def pick(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = pdf["__qid"].iloc[0]
        cids = pdf["__cid"].to_numpy()
        # Normalize the field array so nulls share ONE quota bucket: pandas
        # turns nulls in a numeric field_col into NaN, and each access then
        # yields a fresh np.float64(nan) with NaN != NaN — so dict lookups
        # never match and null-field candidates would bypass max_per_field
        # entirely.  Map null/NaN to a sentinel before the loop.
        fields = (
            pdf["__fld"].astype(object)
            .where(pdf["__fld"].notna(), "__null__")
            .to_numpy()
            if use_field
            else None
        )
        V = np.stack(pdf["__cv"].to_numpy()).astype(np.float64)
        qv = np.asarray(pdf["__qv"].iloc[0], dtype=np.float64)
        # zero-norm guard (as in semdedup): an all-zero vector scores 0
        # everywhere instead of poisoning the greedy argmax with NaN
        Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
        sims = Vn @ (qv / max(np.linalg.norm(qv), 1e-12))
        order = np.argsort(cids)  # deterministic tie-break domain
        chosen: list[int] = []
        field_counts: dict = {}
        rows = []
        # max-cosine-to-selected; -inf marks "empty selected set" (pure
        # relevance) — do NOT clamp at 0: a negative max is a genuine
        # diversity BONUS under the MMR definition
        penalty = np.full(len(cids), -np.inf)
        for rank in range(1, min(k, len(cids)) + 1):
            score = lam * sims - (1.0 - lam) * np.where(
                np.isneginf(penalty), 0.0, penalty
            )
            best = None
            for i in order:
                if i in chosen:
                    continue
                if use_field and field_counts.get(fields[i], 0) >= max_per_field:
                    continue  # this field's quota is exhausted
                if best is None or score[i] > score[best]:
                    best = int(i)
            if best is None:
                break  # every remaining candidate is quota-blocked
            chosen.append(best)
            if use_field:
                field_counts[fields[best]] = field_counts.get(fields[best], 0) + 1
            cid = cids[best]
            rows.append((qid, cid.item() if isinstance(cid, np.generic) else cid,
                         float(sims[best]), float(score[best]), rank))
            penalty = np.maximum(penalty, Vn @ Vn[best])
        return pd.DataFrame(
            rows, columns=["query_id", "corpus_id", "similarity",
                           "mmr_score", "rank"]
        )

    return joined.groupBy("__qid").applyInPandas(pick, out_schema)


def ivf_index_build(
    corpus: DataFrame,
    corpus_id,
    corpus_vec,
    path: str,
    n_cells: int = 16,
    train: bool = True,
    sample_size: int = 4096,
    iters: int = 10,
) -> list[list[float]]:
    """Write a PERSISTED IVF index: the corpus assigned to its coarse
    cells, stored as parquet partitioned by ``cell`` (the inverted lists
    — each cell is a partition directory), with the centroids in a
    ``_ivf_centroids.json`` sidecar (underscore-prefixed so Spark's
    reader ignores it, same recipe as the ENUM dictionary sidecar).
    Returns the centroids.

    This is the build-once/probe-many ANN shape at 100 TB: training reads
    a bounded sample, the corpus is scanned exactly once for assignment,
    and every later :func:`ivf_index_probe` touches only the probed
    cells' partitions — the corpus is never rescanned or reassigned.
    Index rows are (id, vec, cell).
    """
    import json

    from supersonic_spark.operators.core import ensure_parallelism

    cents = (
        ivf_train_centroids(
            corpus, corpus_id, corpus_vec, n_cells, sample_size=sample_size,
            iters=iters,
        )
        if train
        else ivf_centroids(corpus, corpus_id, corpus_vec, n_cells)
    )
    assign = _assign_cells_udf(cents, 1)
    c = (
        ensure_parallelism(corpus)
        .select(_c(corpus_id).alias("id"), _c(corpus_vec).alias("vec"))
        .withColumn("cell", assign("vec")[0])
    )
    c.write.mode("overwrite").partitionBy("cell").parquet(path)
    _fs_write_text(
        corpus.sparkSession, path.rstrip("/") + "/_ivf_centroids.json",
        json.dumps(cents),
    )
    return cents


def ivf_index_append(
    corpus: DataFrame,
    corpus_id,
    corpus_vec,
    path: str,
) -> None:
    """Append new vectors to a persisted :func:`ivf_index_build` index
    WITHOUT retraining or rewriting: assignments come from the sidecar
    centroids, and rows land as NEW files inside the existing ``cell=``
    partition directories (parquet append — the old inverted lists are
    untouched).  One scan of the new batch; the existing corpus is never
    read.

    This is the continuous-ingest shape for the ANN index: ingest
    appends, probes see old+new immediately, and centroid drift is the
    documented trade (standard IVF practice — rebalance offline by
    rebuilding when cell-size skew crosses a threshold; pair with
    :func:`~supersonic_spark.pipeline.dedup.auto_skew_salt`-style cell
    profiling to detect it)."""
    _ivf_assign_batch(corpus, corpus_id, corpus_vec, path).write.mode(
        "append"
    ).partitionBy("cell").parquet(path)


def _ivf_assign_batch(corpus: DataFrame, corpus_id, corpus_vec, path: str) -> DataFrame:
    """Assign a new batch of vectors to their IVF cells using the
    persisted index's sidecar centroids (one scan of the batch; the
    existing inverted lists are never read)."""
    import json

    from supersonic_spark.operators.core import ensure_parallelism

    spark = corpus.sparkSession
    cents = json.loads(_fs_read_text(spark, path.rstrip("/") + "/_ivf_centroids.json"))
    assign = _assign_cells_udf(cents, 1)
    return (
        ensure_parallelism(corpus)
        .select(_c(corpus_id).alias("id"), _c(corpus_vec).alias("vec"))
        .withColumn("cell", assign("vec")[0])
    )


def ivf_index_append_atomic(
    corpus: DataFrame,
    corpus_id,
    corpus_vec,
    path: str,
    tag: str,
) -> None:
    """Exactly-once :func:`ivf_index_append` for REPLAYABLE callers
    (streaming ``foreachBatch``, retried ingest jobs).  Plain
    ``mode("append")`` is at-least-once under replay — a retried batch
    re-appends its rows.  This variant makes a replay of the same
    ``tag`` converge to exactly one copy, closing the crash window a
    manifest alone leaves open (crash between parquet commit and
    manifest write used to re-append that one batch on restart):

    1. **Sweep** — delete any ``{tag}-*`` files a crashed prior attempt
       already moved into the live ``cell=`` partitions.
    2. **Stage** — write the assigned batch under a hidden
       ``_staging-{tag}`` directory (underscore prefix ⇒ invisible to
       every Spark/parquet reader, so probes never see a half-written
       stage).
    3. **Publish** — rename each staged file into its live ``cell=``
       partition with a ``{tag}-`` name prefix (per-file HDFS/S3A
       rename; the prefix is what makes step 1's sweep possible).

    A crash at any point leaves either hidden staging files or
    ``{tag}-`` files that the replay sweeps — never a durable duplicate.
    Probes may transiently see a prefix of a batch mid-publish (same
    visibility contract as any non-transactional multi-file commit; an
    ACID table format is the upgrade path for readers that need
    snapshot isolation).  ``tag`` must be glob-safe (``[A-Za-z0-9_]``).
    """
    _staged_partition_append(
        _ivf_assign_batch(corpus, corpus_id, corpus_vec, path), path, tag
    )


def ivfpq_index_append_atomic(
    corpus: DataFrame,
    corpus_id,
    corpus_vec,
    path: str,
    tag: str,
) -> None:
    """Exactly-once :func:`ivfpq_index_append` (PQ twin of
    :func:`ivf_index_append_atomic` — same sweep/stage/publish-by-rename
    protocol, same replay-convergence guarantee)."""
    _staged_partition_append(
        _ivfpq_encode_batch(corpus, corpus_id, corpus_vec, path), path, tag
    )


def _staged_partition_append(assigned: DataFrame, path: str, tag: str) -> None:
    """Sweep / stage / publish-by-rename mechanics shared by the atomic
    index appends.  ``assigned`` must carry a ``cell`` column (the
    partition key of the live index)."""
    spark = assigned.sparkSession
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    fs = hpath(path).getFileSystem(spark._jsc.hadoopConfiguration())
    root = path.rstrip("/")
    staging = f"{root}/_staging-{tag}"
    fs.delete(hpath(staging), True)
    for st in fs.globStatus(hpath(f"{root}/cell=*/{tag}-*")) or []:
        fs.delete(st.getPath(), False)
    assigned.write.mode("overwrite").partitionBy("cell").parquet(staging)
    for st in fs.globStatus(hpath(f"{staging}/cell=*/part-*")) or []:
        src = st.getPath()
        cell = src.getParent().getName()  # "cell=<n>"
        fs.mkdirs(hpath(f"{root}/{cell}"))
        dst = hpath(f"{root}/{cell}/{tag}-{src.getName()}")
        _publish_rename(fs, src, dst, "index append publish failed")
    fs.delete(hpath(staging), True)


def ivf_cell_profile(spark, path: str) -> DataFrame:
    """Index-health diagnostic for a persisted IVF index: per-cell row
    counts plus corpus-wide totals (cells, rows, max/mean cell share) on
    every row — the :func:`~supersonic_spark.operators.analytics.
    key_profile` discipline applied to the inverted lists.  Run it after
    a stretch of :func:`ivf_index_append` ingest: a max share ≫ 1/cells
    means centroid drift has unbalanced the lists and probes of the hot
    cell pay linear-in-cell cost — time to :func:`ivf_index_rebalance`.

    One partial-aggregated count per cell (tiny: ≤ n_cells rows) and a
    1-row total broadcast — bounded at any index size."""
    counts = spark.read.parquet(path).groupBy("cell").agg(
        F.count(F.lit(1)).alias("n")
    )
    totals = counts.agg(
        F.sum("n").alias("__total"), F.count(F.lit(1)).alias("n_cells"),
        F.max("n").alias("__mx"),
    )
    return counts.crossJoin(F.broadcast(totals)).select(
        "cell",
        "n",
        F.round(F.col("n") / F.col("__total"), 6).alias("share"),
        "n_cells",
        F.col("__total").alias("total_rows"),
        F.round(F.col("__mx") / F.col("__total"), 6).alias("max_share"),
    )


def _committed_cell_files(spark, root: str) -> dict[str, list[str]]:
    """Per-``cell=`` data file names, EXCLUDING uncommitted streaming-append
    leftovers: a ``batch{id}-*`` file whose id is absent from the append
    manifests belongs to a crash-interrupted micro-batch that the stream's
    replay will sweep and re-publish — any maintenance op that folds it
    into new files would hide it from that sweep and duplicate the batch.
    Shared by :func:`ann_index_compact` and :func:`ivf_index_rebalance`."""
    import json
    import re

    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    fs = hpath(root).getFileSystem(spark._jsc.hadoopConfiguration())
    committed: set[str] = set()
    for manifest in ("_ivf_appended_batches.json", "_ivfpq_appended_batches.json"):
        try:
            ids = json.loads(_fs_read_text(spark, f"{root}/{manifest}"))
            committed |= {f"batch{i}-" for i in ids}
        except Exception:
            pass
    batch_pref = re.compile(r"^(batch\d+-)")
    out: dict[str, list[str]] = {}
    for cell_st in fs.globStatus(hpath(f"{root}/cell=*")) or []:
        if not cell_st.isDirectory():
            continue
        names = []
        for st in fs.listStatus(cell_st.getPath()):
            nm = st.getPath().getName()
            if nm.startswith(("_", ".")):
                continue
            m = batch_pref.match(nm)
            if m and m.group(1) not in committed:
                continue  # uncommitted append leftover: the replay owns it
            names.append(nm)
        out[cell_st.getPath().getName()] = names
    return out


def ann_index_compact(
    spark,
    path: str,
    target_files_per_cell: int = 1,
    min_files: int = 2,
) -> dict:
    """Small-files maintenance for a persisted ANN index (IVF or IVF-PQ
    — the mechanics are schema-agnostic): every streaming micro-batch
    append lands one file per touched ``cell=`` partition, so months of
    continuous ingest turn each inverted list into thousands of tiny
    files and probe scans pay per-file open cost instead of per-byte
    scan cost.  Compaction rewrites each cell's files down to
    ``target_files_per_cell`` without touching any other cell and
    without a full-index rebuild (:func:`ivf_index_rebalance` is the
    heavier op — it also retrains; this one changes LAYOUT only, never
    membership, so a probe before and after hash-matches exactly).

    Crash safety is a per-cell write-ahead intent
    (``_compact_intent.json``): stage the merged file(s) under a hidden
    dir → write the intent listing old + new file names → publish new
    by rename → delete old → drop the intent.  :func:`_index_compact_
    recover` (called automatically at entry) rolls an interrupted cell
    FORWARD if every staged file survived, else rolls it BACK — either
    way the cell converges with no loss and no durable duplicate.
    Readers mid-publish can transiently see old+new together (same
    visibility contract as the atomic appends; an ACID table format is
    the snapshot-isolation upgrade).  Because compaction DELETES the old
    files after publishing their replacement, a reader that LISTED before
    the compaction (Spark caches the file listing in the DataFrame) can
    fail at read time with missing files — the reader contract is to
    re-list on failure; :func:`ivf_index_probe` / :func:`ivfpq_index_probe`
    satisfy it by construction (each call lists fresh).  Appends never
    delete, so pre-append listings keep reading the old index; both
    contracts are pinned by test_index_probe_visibility_during_publish.

    Files from a crash-interrupted, uncommitted streaming append
    (``batch{id}-*`` whose id is NOT in the append manifest) are
    EXCLUDED from compaction: the stream's replay will sweep and
    re-publish them, and folding them into a compacted file would hide
    them from that sweep and duplicate the batch.

    Returns ``{"cells_compacted": n, "files_before": a, "files_after": b}``.
    """
    import json

    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    fs = hpath(path).getFileSystem(spark._jsc.hadoopConfiguration())
    root = path.rstrip("/")
    _index_compact_recover(spark, path)

    staging = f"{root}/_staging-compact"
    intent_path = f"{root}/_compact_intent.json"
    stats = {"cells_compacted": 0, "files_before": 0, "files_after": 0}
    for cell, names in _committed_cell_files(spark, root).items():
        stats["files_before"] += len(names)
        if len(names) < max(min_files, target_files_per_cell + 1):
            stats["files_after"] += len(names)
            continue
        cell_staging = f"{staging}/{cell}"
        fs.delete(hpath(cell_staging), True)
        spark.read.parquet(*[f"{root}/{cell}/{n}" for n in names]).coalesce(
            target_files_per_cell
        ).write.mode("overwrite").parquet(cell_staging)
        staged = [
            st.getPath().getName()
            for st in fs.globStatus(hpath(f"{cell_staging}/part-*")) or []
        ]
        new = [f"compact-{n}" for n in staged]
        _fs_write_text_atomic(
            spark,
            intent_path,
            json.dumps({"cell": cell, "old": names, "staged": staged, "new": new}),
        )
        for s_name, n_name in zip(staged, new):
            _publish_rename(
                fs,
                hpath(f"{cell_staging}/{s_name}"),
                hpath(f"{root}/{cell}/{n_name}"),
                f"compact publish failed for {cell}",
            )
        for n in names:
            fs.delete(hpath(f"{root}/{cell}/{n}"), False)
        fs.delete(hpath(intent_path), False)
        fs.delete(hpath(cell_staging), True)
        stats["cells_compacted"] += 1
        stats["files_after"] += len(new)
    fs.delete(hpath(staging), True)
    return stats


def _index_compact_recover(spark, path: str) -> None:
    """Converge an interrupted :func:`ann_index_compact` cell.  The
    intent file is the decision point: unreadable/absent ⇒ nothing was
    published, delete any staging leftovers (rollback).  Readable ⇒ roll
    FORWARD if every missing new file can still be renamed from staging,
    then delete the old files; if staging is gone and some new file is
    missing, roll BACK (delete the published new files — the old set is
    intact, because old deletion only starts after every rename)."""
    import json

    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    fs = hpath(path).getFileSystem(spark._jsc.hadoopConfiguration())
    root = path.rstrip("/")
    staging = f"{root}/_staging-compact"
    intent_path = f"{root}/_compact_intent.json"
    try:
        intent = json.loads(_fs_read_text(spark, intent_path))
    except Exception:
        fs.delete(hpath(staging), True)
        fs.delete(hpath(intent_path), False)
        return
    cell = intent["cell"]
    cell_staging = f"{staging}/{cell}"
    missing = [
        (s, n)
        for s, n in zip(intent["staged"], intent["new"])
        if not fs.exists(hpath(f"{root}/{cell}/{n}"))
    ]
    can_forward = all(
        fs.exists(hpath(f"{cell_staging}/{s}")) for s, _ in missing
    )
    if can_forward:
        for s, n in missing:
            _publish_rename(
                fs,
                hpath(f"{cell_staging}/{s}"),
                hpath(f"{root}/{cell}/{n}"),
                f"compact recovery rename failed for {cell}",
            )
        for n in intent["old"]:
            fs.delete(hpath(f"{root}/{cell}/{n}"), False)
    else:
        for n in intent["new"]:
            fs.delete(hpath(f"{root}/{cell}/{n}"), False)
    fs.delete(hpath(intent_path), False)
    fs.delete(hpath(staging), True)


def ivf_index_rebalance(
    spark,
    path: str,
    out_path: str,
    n_cells: int | None = None,
    sample_size: int = 4096,
    iters: int = 10,
) -> list[list[float]]:
    """Rebuild a drifted IVF index FROM ITS OWN STORED VECTORS — the
    offline rebalance that pairs with continuous :func:`ivf_index_append`
    ingest.  The IVF form keeps the float vectors in the inverted lists,
    so retraining + reassignment is one scan of the index parquet; the
    ORIGINAL corpus is never touched (it may no longer exist as a single
    table after months of streaming ingest).  Writes a fresh index at
    ``out_path`` (build-then-swap: probes keep hitting ``path`` until the
    caller atomically repoints them) and returns the new centroids.

    Cost shape: training reads a bounded deterministic sample; the
    reassignment pass is the same one-scan Arrow-batched assign as
    :func:`ivf_index_build`.  PQ indexes cannot rebalance this way (codes
    are lossy) — rebuild those from the corpus.

    Only COMMITTED files are read (same filter as :func:`ann_index_compact`):
    an uncommitted ``batch{id}-*`` leftover from a crash-interrupted
    streaming append belongs to the stream's replay — folding it into the
    new index would duplicate the batch when the repointed stream replays
    it.  The ``_ivf_appended_batches.json`` manifest is copied to
    ``out_path`` so a stream repointed at the new index keeps its
    replay-skip set."""
    import json

    root = path.rstrip("/")
    old = json.loads(_fs_read_text(spark, root + "/_ivf_centroids.json"))
    paths = [
        f"{root}/{cell}/{n}"
        for cell, names in _committed_cell_files(spark, root).items()
        for n in names
    ]
    if paths:
        # basePath keeps the cell= partition column derivable from the
        # explicit file list (not that rebalance needs it — reassignment
        # recomputes cells — but the schema stays identical to a dir read)
        idx = spark.read.option("basePath", root).parquet(*paths)
    else:
        idx = spark.read.parquet(path).limit(0)
    cents = ivf_index_build(
        idx, "id", "vec", out_path,
        n_cells=n_cells if n_cells is not None else len(old),
        train=True, sample_size=sample_size, iters=iters,
    )
    try:
        manifest = _fs_read_text(spark, root + "/_ivf_appended_batches.json")
    except Exception:
        manifest = None
    if manifest is not None:
        _fs_write_text_atomic(
            spark, out_path.rstrip("/") + "/_ivf_appended_batches.json", manifest
        )
    return cents


def ivf_index_probe(
    spark,
    path: str,
    queries: DataFrame,
    query_id,
    query_vec,
    k: int = 5,
    nprobe: int = 4,
) -> DataFrame:
    """Probe a persisted :func:`ivf_index_build` index: assign each query
    to its ``nprobe`` nearest cells (centroids from the sidecar — no
    corpus access), prune the index scan to exactly those cells'
    partition directories, and exact-cosine rank the survivors.

    Output: (query_id, corpus_id, cos) top-k per query, identical to
    :func:`ivf_topk` with the same centroids — and with
    ``nprobe = n_cells`` the result is EXACT top-k regardless of how the
    centroids were chosen (every cell is scanned; the index only changes
    data layout).

    Pruning is JOIN-DRIVEN: the broadcast join on the ``cell`` partition
    column triggers Spark's dynamic partition pruning, which inserts a
    ``cell IN dynamicpruning#N`` subquery on the index scan (visible in
    the plan as a PartitionFilters entry) — only the probed cells'
    ``cell=`` directories are listed and read, and the probed cell set
    NEVER round-trips the driver, so a 10⁶-row query stream probes with
    the same plan as a 10-row batch.  At 100 TB with 4096 cells and
    nprobe=8, a small batch reads ~0.2% of the index bytes.
    """
    import json

    cents = json.loads(_fs_read_text(spark, path.rstrip("/") + "/_ivf_centroids.json"))
    idx = spark.read.parquet(path)
    q_assign = _assign_cells_udf(cents, nprobe)
    qd = queries.select(
        _c(query_id).alias("__qid"), _c(query_vec).alias("__qv")
    ).withColumn("cell", F.explode(q_assign("__qv")))
    cand = idx.join(F.broadcast(qd), "cell")
    scored = cand.select(
        F.col("__qid").alias("query_id"),
        F.col("id").alias("corpus_id"),
        cosine(F.col("__qv"), F.col("vec")).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("corpus_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .drop("rank")
    )


def ivfpq_index_build(
    corpus: DataFrame,
    corpus_id,
    corpus_vec,
    path: str,
    n_cells: int = 16,
    m: int = 8,
    ksub: int = 16,
    sample_size: int = 4096,
    iters: int = 12,
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """Write a PERSISTED IVF-PQ index — the shippable billion-scale
    artifact: rows are (id, m uint8-range residual codes) in parquet
    partitioned by coarse cell, with centroids + codebooks in an
    ``_ivfpq_meta.json`` sidecar.  Returns (centroids, codebooks).

    At 100 TB of embeddings this index is ~m bytes + id per vector
    (32-64× smaller than the floats); probes read only the probed cells'
    partitions and never touch the original vectors.  Training reads one
    bounded deterministic sample; the corpus is scanned exactly once by
    the Arrow-batched encode pass.
    """
    import json

    from supersonic_spark.operators.core import ensure_parallelism

    index = ivfpq_train(
        corpus, corpus_id, corpus_vec, n_cells, m, ksub, sample_size, iters
    )
    centroids, codebooks = index
    enc = _ivfpq_encode_udf(centroids, codebooks)
    c = (
        ensure_parallelism(corpus)
        .select(_c(corpus_id).alias("id"), _c(corpus_vec).alias("__v"))
        .withColumn("__e", enc("__v"))
        .select(
            "id",
            F.col("__e")[0].alias("cell"),
            F.slice(F.col("__e"), 2, len(codebooks)).alias("codes"),
        )
    )
    c.write.mode("overwrite").partitionBy("cell").parquet(path)
    _fs_write_text(
        corpus.sparkSession, path.rstrip("/") + "/_ivfpq_meta.json",
        json.dumps({"centroids": centroids, "codebooks": codebooks}),
    )
    return index


def ivfpq_index_append(
    corpus: DataFrame,
    corpus_id,
    corpus_vec,
    path: str,
) -> None:
    """Append new vectors to a persisted :func:`ivfpq_index_build` index
    WITHOUT retraining (twin of :func:`ivf_index_append` for the PQ
    form): cell assignment and residual codes come from the sidecar
    centroids/codebooks, and the (id, codes) rows land as new files in
    the existing ``cell=`` partitions.  One Arrow-batched encode pass
    over the new batch; existing code rows are never read or rewritten.
    Codebook drift on a shifting distribution is the documented trade —
    rebuild offline when recall degrades."""
    _ivfpq_encode_batch(corpus, corpus_id, corpus_vec, path).write.mode(
        "append"
    ).partitionBy("cell").parquet(path)


def _ivfpq_encode_batch(corpus: DataFrame, corpus_id, corpus_vec, path: str) -> DataFrame:
    """Encode a new batch of vectors to (id, cell, codes) rows using the
    persisted index's sidecar centroids/codebooks (one Arrow-batched
    pass over the batch; existing code rows are never read)."""
    import json

    from supersonic_spark.operators.core import ensure_parallelism

    spark = corpus.sparkSession
    meta = json.loads(_fs_read_text(spark, path.rstrip("/") + "/_ivfpq_meta.json"))
    centroids, codebooks = meta["centroids"], meta["codebooks"]
    enc = _ivfpq_encode_udf(centroids, codebooks)
    return (
        ensure_parallelism(corpus)
        .select(_c(corpus_id).alias("id"), _c(corpus_vec).alias("__v"))
        .withColumn("__e", enc("__v"))
        .select(
            "id",
            F.col("__e")[0].alias("cell"),
            F.slice(F.col("__e"), 2, len(codebooks)).alias("codes"),
        )
    )


def ivfpq_index_probe(
    spark,
    path: str,
    queries: DataFrame,
    query_id,
    query_vec,
    k: int = 5,
    nprobe: int = 4,
) -> DataFrame:
    """Probe a persisted :func:`ivfpq_index_build` index: centroids +
    codebooks come from the sidecar (no corpus access), the scan prunes
    to the probed cells' partitions, and scoring is the same
    bias + m-LUT-lookup JVM fold as :func:`ivfpq_topk` — float vectors
    never move.  Output: (query_id, corpus_id, score, rank) top-k.

    Identical scores to :func:`ivfpq_topk` run with the same trained
    index — the parquet roundtrip changes layout, not math.

    Pruning is JOIN-DRIVEN (dynamic partition pruning from the broadcast
    join on the ``cell`` partition column — see :func:`ivf_index_probe`):
    the probed cell set never round-trips the driver, so arbitrarily
    large query streams probe without a per-batch collect.
    """
    import json

    meta = json.loads(_fs_read_text(spark, path.rstrip("/") + "/_ivfpq_meta.json"))
    centroids, codebooks = meta["centroids"], meta["codebooks"]
    ksub_real = len(codebooks[0])
    idx = spark.read.parquet(path)
    prep = _ivfpq_query_udf(centroids, codebooks, nprobe)
    q = (
        queries.select(_c(query_id).alias("__qid"), _c(query_vec).alias("__qv"))
        .withColumn("__p", prep("__qv"))
        .select(
            "__qid",
            F.col("__p.lut").alias("__lut"),
            F.posexplode(F.col("__p.cells")).alias("__probe", "cell"),
            F.col("__p.biases").alias("__biases"),
        )
        .select(
            "__qid", "cell", "__lut",
            F.element_at(F.col("__biases"), F.col("__probe") + 1).alias("__bias"),
        )
    )
    cand = idx.join(F.broadcast(q), "cell")
    score = F.col("__bias") + F.aggregate(
        F.sequence(F.lit(0), F.lit(len(codebooks) - 1)),
        F.lit(0.0),
        lambda acc, j: acc
        + F.element_at(
            F.col("__lut"),
            (j * ksub_real + F.element_at(F.col("codes"), j + 1) + 1).cast("int"),
        ),
    )
    scored = cand.select(
        F.col("__qid").alias("query_id"),
        F.col("id").alias("corpus_id"),
        score.alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("corpus_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
