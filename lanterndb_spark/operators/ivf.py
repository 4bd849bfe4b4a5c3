"""IVF-flat ANN index: k-means centroids + nprobe candidate pruning.

The reference's acceleration structure is an HNSW graph (usearch) built
per-table and stored in index pages. A pointer-chasing graph is the wrong
shape for a shared-nothing engine; the Spark-native equivalent with the
same contract (approximate top-k with a recall/latency knob) is IVF:

- build: one distributed MLlib KMeans over the vector column → ``nlist``
  centroids; every row gets its nearest-centroid ``cluster_id``. Persisted
  with ``partitionBy(cluster_id)`` the layout gives partition pruning —
  the scan for a query only reads ``nprobe``/``nlist`` of the data, the
  IVF analogue of the HNSW index "visiting few nodes"
  (cost model hnsw.c:89-145).
- search: nearest ``nprobe`` centroids to the query (driver-side argmin
  over nlist rows — tiny), then exact knn over only those clusters.
  ``nprobe`` plays the role of the ``ef`` GUC (options.c:337-348):
  recall/latency knob, tuned by operators.autotune.

With nprobe == nlist this degrades gracefully to exact search (recall 1),
mirroring how the reference tests ANN against the exact oracle
(test/sql/hnsw_correct.sql:17-48).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lanterndb_spark.operators.knn import knn

# ivf_search_df auto-impl crossover, in QUERIES PER PROBED CLUSTER
# (nq x nprobe / nlist). Both impls' dominant costs scale linearly
# with base rows — expr pays interpreted folds on rows_probed x
# queries_per_cluster pairs, arrow pays Arrow serialization of the
# probed rows — so base size cancels and the crossover is a pure
# density. Measured r9 at the 2M tier (DESIGN.md): expr/arrow 40.4 s
# vs 8.1 s at density 16, 328.8 s vs 24.1 s at density 128 — arrow's
# fixed cost (worker spin-up + probed-row serialization) is ~3-8 s
# flat, so breakeven density is ~2-3; gate at 8 to keep genuinely
# small batches on the lower-latency JVM expression join.
_ARROW_QPC_CROSSOVER = 8
# ADC coarse-cut route: at and above this dim the ivfpq kernel decodes
# the code block once and rides a dgemm cut (r13 — the per-subvector
# gather measured ~8x slower than matmul at 768d, ab_dim768_r13.json);
# below it the f32 gather-accumulate keeps its r11-measured 64d shape.
# Both emit bit-identical rows/distances (exact f64 LUT rescore).
_ADC_DGEMM_MIN_DIM = 128


class IvfIndex:
    """Handle holding the assigned DataFrame + centroid array."""

    def __init__(self, assigned: DataFrame, centroids: np.ndarray, vec_col: str):
        self.assigned = assigned
        self.centroids = centroids
        self.vec_col = vec_col

    @property
    def nlist(self) -> int:
        return len(self.centroids)


class IvfPqIndex(IvfIndex):
    """IvfIndex whose assigned table carries PQ codes, plus the FROZEN
    codebook — the ``pq=true`` reloption as a first-class handle (the
    reference stores the codebook IN the index, build.c:497-501, and
    scores quantized at scan time, scan.c:75-81). Because ``assigned``
    retains the original vectors alongside the codes, the handle also
    works anywhere a plain IvfIndex does (hybrid candidate stages,
    ivf_search) — the codes only accelerate the pq-aware routes."""

    def __init__(
        self,
        assigned: DataFrame,
        centroids: np.ndarray,
        vec_col: str,
        codebook: DataFrame,
        pq_col: str | None = None,
    ):
        super().__init__(assigned, centroids, vec_col)
        self.codebook = codebook
        self.pq_col = pq_col or f"{vec_col}_pq"


def build_ivfpq(
    df: DataFrame,
    vec_col: str,
    nlist: int = 16,
    splits: int = 8,
    clusters: int = 256,
    seed: int = 42,
    **ivf_kw,
) -> IvfPqIndex:
    """One-call pq=true build: IVF layout + trained codebook + coded
    rows (build.c:453-501's CREATE INDEX ... WITH (pq=true) path).
    Search with :func:`ivfpq_search` / :func:`ivfpq_search_df` passing
    ``index.codebook``."""
    from lanterndb_spark.operators.pq import quantize, train_codebook

    raw = build_ivf(df, vec_col, nlist=nlist, seed=seed, **ivf_kw)
    if raw.nlist == 0:
        # empty build (build.c:653-727 analogue, same contract as
        # build_ivf): typed-empty index, no codebook to train — the
        # searches' nlist==0 guards return typed-empty results
        spark = df.sparkSession
        cb = spark.createDataFrame(
            [], "subvector_id int, centroid_id int, c array<float>"
        )
        assigned = raw.assigned.withColumn(
            f"{vec_col}_pq", F.lit(None).cast("array<smallint>")
        )
        return IvfPqIndex(assigned, raw.centroids, vec_col, cb)
    cb = train_codebook(df, vec_col, splits=splits, clusters=clusters, seed=seed)
    return IvfPqIndex(quantize(raw.assigned, vec_col, cb), raw.centroids, vec_col, cb)


def build_ivf(
    df: DataFrame,
    vec_col: str,
    nlist: int = 16,
    seed: int = 42,
    max_iter: int = 25,
    cluster_col: str = "cluster_id",
    sample_limit: int = 50_000,
) -> IvfIndex:
    """Sample-trained k-means centroids + distributed full-table assignment.

    IVF centroid quality needs only a bounded random sample (the standard
    coarse-quantizer recipe; the reference bounds codebook training the
    same way via ``dataset_size_limit``, lantern.sql:196). Training a
    full-data distributed k-means would scan 100 TB per Lloyd iteration;
    sampling caps training at one scan + a driver-side fit, and the only
    full-data pass is the embarrassingly-parallel assignment — an
    Arrow-batched numpy argmin against the broadcast centroid matrix.
    """
    from lanterndb_spark.operators.pq import _kmeans_numpy

    from lanterndb_spark.plans.shape import bounded_rand_sample

    # driver-safe sample: the old orderBy(rand).limit(n).collect() plan
    # ships every task's local top-n to the driver — past ~40 partitions
    # at n=50k that exceeds spark.driver.maxResultSize (found by the r12
    # 50M smoke)
    rows = bounded_rand_sample(
        df.select(F.col(vec_col).alias("v")), sample_limit, seed
    )
    if not rows:
        # empty build (ldb_ambuildunlogged analogue, build.c:653-727):
        # a valid zero-vector index; searches return empty
        empty = df.withColumn(cluster_col, F.lit(0).cast("int"))
        return IvfIndex(empty, np.zeros((0, 0)), vec_col)
    x = np.asarray([r["v"] for r in rows], dtype=np.float64)
    centroids = _kmeans_numpy(x, nlist, seed=seed, max_iters=max_iter).astype(np.float64)
    assigned = df.withColumn(
        cluster_col, _assign_expr(df.sparkSession, centroids, vec_col)
    )
    return IvfIndex(assigned, centroids, vec_col)


def _assign_expr(spark, centroids: np.ndarray, vec_col: str):
    """Arrow-batched nearest-centroid id against broadcast centroids."""
    bc = spark.sparkContext.broadcast(centroids)

    @F.pandas_udf("int")
    def assign(s: pd.Series) -> pd.Series:
        c = bc.value
        xs = np.asarray(s.tolist(), dtype=np.float64)
        d = (xs**2).sum(1)[:, None] - 2.0 * xs @ c.T + (c**2).sum(1)[None, :]
        return pd.Series(d.argmin(axis=1).astype(np.int32))

    return assign(F.col(vec_col))


def ivfpq_search(
    index: IvfIndex,
    codebook: DataFrame,
    query: list[float],
    k: int = 10,
    nprobe: int = 4,
    refine: int = 4,
    pq_col: str | None = None,
    id_col: str | None = None,
) -> DataFrame:
    """IVF + PQ composite — the reference's pq=true index mode
    (build.c:497-501 loads the codebook into the index; scan.c:75-81
    scores quantized) and the standard billion-scale layout:

    1. prune to ``nprobe`` clusters (partition pruning on the saved
       layout — reads nprobe/nlist of the data);
    2. ADC-score the PQ codes (1 byte/subvector instead of 4·dim — the
       scan that touches every surviving row reads ~32× less);
    3. exact re-rank of the top ``k·refine`` candidates on the full
       vectors (a k·refine-row job, negligible).

    ``index.assigned`` must carry the PQ code column (run pq.quantize
    over the assigned table once at build time).
    """
    from lanterndb_spark.operators.pq import adc_knn

    pq_col = pq_col or f"{index.vec_col}_pq"
    if index.nlist == 0:  # empty index → typed empty result (ivf_search's guard)
        return knn(
            index.assigned.filter(F.lit(False)), index.vec_col, query,
            k=k, id_col=id_col,
        )
    q = np.asarray(query, dtype=np.float64)
    d = ((index.centroids - q[None, :]) ** 2).sum(axis=1)
    probes = [int(i) for i in np.argsort(d)[:nprobe]]
    cand = index.assigned.filter(F.col("cluster_id").isin(probes))
    coarse = adc_knn(cand, pq_col, query, codebook, k=k * refine, id_col=id_col).drop("dist")
    return knn(coarse, index.vec_col, query, k=k, id_col=id_col)


def ivfsq_search(
    index: IvfIndex,
    query: list[float],
    k: int = 10,
    nprobe: int = 4,
    refine: int = 4,
    code_col: str | None = None,
    id_col: str | None = None,
) -> DataFrame:
    """IVF + SQ8 composite — the reference's ``quant_bits=8`` reloption
    over an index (options.c:137-158 / hnsw_sq.sql) re-expressed on the
    IVF backend, sitting between plain IVF and IVF+PQ on the
    accuracy/size curve:

    1. prune to ``nprobe`` clusters (same partition pruning as
       :func:`ivf_search` — reads nprobe/nlist of the data);
    2. coarse-score the int8 codes dequantized on the fly
       (``code·scale`` — the scan reads 1 byte/dim + one scale instead
       of 4 bytes/dim, symmetric-scale i8 like usearch's);
    3. exact re-rank of the top ``k·refine`` on the full vectors.

    ``index.assigned`` must carry the SQ8 columns (run
    ``sq.sq8_quantize`` over the assigned table once at build time, the
    same contract as :func:`ivfpq_search`'s codes).
    """
    from lanterndb_spark.operators.knn import knn
    from lanterndb_spark.operators.sq import sq8_dequantize

    code_col = code_col or f"{index.vec_col}_sq8"
    if index.nlist == 0:
        return knn(
            index.assigned.filter(F.lit(False)), index.vec_col, query,
            k=k, id_col=id_col,
        )
    q = np.asarray(query, dtype=np.float64)
    d = ((index.centroids - q[None, :]) ** 2).sum(axis=1)
    probes = [int(i) for i in np.argsort(d)[:nprobe]]
    cand = index.assigned.filter(F.col("cluster_id").isin(probes))
    deq = sq8_dequantize(cand, code_col, "__sq_deq")
    coarse = knn(deq, "__sq_deq", query, k=k * refine, id_col=id_col).drop(
        "dist", "__sq_deq"
    )
    return knn(coarse, index.vec_col, query, k=k, id_col=id_col)


def ivfsq_search_batch(
    index: IvfIndex,
    queries: list[list[float]],
    k: int = 10,
    nprobe: int = 4,
    refine: int = 4,
    code_col: str | None = None,
    id_col: str | None = None,
) -> DataFrame:
    """Batch twin of :func:`ivfsq_search`, composed from the IVF batch
    machinery: the coarse pass runs :func:`ivf_search_batch` over the
    ON-THE-FLY dequantized codes (top ``k·refine`` per query), then one
    distributed window re-ranks each query's candidates on the full
    vectors. Same shape as knn_join: nothing scales with n after the
    pruned compressed scan. Returns (q_id, …data cols…, dist).
    """
    from pyspark.sql.window import Window

    from lanterndb_spark.functions.distance import distance
    from lanterndb_spark.operators.sq import sq8_dequantize

    code_col = code_col or f"{index.vec_col}_sq8"
    deq = sq8_dequantize(index.assigned, code_col, "__sq_deq")
    coarse_index = IvfIndex(deq, index.centroids, "__sq_deq")
    coarse = ivf_search_batch(
        coarse_index, queries, k=k * refine, nprobe=nprobe, id_col=id_col
    ).drop("dist", "__sq_deq")
    spark = index.assigned.sparkSession
    qdf = spark.createDataFrame(
        [(i, [float(x) for x in q]) for i, q in enumerate(queries)],
        "q_id int, __qv array<double>",
    )
    rescored = coarse.join(F.broadcast(qdf), "q_id").withColumn(
        "dist", distance("l2sq", F.col(index.vec_col), F.col("__qv"))
    )
    order = [F.col("dist").asc()]
    if id_col:
        order.append(F.col(id_col).asc())
    w = Window.partitionBy("q_id").orderBy(*order)
    return (
        rescored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn", "__qv")
    )


def _partial_topk(k: int, id_col: str):
    """Map-side per-query cut: only k rows per query can survive the
    global window, so each partition forwards at most nq·k rows.
    Incremental fold — each Arrow batch is cut to k-per-query BEFORE
    joining the running accumulator, and the accumulator re-cuts
    whenever it doubles, so held memory is O(nq·k), never the raw
    pair count of the partition (on the expr path that pair set is
    rows_probed × queries_per_cluster and must not be materialized
    whole). pandas (not lexsort) so q_id may be any orderable dtype.
    Shared by ivf_search_df and ivfpq_search_df."""
    def partial_topk(batches):
        def cut(pdf):
            pdf = pdf.sort_values(["__qid", "dist", id_col])
            return pdf.groupby("__qid", sort=False).head(k)

        acc = None
        watermark = 0  # size of acc right after its last cut
        for pdf in batches:
            if not len(pdf):
                continue
            part = cut(pdf)
            if acc is None:
                acc, watermark = part, len(part)
                continue
            acc = pd.concat([acc, part], ignore_index=True)
            if len(acc) > 2 * watermark:
                acc = cut(acc)
                watermark = max(len(acc), 1)
        if acc is not None:
            yield cut(acc)

    return partial_topk


# elements of the (B, nlist, dim) difference tensor per centroid-scoring
# block (2^25 f64 = 256 MB)
_ROUTE_BLOCK_ELEMS = 1 << 25


def _route_block(cents: np.ndarray) -> int:
    dim = cents.shape[1] if cents.ndim == 2 else 1
    return max(1, _ROUTE_BLOCK_ELEMS // max(len(cents) * dim, 1))


def _route_probes(cents: np.ndarray, Q: np.ndarray, np_eff: int) -> np.ndarray:
    """(nq, np_eff) nearest-centroid ids per query — the SAME
    ``((cents - q)**2).sum`` formulation and np.argsort as ivf_search /
    ivf_search_batch, so probe choice is bit-identical to the
    driver-list forms even at near-tied centroid distances (a matmul
    expansion can order such ties differently). Each query's row is
    computed on its own, so blocking never changes a probe list; the
    blocks keep the difference tensor under ``_ROUTE_BLOCK_ELEMS``."""
    blk = _route_block(cents)
    out = np.empty((len(Q), np_eff), dtype=np.int64)
    for s in range(0, len(Q), blk):
        qb = Q[s : s + blk]
        d = ((cents[None, :, :] - qb[:, None, :]) ** 2).sum(-1)
        out[s : s + blk] = np.argsort(d, axis=1)[:, :np_eff]
    return out


def _centroid_route(bc, np_eff: int):
    """mapInPandas generator routing each query to its ``np_eff``
    nearest centroids with :func:`_route_probes`, one block at a time.
    Shared by ivf_search_df and ivfpq_search_df's executor route; emits
    (__qid, __q, cluster_id) x np_eff rows per query."""
    def route(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            cents = bc.value
            qids = pdf["__qid"]
            qarr = np.asarray(pdf["__q"].tolist(), dtype=np.float64)
            blk = _route_block(cents)
            for s in range(0, len(qarr), blk):
                qb = qarr[s : s + blk]
                probes = _route_probes(cents, qb, np_eff)
                B = len(qb)
                yield pd.DataFrame({
                    "__qid": qids.iloc[s : s + B].repeat(np_eff).to_numpy(),
                    "__q": [qb[i].tolist() for i in range(B) for _ in range(np_eff)],
                    "cluster_id": probes.reshape(-1).astype(np.int32),
                })

    return route


def _recut_ties(qi, ri, d, kk: int):
    """Tie-inclusive per-query cut of a candidate superset: keep every
    pair whose distance is at most its query's kk-th smallest."""
    order = np.lexsort((ri, d, qi))
    qi, ri, d = qi[order], ri[order], d[order]
    starts = np.flatnonzero(np.r_[True, qi[1:] != qi[:-1]])
    runs = np.diff(np.r_[starts, len(qi)])
    kth = starts + np.minimum(kk, runs) - 1
    keep = d <= np.repeat(d[kth], runs)
    return qi[keep], ri[keep], d[keep]


def _pair_dist(X, Q, xn, qn, qi, ri, metric: str) -> np.ndarray:
    """Distance of each (Q[qi], X[ri]) pair, computed from that pair's
    two vectors alone — so a pair's value never depends on which other
    rows or queries share its block, salt, batch or task. Gathers in
    chunks of <= 2^22 elements."""
    out = np.empty(len(qi), dtype=np.float64)
    step = max(1, (1 << 22) // max(X.shape[1], 1))
    for s in range(0, len(qi), step):
        q, r = qi[s : s + step], ri[s : s + step]
        if metric == "cos":
            dot = (X[r] * Q[q]).sum(1)
            out[s : s + step] = 1.0 - dot / qn[q] / xn[r]
        else:
            out[s : s + step] = ((X[r] - Q[q]) ** 2).sum(1)
    return out


def _flat_block_topk(X: np.ndarray, Q: np.ndarray, kk: int, metric: str):
    """Score one base block ``X`` against the queries ``Q`` that probe
    it and keep each query's top ``kk`` — the scoring math of both
    ivf_search_df arrow kernels (the executor route's cogroup and the
    driver route's fused scan). Returns ``(qi, ri, d)``: indices into
    ``Q`` and ``X`` and the distances, boundary ties kept for the
    caller's (dist, id) cut.

    A blocked matmul picks a superset of each query's top kk (its
    cancellation error is bounded by ~1e-16 x the NORMS, so a 2e-9
    relative margin on the threshold keeps every true member), then
    :func:`_pair_dist` rescores the superset pair by pair and the cut is
    re-made on those values. The emitted distances are therefore a
    function of the pair alone: equal base vectors tie exactly, and the
    rows do not depend on how the scan split the base into blocks.

    QUERY-MAJOR (r11): the distance matrix is (queries, rows) so the
    per-query cut is ONE contiguous partition(axis=1) + ONE nonzero over
    the whole block. At k=10 eval shapes it measured equal to the older
    row-major kernel (spark-warehouse/ab_qmajor_r12*.json — small-k cuts
    are not the bottleneck); its measured win is the LARGE-k coarse cut
    of the hybrid candidate stage (k=ef), 24.2 s -> 11.9 s at 2k queries
    over 2M (spark-warehouse/hybrid_profile_r11.json)."""
    xsel = qsel = None
    if metric == "cos":
        # zero-norm rows/queries have undefined angle — drop, mirroring
        # the expr path's NULL-dist filter (distance.py cos_dist
        # convention)
        xn = np.sqrt((X**2).sum(1))
        xsel = np.flatnonzero(xn > 0.0)
        X, xn = X[xsel], xn[xsel]
        qn = np.sqrt((Q**2).sum(1))
        qsel = np.flatnonzero(qn > 0.0)
        Q, qn = Q[qsel], qn[qsel]
    else:
        xn, qn = (X**2).sum(1), (Q**2).sum(1)
    nb = len(X)
    out_q, out_r, out_d = [], [], []
    if nb and len(Q):
        # block queries so the (blk, nb) distance matrix stays <=~128 MB
        # however many queries probe this block
        blk = max(1, (1 << 24) // nb)
        # one C-contiguous transpose per block: dgemm reads it across
        # every query block without re-packing
        Xt = np.ascontiguousarray(X.T) if kk < nb else None
        for s in range(0, len(Q), blk):
            Qb = Q[s : s + blk]
            B = len(Qb)
            if kk < nb:
                # in-place rank-1 updates: the naive expression
                # materializes four (blk, nb) temporaries, and under
                # 32-way worker parallelism the kernel is memory-
                # bandwidth-bound — each avoided pass is wall time
                d = Qb @ Xt
                if metric == "cos":
                    d /= qn[s : s + blk][:, None]
                    d /= xn[None, :]
                    np.subtract(1.0, d, out=d)
                    margin = np.full(B, 2e-9)
                else:
                    d *= -2.0
                    d += qn[s : s + blk][:, None]
                    d += xn[None, :]
                    margin = 2e-9 * (qn[s : s + blk] + float(xn.max()) + 1.0)
                thr = np.partition(d, kk - 1, axis=1)[:, kk - 1]
                qi, ri = np.nonzero(d <= (thr + margin)[:, None])
            else:
                # covering cut: every pair survives, no matmul needed
                qi = np.repeat(np.arange(B), nb)
                ri = np.tile(np.arange(nb), B)
            qi = qi + s
            dd = _pair_dist(X, Q, xn, qn, qi, ri, metric)
            if kk < nb:
                qi, ri, dd = _recut_ties(qi, ri, dd, kk)
            out_q.append(qi)
            out_r.append(ri)
            out_d.append(dd)
    if not out_q:
        e = np.empty(0, dtype=np.int64)
        return e, e, np.empty(0, dtype=np.float64)
    qi, ri, d = np.concatenate(out_q), np.concatenate(out_r), np.concatenate(out_d)
    if qsel is not None:
        qi, ri = qsel[qi], xsel[ri]
    return qi, ri, d


def _adc_block_topk(codes, Q, books, bounds, kk: int, dgemm_min_dim: int):
    """ADC-score one PQ code block against the queries ``Q`` that probe
    it and keep each query's top ``kk`` (boundary ties kept) — the
    scoring math of both ivfpq_search_df kernels (the executor route's
    cogroup and the driver route's fused scan). Returns ``(qi, ri, d)``
    like :func:`_flat_block_topk`; the distances are the EXACT adc_knn
    values (pq.py: ``Σ LUT[s, code[s]]`` in f64) whichever cut route
    runs.

    QUERY-MAJOR (r11, same rewrite as the flat kernel): the
    per-subvector LUT gather runs over ALL queries of a block at once
    ((B, nb) per split, summed in place) and the top-kk cut is one
    contiguous partition(axis=1) + one nonzero."""
    splits = len(books)
    nb = codes.shape[0]
    dim = bounds[-1][1]
    # decode-once + dgemm coarse cut (r13): ADC l2sq decomposes EXACTLY
    # as ||q - decode(codes)||^2, so at wide dims the block decodes its
    # codes to floats ONCE (nb x dim, amortized over every query probing
    # the cluster) and the coarse cut rides the same blocked matmul as
    # the flat kernel — the per-subvector gather-accumulate materializes
    # `splits` (B, nb) temporaries and measured ~8x slower than the
    # dgemm scan at 768d (ab_dim768_r13.json) while the r11 A/B showed
    # it NON-dominant at 64d, hence the >=128d gate (the 64d path keeps
    # its measured shape). The margin + exact f64 LUT rescore below
    # keeps output rows and distances BIT-IDENTICAL either way, so the
    # gate is a pure speed knob.
    use_dgemm = kk < nb and dim >= dgemm_min_dim
    if use_dgemm:
        Xh = np.empty((nb, dim), dtype=np.float64)
        for sv, ((lo, hi), book) in enumerate(zip(bounds, books)):
            Xh[:, lo:hi] = book[codes[:, sv]]
        XhT = np.ascontiguousarray(Xh.T)
        xhn = (Xh**2).sum(1)
    out_q, out_r, out_d = [], [], []
    # block queries so the (B, nb) score matrix stays <=~128 MB
    blk = max(1, (1 << 24) // max(nb, 1))
    for s in range(0, len(Q), blk):
        Qb = Q[s : s + blk]
        if use_dgemm:
            # dgemm coarse cut over the decoded block: cancellation
            # error in qn - 2qx + xn is bounded by ~1e-16 x the NORMS,
            # not the (possibly tiny) distance, so the superset margin
            # scales with (|q|^2 + max|x|^2) — at 2e-9 relative it is
            # ~1e7x the true fp error and still keeps the superset
            # within ties of the exact cut. NO LUT build on this route:
            # the (B, nclusters, dim) LUT pass costs ~nclusters/nb of the
            # scan itself (26% at 977-row blocks) and the rescore below
            # computes its few superset pairs directly from the
            # codebooks.
            qn2 = (Qb**2).sum(1)
            d_apx = Qb @ XhT
            d_apx *= -2.0
            d_apx += qn2[:, None]
            d_apx += xhn[None, :]
            thr = np.partition(d_apx, kk - 1, axis=1)[:, kk - 1]
            margin = 2e-9 * (qn2 + float(xhn.max()) + 1.0)
            qi, ri = np.nonzero(d_apx <= (thr + margin)[:, None])
            # exact f64 rescore of the margin superset, computed per
            # pair from the codebooks: (book[code] - q_s)^2 summed over
            # the subvector then accumulated in ascending-subvector
            # order — the IDENTICAL ieee ops and order as the LUT-gather
            # rescore (the LUT entry is the same 8-element sum), so rows
            # and distances stay bit-identical across the route gate
            d64 = None
            for sv, ((lo, hi), book) in enumerate(zip(bounds, books)):
                diff = book[codes[ri, sv]] - Qb[qi, lo:hi]
                term = (diff**2).sum(1)
                d64 = term if d64 is None else d64 + term
        elif kk < nb:
            # per-subvector f64 LUTs (tiny: splits x (B, nclusters)) —
            # the gather cut scans them and the rescore re-reads them
            luts = [
                ((book[None, :, :] - Qb[:, lo:hi][:, None, :]) ** 2).sum(-1)
                for (lo, hi), book in zip(bounds, books)
            ]
            # f32 coarse cut: the (B, nb) gather-accumulate is
            # memory-bandwidth-bound under 32 parallel workers (the 20M
            # smoke read 2775 s for this stage in f64 — SLOWER than the
            # full-precision scan it exists to beat), so the scan runs
            # at half the bytes and survivors are rescored in f64. A
            # conservative relative margin on the f32 threshold keeps
            # the survivor set a SUPERSET of the exact cut (f32
            # accumulation of `splits` nonnegative terms errs < ~1e-6
            # relative; margin is 1e-4), and the exact tie-inclusive
            # re-cut below emits BIT-IDENTICAL rows and distances to an
            # all-f64 pass. (an L2-cache-blocked variant of this
            # accumulation was A/B'd in r11 at 20M/10k-q and measured
            # FLAT, so the simpler form stays)
            d32 = None
            for sv in range(splits):
                g = luts[sv].astype(np.float32)[:, codes[:, sv]]
                if d32 is None:
                    d32 = g
                else:
                    d32 += g
            thr32 = np.partition(d32, kk - 1, axis=1)[:, kk - 1]
            margin = np.float32(1e-4) * (np.abs(thr32) + np.float32(1.0))
            qi, ri = np.nonzero(d32 <= (thr32 + margin)[:, None])
            # exact f64 rescore of the margin superset — same
            # ascending-subvector addition order as the f64
            # accumulator, so values are bit-identical to it
            d64 = luts[0][qi, codes[ri, 0]]
            for sv in range(1, splits):
                d64 = d64 + luts[sv][qi, codes[ri, sv]]
        else:
            # covering cut (every row survives): straight f64 pass
            luts = [
                ((book[None, :, :] - Qb[:, lo:hi][:, None, :]) ** 2).sum(-1)
                for (lo, hi), book in zip(bounds, books)
            ]
            d = None
            for sv in range(splits):
                g = luts[sv][:, codes[:, sv]]
                if d is None:
                    d = g
                else:
                    d += g
            B = d.shape[0]
            qi = np.repeat(np.arange(B), nb)
            ri = np.tile(np.arange(nb), B)
            d64 = d[qi, ri]
        if kk < nb:
            # exact tie-inclusive re-cut of the superset
            qi, ri, d64 = _recut_ties(qi, ri, d64, kk)
        out_q.append(s + qi)
        out_r.append(ri)
        out_d.append(d64)
    if not out_q:
        e = np.empty(0, dtype=np.int64)
        return e, e, np.empty(0, dtype=np.float64)
    return np.concatenate(out_q), np.concatenate(out_r), np.concatenate(out_d)


def _topk_by_query(q, ids, d, kk: int):
    """Exact per-query cut: the first ``kk`` rows of each query in
    (dist, id) order — the order of the global window, so no row it
    drops can place in the final top-kk."""
    order = np.lexsort((ids, d, q))
    q, ids, d = q[order], ids[order], d[order]
    starts = np.flatnonzero(np.r_[True, q[1:] != q[:-1]])
    rank = np.arange(len(q)) - np.repeat(starts, np.diff(np.r_[starts, len(q)]))
    keep = rank < kk
    return q[keep], ids[keep], d[keep]


def _per_row_qid_wrap(
    search, queries: DataFrame, q_id_col: str, q_vec_col: str, id_col: str
) -> DataFrame:
    """Surrogate-wrap a query frame with DUPLICATE q_id values so the
    batch answers PER ROW (each input row keeps its own top-k — the
    lateral-join semantics a SQL batch would have), matching the hnsw
    forms since r11 so the ``LanternTable.knn_batch`` router returns
    the same row count whatever index kind the table happens to carry
    (VERDICT r11 item 1). ``search`` is the backend's own batch route,
    called once on the surrogate-keyed frame with uniqueness asserted;
    the restore join swaps the caller's values back and carries the
    persisted-intermediate and probed-cluster attachments through."""
    from lanterndb_spark.operators.hnsw import (
        _restore_surrogate, _surrogate_key_queries,
    )

    keyed = _surrogate_key_queries(queries, q_id_col, q_vec_col)
    inner = search(keyed.drop("__orig_qid"))
    out = _restore_surrogate(
        inner, keyed, q_id_col, [id_col, "dist"], key_col=q_id_col
    )
    probed = inner.__dict__.get("_lantern_probed")
    if probed is not None:
        out.__dict__["_lantern_probed"] = probed
    return out


# target f64 bytes per salted cogroup task on the arrow kernel's base
# side: the per-(cluster, salt) block is decoded to float64 before the
# matmul, so rows_per_task * dim * 8 should stay well under executor
# task memory. 32 MiB leaves ~4x headroom under the kernel's own 128 MiB
# distance-matrix block and absorbs moderate cluster skew.
_SALT_TARGET_BYTES = 32 << 20

# query batches whose Catalyst-KNOWN exact row count is at or under this
# bound route on the DRIVER in ivf_search_df (r15): the same 65,536-row
# known-small convention as hnsw_insert's broadcast-delta gate, and well
# inside knn_join's standing 100k driver-collect ceiling. Unknown or
# larger stats keep the executor routing pass (queries never touch the
# driver — the 100 TB posture).
_DRIVER_ROUTE_MAX_QUERIES = 65_536
# ... and whose f64 query matrix (rows x dim x 8) is at most this many
# bytes: every fused-scan task receives that matrix through a broadcast,
# so the gate bounds bytes, not rows (65,536 x 64d fits; a 65,536-row
# frame of 128d or wider takes the executor route)
_DRIVER_ROUTE_MAX_BYTES = 32 << 20
# fused driver-route scan: (query, base row) pairs per scan task. The
# task count is ceil(estimated pairs / this), clamped to
# [1, defaultParallelism], so a small batch (autotune's 64 queries)
# scans in one task and an eval-sized batch spreads over the cores.
_FUSED_PAIRS_PER_TASK = 1 << 19


def _base_rows_estimate(index: "IvfIndex") -> float | None:
    """Row estimate of ``index.assigned`` from Catalyst statistics
    (driver-side, no job): the rowCount when defined, else a float-array
    estimate from the byte stats (the vector dominates); None when the
    stats are unavailable."""
    try:
        dim = int(index.centroids.shape[1]) or 1
        stats = index.assigned._jdf.queryExecution().optimizedPlan().stats()
        rc = stats.rowCount()
        if rc.isDefined():
            return float(str(rc.get()))
        return float(str(stats.sizeInBytes())) / max(dim * 4 + 16, 1)
    except Exception:
        return None


def _adaptive_salt(index: "IvfIndex", salt_cap: int) -> int:
    """Scale-adaptive cogroup salt: ``ceil(per-cluster f64 block bytes /
    32 MiB)``, clamped to [1, salt_cap].

    The salt exists to bound per-task memory (cluster_rows/salt per
    task); it never changes results. A fixed salt=8 is right at the
    measured 2M x 768d tier (~768 MB/cluster) but at small/medium bases
    it splits already-tiny blocks 8 ways, multiplying the routed side
    (which replicates per salt value, query vector payload included) and
    the cogroup task count for nothing — measured 3.6 -> 2.3 s on the
    bench's 2k-query batch over a 2k-row base (profile_r14.json,
    ivfdf.full_salt8 vs ivfdf.salt1). Row/size estimates come from
    Catalyst statistics (driver-side, no job); when stats are
    unavailable the cap (the old fixed behavior) applies."""
    import math

    rows = _base_rows_estimate(index)
    if rows is None:  # stats unavailable: keep the caller's bound
        return int(salt_cap)
    dim = int(index.centroids.shape[1]) or 1
    block_bytes = rows / max(index.nlist, 1) * dim * 8.0
    return max(1, min(int(salt_cap), math.ceil(block_bytes / _SALT_TARGET_BYTES)))


def _fused_tasks(index: "IvfIndex", nq: int, np_eff: int) -> int:
    """Scan-task count of the fused driver-route scan: the estimated
    (query, base row) pair count nq·np_eff·rows/nlist over
    ``_FUSED_PAIRS_PER_TASK``, clamped to [1, defaultParallelism]
    (unknown stats: defaultParallelism)."""
    import math

    par = index.assigned.sparkSession.sparkContext.defaultParallelism
    rows = _base_rows_estimate(index)
    if rows is None:
        return par
    pairs = nq * np_eff * rows / max(index.nlist, 1)
    return max(1, min(par, math.ceil(pairs / _FUSED_PAIRS_PER_TASK)))


def _driver_route(
    index: "IvfIndex", queries: DataFrame, q_id_col: str, q_vec_col: str,
    np_eff: int, unique_q_ids: bool,
):
    """The shared driver route of ivf_search_df / ivfpq_search_df.

    When Catalyst KNOWS the query frame's exact row count and both it
    (``_DRIVER_ROUTE_MAX_QUERIES``) and the f64 query matrix
    (``_DRIVER_ROUTE_MAX_BYTES``) are known-small, collect the frame
    ONCE through Arrow, answer the dup/NULL q_id check on the collected
    keys (count_distinct semantics: NULLs count as a problem, all NaNs
    are one value), and route every query with :func:`_route_probes`
    — the executor route's own math, so probes are bit-identical.

    Returns None (take the executor route), ``"wrap"`` (duplicate or
    NULL keys: answer per row through the surrogate wrap), or
    ``(keys, qarr, probes)``; ``keys`` is empty for an empty frame."""
    from lanterndb_spark.plans.shape import collect_keyed_matrix, estimated_rows

    est = estimated_rows(queries)
    dim = int(index.centroids.shape[1]) if index.centroids.ndim == 2 else 1
    if (
        est is None
        or est > _DRIVER_ROUTE_MAX_QUERIES
        or est * dim * 8 > _DRIVER_ROUTE_MAX_BYTES
    ):
        return None
    keys, qarr = collect_keyed_matrix(
        queries.select(F.col(q_id_col), F.col(q_vec_col).cast("array<double>"))
    )
    if not unique_q_ids:
        if keys.dtype != object:
            # no NULLs; np.unique counts all NaNs as one value
            has_dup = len(np.unique(keys)) != len(keys)
        else:
            nonnull = [x for x in keys if x is not None]
            if len(nonnull) != len(keys):
                return "wrap"
            try:
                nans = sum(1 for x in nonnull if isinstance(x, float) and x != x)
                dn = len({x for x in nonnull
                          if not (isinstance(x, float) and x != x)})
                has_dup = (dn + (1 if nans else 0)) != len(nonnull)
            except TypeError:  # unhashable key type: fall back
                from lanterndb_spark.operators.hnsw import _has_duplicate_qids

                has_dup = _has_duplicate_qids(queries, q_id_col)
        if has_dup:
            return "wrap"
    if not len(keys):
        return keys, qarr, np.empty((0, np_eff), dtype=np.int64)
    return keys, qarr, _route_probes(index.centroids, qarr, np_eff)


def _fused_scan(
    index: "IvfIndex", data: DataFrame, id_col: str, droute, np_eff: int,
    kk: int, salt_eff: int, prepare, block_topk, out_schema: str,
) -> DataFrame:
    """The driver route's scan: ONE mapInPandas over the probed base
    rows emits each query's top ``kk`` candidates of its scan task.

    The base rows hash-repartition on (cluster_id, salt) into an
    EXPLICIT task count (:func:`_fused_tasks`), which AQE does not
    coalesce. The query matrix and the per-cluster probe lists (CSR:
    the positions of the queries probing cluster c are
    ``qpos[ptr[c]:ptr[c+1]]``) reach every task through one broadcast,
    so no (query, cluster) relation is built or shuffled. The kernel
    scores each cluster's rows of an Arrow batch against that cluster's
    queries with ``block_topk`` (the same function the executor route's
    cogroup kernel calls) and folds the blocks into a per-query top-kk
    by (dist, id) over int32 query positions; the caller's window makes
    the global cut.

    ``prepare(pdf)`` turns a batch's payload columns into the array
    ``block_topk(rows, Q)`` scores."""
    keys, qarr, probes = droute
    nq = len(keys)
    flat = probes.reshape(-1)
    order = np.argsort(flat, kind="stable")
    qpos = np.repeat(np.arange(nq, dtype=np.int32), np_eff)[order]
    ptr = np.r_[0, np.cumsum(np.bincount(flat, minlength=index.nlist))]
    spark = data.sparkSession
    bc = spark.sparkContext.broadcast((keys, qarr, ptr, qpos))
    part = data.repartition(
        _fused_tasks(index, nq, np_eff),
        F.col("cluster_id"), F.pmod(F.hash(F.col(id_col)), F.lit(salt_eff)),
    )

    def scan(batches):
        qkeys, Q, ptr_, qpos_ = bc.value
        acc = None
        watermark = 0  # size of acc right after its last cut
        for pdf in batches:
            if not len(pdf):
                continue
            cl = pdf["cluster_id"].to_numpy()
            ids = pdf[id_col].to_numpy()
            rows = prepare(pdf)
            by_cl = np.argsort(cl, kind="stable")
            cs = cl[by_cl]
            starts = np.flatnonzero(np.r_[True, cs[1:] != cs[:-1]])
            parts = []
            for lo, hi in zip(starts, np.r_[starts[1:], len(cs)]):
                c = cs[lo]
                qp = qpos_[ptr_[c] : ptr_[c + 1]]
                if not len(qp):
                    continue
                blk = by_cl[lo:hi]
                qi, ri, d = block_topk(rows[blk], Q[qp])
                parts.append((qp[qi], blk[ri], d))
            if not parts:
                continue
            q = np.concatenate([p[0] for p in parts])
            r = np.concatenate([p[1] for p in parts])
            d = np.concatenate([p[2] for p in parts])
            cut = _topk_by_query(q, ids[r], d, kk)
            if acc is None:
                acc, watermark = cut, len(cut[0])
                continue
            acc = tuple(np.concatenate([a, b]) for a, b in zip(acc, cut))
            if len(acc[0]) > 2 * watermark:
                acc = _topk_by_query(*acc, kk)
                watermark = max(len(acc[0]), 1)
        if acc is not None:
            q, i, d = _topk_by_query(*acc, kk)
            yield pd.DataFrame({"__qid": qkeys[q], id_col: i, "dist": d})

    return part.mapInPandas(scan, out_schema)


def _cogroup_scan(
    data: DataFrame, routed: DataFrame, id_col: str, kk: int,
    salt_eff: int, prepare, block_topk, out_schema: str,
) -> DataFrame:
    """The executor route's scan: a SALTED cogroup of the base rows with
    the routed (__qid, __q, cluster_id) rows — the base side of each
    cluster splits ``salt_eff`` ways by a deterministic pmod of the id,
    the routed side replicates per salt value — scoring each
    (cluster, salt) block with ``block_topk`` (shared with
    :func:`_fused_scan`), then the narrow per-partition pandas combiner
    cuts each query to its top ``kk``."""
    from lanterndb_spark.plans.shape import widen_partitions

    base_s = widen_partitions(data).withColumn(
        "__salt", F.pmod(F.hash(F.col(id_col)), F.lit(salt_eff)).cast("int")
    )
    routed_s = routed.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt_eff - 1)))
    )

    def score(key, bpdf: pd.DataFrame, qpdf: pd.DataFrame) -> pd.DataFrame:
        if not len(bpdf) or not len(qpdf):
            return pd.DataFrame({"__qid": [], id_col: [], "dist": []})
        Q = np.asarray(qpdf["__q"].tolist(), dtype=np.float64)
        qi, ri, d = block_topk(prepare(bpdf), Q)
        return pd.DataFrame({
            "__qid": qpdf["__qid"].to_numpy()[qi],
            id_col: bpdf[id_col].to_numpy()[ri],
            "dist": d,
        })

    return (
        base_s.groupBy("cluster_id", "__salt")
        .cogroup(routed_s.groupBy("cluster_id", "__salt"))
        .applyInPandas(score, out_schema)
        .mapInPandas(_partial_topk(kk, id_col), out_schema)
    )


def ivf_search_df(
    index: IvfIndex,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    metric: str = "l2sq",
    id_col: str | None = None,
    pred: Column | None = None,
    q_id_col: str = "q_id",
    q_vec_col: str = "query",
    prune: bool = True,
    impl: str = "auto",
    salt: int = 8,
    unique_q_ids: bool = False,
    base_decode: tuple | None = None,
) -> DataFrame:
    """DataFrame-native batch ANN over an IVF index: queries arrive as a
    DataFrame and are routed to their ``nprobe`` nearest centroids
    EXECUTOR-side (mapInPandas against the broadcast centroid matrix),
    so the batch size is unbounded — the 10^5–10^6-query eval /
    hard-negative-mining shape that the driver-list
    :func:`ivf_search_batch` guards against at 100k. The ivf twin of
    ``hnsw.hnsw_search_df``; reference parity: the scan contract
    (lantern_hnsw/src/hnsw/scan.c:167-238) is per-query, this is the
    batch recast that scales it per backend.

    Plan, and why each stage holds at 100 TB:

    1. route — one ``mapInPandas`` argsorts each query against the
       (tiny, broadcast) centroid matrix and emits
       (q_id, query_vec, cluster_id) × nprobe. Same argsort order as
       :func:`ivf_search`, so per-query results are identical to the
       driver-list form by construction. No driver collect of queries
       — EXCEPT on the DRIVER ROUTE: when Catalyst knows the frame's
       exact row count is ≤ 65,536 AND its f64 query matrix is
       ≤ 32 MiB (r15; byte bound since the fused scan), the batch is
       collected once through Arrow and routed on the driver with the
       identical numpy argsort (blocked like the executor pass); the
       prune stats and dup/NULL check become driver-side lookups
       (zero jobs). Unknown or larger stats keep the executor pass.
    2. prune — the routed frame persists and a map-side-combined
       per-cluster count aggregates over the CACHE (so routing runs
       once; the scoring stage reuses the cached rows); the collected
       stats are bounded by ``nlist`` rows, turn the probed union into
       a static ``isin`` the scan can push down (PartitionFilters on a
       ``partitionBy(cluster_id)`` layout — a batch touching p clusters
       reads p/nlist of the data), AND decide the ``auto`` density gate
       for free (every query emits exactly nprobe routed rows, so the
       counts sum to nq·nprobe). ``prune=False`` skips the pass (and
       the cache) when the batch is known to probe everything; the gate
       then runs its own capped count. On the driver route the same
       stats are a bincount over the driver's probe lists.
    3. score — two impls, routed by query density (``impl='auto'``):

       - ``expr``: shuffle equi-join base ⋈ routed on cluster_id (plain
         sort-merge/hash join — AQE's skew split covers hot clusters),
         then the JVM-side ``distance`` expression (an interpreted
         per-element fold: ``zip_with``/``aggregate`` fall back from
         codegen). The query vector rides the routed side so the
         distance is computable BEFORE any q_id shuffle. Best at low
         queries-per-cluster: the pair count is rows_probed ×
         queries_per_cluster, and each pair pays that fold.
       - ``arrow``, executor route: SALTED cogroup — the base side of
         each cluster splits ``salt_eff`` ways (deterministic pmod of
         the id; ``salt`` is the UPPER BOUND — the effective value
         adapts to the estimated per-cluster block size via
         :func:`_adaptive_salt` so a small base is not split into
         confetti tasks while the 100 TB tier keeps the full memory
         bound), the routed side replicates per salt value, and each
         (cluster, salt) task scores its base block against its
         cluster's queries with :func:`_flat_block_topk`: ONE blocked
         numpy matmul + in-kernel per-query top-k (np.partition
         threshold keeps boundary ties for the exact cut to resolve).
         The salt bounds per-task memory at cluster_rows/salt
         regardless of cluster skew — the reason a bare cogroup was
         rejected — and each task emits ≤ k·(queries probing the
         cluster) rows, so the pair matrix never hits the shuffle.
         l2sq + cos (cos = normalized matmul; zero-norm rows and
         queries drop, mirroring the expr path's NULL-dist filter); at
         10k+ query batches this is the only shape whose scoring cost
         is matmul flops instead of interpreted folds.
       - ``arrow``, driver route: ONE fused ``mapInPandas`` over the
         probed base rows (:func:`_fused_scan`) — no routed relation,
         no cogroup. The base rows hash-repartition on
         (cluster_id, salt) into an explicit task count sized from
         the estimated pair count nq·nprobe·rows/nlist (2^19 pairs per
         task, clamped to [1, defaultParallelism]; AQE does not
         coalesce an explicit count), the query matrix and the
         per-cluster probe lists arrive by broadcast, and each task
         scores its per-cluster blocks with the SAME
         :func:`_flat_block_topk` and folds them into a per-query top-k
         by (dist, id) in numpy.
       - ``auto``: arrow when metric is l2sq/cos and a limit-capped
         probe shows ≥8 queries per probed cluster (nq ≥
         8·nlist/nprobe). The crossover is a density, not a volume —
         both impls' dominant costs scale with base rows, so base size
         cancels (measured at the 2M tier; DESIGN.md r9).
    4. cut — the cogroup and expr shapes run a NARROW per-partition
       top-k combiner (pandas sort + groupby-head, any q_id dtype) that
       shrinks the final window shuffle from (candidates) rows to
       ≤ (partitions × nq × k); the fused scan already emits at most
       k rows per query per task. One ``row_number`` window then
       resolves the global per-query top-k with the (dist, id) tie
       order shared by every batch path.

    ``pred`` composes before scoring (filtered ANN,
    test/sql/hnsw_select.sql:50-51: the k budget goes to qualifying
    rows only). Returns (q_id_col, id_col, dist) — ``id_col`` is
    required (it is the deterministic tie-break and keeps the combiner
    schema skinny). Duplicate q_id VALUES are PER-ROW, matching the
    hnsw forms (each input row keeps its own top-k): the frame pays
    one column-pruned count to detect duplicates and falls into the
    same surrogate wrap ``hnsw_search_df`` uses when they exist, so
    ``LanternTable.knn_batch`` returns the same row count whichever
    index kind routes the call. Callers that mint their own unique ids
    pass ``unique_q_ids=True`` to skip the check (asserting uniqueness
    — with duplicates present it silently merges their candidate
    sets, the pre-r12 behavior).

    The queries lineage is evaluated ONCE: with ``prune`` on, the routed
    frame is persisted and the prune stats (which also decide the
    ``auto`` density gate for free — every query emits exactly nprobe
    routed rows) aggregate over the cache, which the scoring route then
    reuses; call ``plans.shape.release`` on the result after
    materializing to free it. With ``prune=False`` there is no second
    pass to collapse (the gate runs a limit-capped count, bounded).

    ``base_decode`` — coded-scan hook for the arrow kernel:
    ``([col, ...], fn)`` where ``fn(bpdf) -> (rows, dim) float64``.
    When set and the resolved impl is ``arrow``, the base side ships
    ONLY those columns through the Arrow boundary and the kernel
    decodes them in numpy — ``ivfsq_search_df`` passes its int8 codes
    + scale this way, cutting the Python-boundary bytes ~8x vs
    serializing the dequantized float column (measured at 2M x 768d,
    spark-warehouse/ab_dim768_r13.json). The expr path ignores the
    hook and reads ``index.vec_col`` (the decoded column must still
    exist on ``index.assigned`` for it). ``fn`` must reproduce the
    vec_col values bit-exactly or the two impls diverge."""
    from pyspark.sql import Window

    from lanterndb_spark.functions.distance import distance
    from lanterndb_spark.plans.shape import widen_partitions

    if id_col is None:
        raise ValueError("ivf_search_df requires id_col (tie-break + output key)")
    if nprobe < 1:
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
    if salt < 1:
        # salt=0 would silently match no (cluster, salt) cogroup keys
        raise ValueError(f"salt must be >= 1, got {salt}")
    spark = index.assigned.sparkSession
    q_id_type = queries.schema[q_id_col].dataType.simpleString()
    id_type = index.assigned.schema[id_col].dataType.simpleString()
    if index.nlist == 0:
        # empty build (ldb_ambuildunlogged analogue): valid index, empty answer
        return spark.createDataFrame(
            [], f"{q_id_col} {q_id_type}, {id_col} {id_type}, dist double"
        )
    np_eff = min(int(nprobe), index.nlist)

    def _wrap():
        return _per_row_qid_wrap(
            lambda q: ivf_search_df(
                index, q, k=k, nprobe=nprobe, metric=metric,
                id_col=id_col, pred=pred, q_id_col=q_id_col,
                q_vec_col=q_vec_col, prune=prune, impl=impl,
                salt=salt, unique_q_ids=True, base_decode=base_decode,
            ),
            queries, q_id_col, q_vec_col, id_col,
        )

    # KNOWN-SMALL query frames route on the DRIVER (r15, guide §4/§5 —
    # the same single-collect pattern as knn_join's capped collect): see
    # _driver_route. The dup/NULL check, the prune stats, the density
    # gate, and the probed set are then driver-side lookups with NO job,
    # and the arrow impl scores in the fused broadcast-query scan
    # (_fused_scan). Unknown or large stats keep the executor path.
    droute = None
    if prune and np_eff < index.nlist:
        droute = _driver_route(
            index, queries, q_id_col, q_vec_col, np_eff, unique_q_ids)
        if isinstance(droute, str):
            return _wrap()
        if droute is not None and not len(droute[0]):
            return spark.createDataFrame(
                [], f"{q_id_col} {q_id_type}, {id_col} {id_type}, dist double"
            )

    # duplicate/NULL q_id detection: when the prune pass runs anyway, it
    # rides the SAME aggregate over the cached routed frame (every query
    # emits exactly np_eff routed rows, so dup-or-NULL ⟺
    # count_distinct(__qid)·np_eff ≠ count(1) — count_distinct skips
    # NULLs, so a NULL key also breaks the equality), saving the
    # standalone query-side aggregate job. Without a prune pass the
    # standalone check runs as before.
    deferred_dup_check = (
        (not unique_q_ids) and droute is None
        and prune and np_eff < index.nlist
    )
    if not unique_q_ids and droute is None and not deferred_dup_check:
        from lanterndb_spark.operators.hnsw import _has_duplicate_qids

        if _has_duplicate_qids(queries, q_id_col):
            return _wrap()
    routed = None
    if droute is None:
        bc = spark.sparkContext.broadcast(index.centroids)
        qsel = queries.select(
            F.col(q_id_col).alias("__qid"),
            F.col(q_vec_col).cast("array<double>").alias("__q"),
        )

        # known-small query batches route in a few big Python tasks
        # instead of one near-empty task per input partition
        # (stats-driven, no job; large/unknown inputs keep their
        # parallelism)
        from lanterndb_spark.plans.shape import coalesce_known_small

        routed = coalesce_known_small(qsel, queries).mapInPandas(
            _centroid_route(bc, np_eff),
            f"__qid {q_id_type}, __q array<double>, cluster_id int",
        )

    # column selection is deferred to the impl branch below: the arrow
    # kernel may scan a coded layout (base_decode) whose columns differ
    # from the expr path's float column, and selecting before the
    # exchange is what keeps the unneeded one out of the shuffle
    src = index.assigned
    if pred is not None:
        src = src.filter(pred)
    probed_stats = None
    cached_routed = None
    probed = None
    if droute is not None:
        # prune stats are a driver-side bincount over the routed probes
        # — no persist, no rollup job; the probed-cluster set and the
        # density gate come for free
        counts = np.bincount(droute[2].reshape(-1), minlength=index.nlist)
        probed = [int(c) for c in np.nonzero(counts)[0]]
        src = src.filter(F.col("cluster_id").isin(probed))
    elif prune and np_eff < index.nlist:
        # ONE evaluation of the queries lineage: the routed frame is
        # persisted and the prune stats aggregate over the CACHE (the
        # collect materializes it), so the scoring route reads cached
        # (qid, vec, cluster) rows instead of re-running routing — and a
        # heavy upstream lineage (join-derived eval sets, hybrid batch
        # candidate unions) pays once. The cache holds nq·nprobe skinny
        # rows across executors; it is attached to the result for
        # plans.shape.release(), like hnsw_search_df_filtered's rounds.
        cached_routed = routed.persist()
        if deferred_dup_check:
            # rollup gives the per-cluster counts AND the grand-total
            # row (cluster_id NULL — route never emits NULL cluster
            # ids) in one job; count_distinct detects dup/NULL keys
            rows = (
                cached_routed.rollup("cluster_id")
                .agg(
                    F.count(F.lit(1)).alias("cnt"),
                    F.count_distinct(F.col("__qid")).alias("dq"),
                )
                .collect()  # bounded: <= nlist + 1 rows
            )
            probed_stats = [r for r in rows if r["cluster_id"] is not None]
            # empty queries → rollup emits no rows at all (grouping keys
            # present): nothing to wrap, nothing to probe
            total = next((r for r in rows if r["cluster_id"] is None), None)
            if total is not None and total["dq"] * np_eff != total["cnt"]:
                cached_routed.unpersist()
                return _wrap()
        else:
            probed_stats = (
                cached_routed.groupBy("cluster_id")
                .agg(F.count(F.lit(1)).alias("cnt"))
                .collect()  # bounded: <= nlist rows, map-side-combined agg
            )
        routed = cached_routed
        probed = [int(r["cluster_id"]) for r in probed_stats]
        src = src.filter(F.col("cluster_id").isin(probed))

    if impl == "auto":
        # the crossover is query DENSITY (queries per probed cluster) —
        # below it the JVM expr join wins on latency, above it matmul
        # flops beat interpreted per-pair folds
        if droute is not None:
            # every query emits exactly np_eff routed rows
            dense = (
                len(droute[0]) * np_eff >= _ARROW_QPC_CROSSOVER * index.nlist
            )
        elif probed_stats is not None:
            # the prune pass already measured the batch for free: every
            # query emits exactly np_eff routed rows, so sum(cnt) =
            # nq * np_eff and the gate needs NO extra job over queries
            dense = (
                sum(r["cnt"] for r in probed_stats)
                >= _ARROW_QPC_CROSSOVER * index.nlist
            )
        else:
            # limit-capped probe (never a full count)
            cap = max(1, -(-_ARROW_QPC_CROSSOVER * index.nlist // np_eff))
            dense = qsel.limit(cap).count() >= cap
        impl = "arrow" if metric in ("l2sq", "cos") and dense else "expr"
    if impl == "arrow" and metric not in ("l2sq", "cos"):
        raise ValueError("impl='arrow' batch scoring implements l2sq and cos only")
    cand_schema = f"__qid {q_id_type}, {id_col} {id_type}, dist double"
    if impl == "arrow":
        vec_col = index.vec_col
        decode_fn = base_decode[1] if base_decode is not None else None
        kk = int(k)
        salt_eff = _adaptive_salt(index, salt)
        # coded scan (base_decode): only the code columns cross the
        # exchange and the Arrow boundary; the kernel decodes them
        data = src.select(
            "cluster_id", id_col,
            *(base_decode[0] if base_decode is not None else [vec_col]),
        )

        def prepare(bpdf):
            if decode_fn is not None:
                return decode_fn(bpdf)
            return np.asarray(bpdf[vec_col].tolist(), dtype=np.float64)

        def block_topk(X, Q):
            return _flat_block_topk(X, Q, kk, metric)

        if droute is not None:
            cand = _fused_scan(
                index, data, id_col, droute, np_eff, kk, salt_eff,
                prepare, block_topk, cand_schema,
            )
        else:
            cand = _cogroup_scan(
                data, routed, id_col, kk, salt_eff, prepare, block_topk,
                cand_schema,
            )
    else:
        data = widen_partitions(src.select("cluster_id", id_col, index.vec_col))
        if droute is not None:
            # the expr join needs the vectors ON the routed rows (the
            # distance expression reads __q); a driver-built local
            # relation carries them — still no routing job, no persist,
            # no rollup
            keys, qarr, probes = droute
            klist = keys.tolist()
            routed = spark.createDataFrame(
                [(klist[i], [float(x) for x in qarr[i]], int(c))
                 for i in range(len(klist)) for c in probes[i]],
                f"__qid {q_id_type}, __q array<double>, cluster_id int",
            )
        pairs = data.join(routed, on="cluster_id").withColumn(
            "dist", distance(metric, index.vec_col, F.col("__q")).cast("double")
        )
        # NULL dist (cos zero-norm, distance.py's convention) is
        # undefined order — drop, like hnsw_search_df drops zero-norm
        # queries
        cand = (
            pairs.select("__qid", id_col, "dist")
            .filter(F.col("dist").isNotNull())
            .mapInPandas(_partial_topk(k, id_col), cand_schema)
        )
    w = Window.partitionBy("__qid").orderBy(F.col("dist").asc(), F.col(id_col).asc())
    out = (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(F.col("__qid").alias(q_id_col), id_col, "dist")
    )
    if cached_routed is not None:
        from lanterndb_spark.plans.shape import attach_persisted

        out = attach_persisted(out, cached_routed)
    if probed is not None:
        # the probed-cluster set rides the result so composites
        # (ivfsq_search_df's exact re-rank) can keep the coarse pass's
        # partition pruning instead of re-scanning the full table
        out.__dict__["_lantern_probed"] = probed
    return out


def ivfpq_search_df(
    index: IvfIndex,
    codebook: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    refine: int = 4,
    pq_col: str | None = None,
    id_col: str | None = None,
    q_id_col: str = "q_id",
    q_vec_col: str = "query",
    prune: bool = True,
    salt: int = 8,
    unique_q_ids: bool = False,
) -> DataFrame:
    """DataFrame-native batch twin of :func:`ivfpq_search` — the
    reference's pq=true index mode (build.c:497-501, scan.c:75-81) at
    eval-pass query volumes, completing the batch family over the
    byte-coded billion-scale layout:

    1. route — queries route to their ``nprobe`` nearest centroids
       executor-side (``_centroid_route``: same argsort as the
       driver-list forms, unbounded batch). Known-small frames (the
       ``ivf_search_df`` driver-route gate: ≤ 65,536 rows and a
       ≤ 32 MiB f64 query matrix) route on the DRIVER instead
       (identical argsort), folding the routing pass, the persist, the
       distinct collect, and the duplicate-check job into one Arrow
       collect.
    2. prune — the routed frame persists (single evaluation of the
       queries lineage, like ``ivf_search_df``) and its per-cluster
       counts turn the probed union into a static ``isin`` the coded
       scan pushes down (a driver-side bincount on the driver route).
    3. ADC coarse — :func:`_adc_block_topk` scores each code block
       against the queries probing its cluster: the per-query LUT of
       (subvector × centroid) squared distances — the EXACT adc_knn
       math (pq.py: ``Σ LUT[s, code[s]]``) — gathered over the block
       and cut to the per-query top ``k·refine`` with boundary ties
       kept. The executor route runs it in a SALTED cogroup (per-task
       memory cluster_rows/salt, the ``ivf_search_df`` arrow shape)
       followed by the narrow pandas combiner; the driver route runs
       it in the fused broadcast-query scan (``ivf_search_df`` step 3,
       :func:`_fused_scan`), which folds each task's blocks into a
       per-query top ``k·refine``. A ``row_number`` window makes the
       global coarse cut. The scan that touches every surviving row
       reads 1 byte/subvector, not 4·dim.
    4. re-rank — candidates join their ORIGINAL query vectors by q_id
       and the raw base rows by id (≤ k·refine rows per query), one
       exact l2sq window resolves the final top-k.

    ``index.assigned`` must carry the PQ code column (pq.quantize over
    the assigned table at build time — :func:`ivfpq_search`'s
    contract). Returns (q_id_col, id_col, dist); the routed cache rides
    the result for ``plans.shape.release``. Like the other re-ranked
    forms, the queries lineage is read once more by the re-rank join —
    persist heavy lineages before calling. Duplicate q_id VALUES are
    PER-ROW via the same surrogate wrap as ``ivf_search_df`` (without
    it the re-rank's join-by-q_id would also fan out across the
    duplicates); ``unique_q_ids=True`` skips the detection pass.

    WHEN TO PICK THIS over plain ``ivf_search_df`` (measured at 20M x
    64d, spark-warehouse/ab_ivfpq_disk_r12.json, AND at 2M x 768d,
    spark-warehouse/ab_dim768_r13.json): ivfpq is the
    CAPACITY/FOOTPRINT option, not the wall-clock option — its coarse
    scan reads ~30x fewer bytes (1 byte/subvector vs 4/dim, and
    parquet column pruning delivers that on disk: 197 MB vs 5.9 GB at
    2M x 768d), but the ADC gather+LUT cost exceeded the saved decode
    on page-cached local storage at BOTH dims: 2.0x slower than ivf in
    RAM / 1.55x off parquet at 64d, and ~5-8x slower at 768d (the
    LUT gather scales with splits=dim/8 while ivf's matmul rides dgemm,
    so higher dim makes the compute gap WORSE on hot storage, not
    better — the r12 conjecture that dim would flip the RAM-tier
    crossover is refuted; what 768d does amplify is the absolute byte
    gap, i.e. the cold-storage/capacity case). ADC ordering noise also
    grows with dim, and at 768d it is a recall CEILING, not a knob
    (recall-matched sweep, spark-warehouse/recall_ops_r14.json): on the
    2M iid-gaussian corpus recall@10 plateaus at 0.451 even at
    nprobe=nlist with refine=30 — there is NO 0.8 operating point
    within a block-safe refine window. Keep k*refine BELOW
    rows/(nlist*salt) (~the per-cogroup-block size) or the coarse
    per-block cut prunes nothing and the full probed volume hits the
    global window (measured: refine=100 at 2M/256/8 turned a 30 ms/q
    scan into 175 ms/q — arms_refine100 in the r13 artifact). Choose
    ivfpq when the coarse table cannot fit hot storage at all (the 30x
    smaller scan is the difference between a cold S3/HDFS read of
    197 MB vs 5.9 GB per batch, where bandwidth, not decode, is the
    wall) AND the recall target tolerates the ADC ceiling (or refine
    can ride a larger block: fewer salts, bigger clusters); choose
    plain ivf whenever the f32/f64 table is servable, and SQ8 as the
    middle tier. At MATCHED RECALL sq8 carries no quality tax at all:
    its 768d recall curve is pointwise identical to raw ivf (0.468 /
    0.687 / 0.871 / 0.972 at nprobe 32/64/96/128, refine=10 — the
    exact re-rank absorbs the int8 rounding), so the 1/4-byte scan is
    free quality-wise; recall-matched walls are recorded per-arm with
    in-JVM clock probes in recall_ops_r14.json (this host's clock
    swings ~3x between arms — compare walls only with their probes,
    e.g. ivf 31.0 ms/q@0.87 at probe 78 GFLOP/s vs ivfsq 34.7
    ms/q@0.87 at probe 226). Two honest context lines from that sweep:
    on ISOTROPIC gaussian 768d even raw ivf must probe fraction 0.375
    of clusters for 0.8 recall and 0.5 for 0.9 (cluster pruning buys
    only ~2-3x over a full scan in this worst case — real embedding
    manifolds cluster far better), and the graph backend needs
    (nprobe=200/400 shards, ef=256) for 0.9, at ~10x the ivf wall at
    this scale — the dgemm coarse-scan family is the 768d default."""
    from pyspark.sql import Window

    from lanterndb_spark.functions.distance import distance
    from lanterndb_spark.operators.pq import _codebook_arrays, subvector_bounds

    if id_col is None:
        raise ValueError("ivfpq_search_df requires id_col (tie-break + output key)")
    if nprobe < 1:
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
    if salt < 1:
        raise ValueError(f"salt must be >= 1, got {salt}")
    pq_col = pq_col or f"{index.vec_col}_pq"
    spark = index.assigned.sparkSession
    q_id_type = queries.schema[q_id_col].dataType.simpleString()
    id_type = index.assigned.schema[id_col].dataType.simpleString()
    if index.nlist == 0:
        return spark.createDataFrame(
            [], f"{q_id_col} {q_id_type}, {id_col} {id_type}, dist double"
        )
    np_eff = min(int(nprobe), index.nlist)

    def _wrap():
        return _per_row_qid_wrap(
            lambda q: ivfpq_search_df(
                index, codebook, q, k=k, nprobe=nprobe, refine=refine,
                pq_col=pq_col, id_col=id_col, q_id_col=q_id_col,
                q_vec_col=q_vec_col, prune=prune, salt=salt,
                unique_q_ids=True,
            ),
            queries, q_id_col, q_vec_col, id_col,
        )

    # KNOWN-SMALL query frames route on the DRIVER — the same gate,
    # collect, dup/NULL semantics and probes as ivf_search_df's driver
    # route (_driver_route): the routing pass, its persist, the distinct
    # collect, AND the standalone duplicate-check job all fold into one
    # collect, and the ADC coarse pass runs as the fused scan.
    droute = None
    if prune and np_eff < index.nlist:
        droute = _driver_route(
            index, queries, q_id_col, q_vec_col, np_eff, unique_q_ids)
        if isinstance(droute, str):
            return _wrap()
        if droute is not None and not len(droute[0]):
            return spark.createDataFrame(
                [], f"{q_id_col} {q_id_type}, {id_col} {id_type}, dist double"
            )
    if not unique_q_ids and droute is None:
        from lanterndb_spark.operators.hnsw import _has_duplicate_qids

        if _has_duplicate_qids(queries, q_id_col):
            return _wrap()
    kk = int(k) * int(refine)
    books = _codebook_arrays(codebook)
    dim = sum(b.shape[1] for b in books)
    bounds = subvector_bounds(dim, len(books))
    bc_books = spark.sparkContext.broadcast((books, bounds))
    # captured driver-side so the kernel closure carries the value (the
    # executors import the module fresh; tests force a branch by
    # patching the module constant before the call)
    adc_dgemm_min_dim = _ADC_DGEMM_MIN_DIM
    routed = None
    if droute is None:
        bc = spark.sparkContext.broadcast(index.centroids)
        qsel = queries.select(
            F.col(q_id_col).alias("__qid"),
            F.col(q_vec_col).cast("array<double>").alias("__q"),
        )
        from lanterndb_spark.plans.shape import coalesce_known_small

        routed = coalesce_known_small(qsel, queries).mapInPandas(
            _centroid_route(bc, np_eff),
            f"__qid {q_id_type}, __q array<double>, cluster_id int",
        )

    base = index.assigned.select("cluster_id", id_col, pq_col)
    cached_routed = None
    probed = None
    if droute is not None:
        counts = np.bincount(droute[2].reshape(-1), minlength=index.nlist)
        probed = [int(c) for c in np.nonzero(counts)[0]]
        base = base.filter(F.col("cluster_id").isin(probed))
    elif prune and np_eff < index.nlist:
        cached_routed = routed.persist()
        probed = [
            int(r["cluster_id"])
            for r in cached_routed.select("cluster_id").distinct().collect()
        ]  # bounded: <= nlist rows
        routed = cached_routed
        base = base.filter(F.col("cluster_id").isin(probed))
    salt_eff = _adaptive_salt(index, salt)
    cand_schema = f"__qid {q_id_type}, {id_col} {id_type}, dist double"

    def prepare(bpdf):
        return np.asarray(bpdf[pq_col].tolist(), dtype=np.int64)

    def block_topk(codes, Q):
        bks, bnds = bc_books.value
        return _adc_block_topk(codes, Q, bks, bnds, kk, adc_dgemm_min_dim)

    if droute is not None:
        cand = _fused_scan(
            index, base, id_col, droute, np_eff, kk, salt_eff,
            prepare, block_topk, cand_schema,
        )
    else:
        cand = _cogroup_scan(
            base, routed, id_col, kk, salt_eff, prepare, block_topk,
            cand_schema,
        )
    w = Window.partitionBy("__qid").orderBy(
        F.col("dist").asc(), F.col(id_col).asc()
    )
    coarse = (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= kk)
        .select(F.col("__qid").alias(q_id_col), id_col)
    )
    qslim = queries.select(
        q_id_col, F.col(q_vec_col).cast("array<double>").alias("__qv")
    )
    rerank_src = index.assigned
    if probed is not None:
        # candidates can only come from the probed clusters — keep the
        # coarse pass's partition pruning on the re-rank scan too (a
        # partitionBy(cluster_id) layout would otherwise full-scan here)
        rerank_src = rerank_src.filter(F.col("cluster_id").isin(probed))
    rescored = (
        coarse.join(rerank_src.select(id_col, index.vec_col), on=id_col)
        .join(qslim, on=q_id_col)
        .withColumn(
            "dist",
            distance("l2sq", F.col(index.vec_col), F.col("__qv")).cast("double"),
        )
    )
    w2 = Window.partitionBy(q_id_col).orderBy(
        F.col("dist").asc(), F.col(id_col).asc()
    )
    out = (
        rescored.withColumn("__rn", F.row_number().over(w2))
        .filter(F.col("__rn") <= k)
        .select(q_id_col, id_col, "dist")
    )
    if cached_routed is not None:
        from lanterndb_spark.plans.shape import attach_persisted

        out = attach_persisted(out, cached_routed)
    return out


def ivfsq_search_df(
    index: IvfIndex,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    refine: int = 4,
    code_col: str | None = None,
    id_col: str | None = None,
    q_id_col: str = "q_id",
    q_vec_col: str = "query",
    pred: Column | None = None,
    unique_q_ids: bool = False,
    **search_params,
) -> DataFrame:
    """DataFrame-native batch twin of :func:`ivfsq_search` — the
    ``quant_bits=8`` composite (options.c:137-158) at eval-pass query
    volumes. The coarse pass is :func:`ivf_search_df` over the sq8
    codes (top ``k·refine`` per query; queries route executor-side, so
    the batch is unbounded like the plain ivf and hnsw forms): the
    arrow kernel receives the 1-byte codes + scale through the Arrow
    boundary and dequantizes IN-KERNEL (bit-exact float64(c)*scale —
    r13; shipping the Catalyst-dequantized float column cost the same
    boundary bytes as raw ivf and measured 2.2-3.3x slower at 2M x
    768d, spark-warehouse/ab_sqdecode_r13.json), while the expr path
    reads the on-the-fly dequantized column. Then the candidates join
    their ORIGINAL query
    vectors by q_id — a plain equi-join, ≤ k·refine rows per query —
    for one exact re-rank window with the shared (dist, id) tie order.

    l2sq only (the SQ8 scale model is symmetric-l2; the table route
    enforces the same). Returns (q_id_col, id_col, dist); the coarse
    stage's internal cache rides the result for
    ``plans.shape.release``. Like the pq re-rank in hnsw_search_df,
    the queries lineage is read once more by the re-rank join —
    persist heavy lineages before calling. Duplicate q_id VALUES are
    PER-ROW via the same surrogate wrap as ``ivf_search_df`` (without
    it the re-rank's join-by-q_id would also fan out across the
    duplicates); ``unique_q_ids=True`` skips the detection pass."""
    from pyspark.sql import Window

    from lanterndb_spark.functions.distance import distance
    from lanterndb_spark.operators.sq import sq8_dequantize

    if id_col is None:
        raise ValueError("ivfsq_search_df requires id_col (tie-break + output key)")
    if not unique_q_ids and index.nlist > 0:
        from lanterndb_spark.operators.hnsw import _has_duplicate_qids

        if _has_duplicate_qids(queries, q_id_col):
            return _per_row_qid_wrap(
                lambda q: ivfsq_search_df(
                    index, q, k=k, nprobe=nprobe, refine=refine,
                    code_col=code_col, id_col=id_col, q_id_col=q_id_col,
                    q_vec_col=q_vec_col, pred=pred, unique_q_ids=True,
                    **search_params,
                ),
                queries, q_id_col, q_vec_col, id_col,
            )
    code_col = code_col or f"{index.vec_col}_sq8"
    deq = sq8_dequantize(index.assigned, code_col, "__sq_deq")
    coarse_index = IvfIndex(deq, index.centroids, "__sq_deq")
    scale_col = f"{code_col}_scale"

    def _sq8_decode(bpdf):
        # bit-exact twin of sq8_dequantize's float64(c) * float64(scale)
        # — decoded executor-side in numpy so the Arrow boundary carries
        # 1-byte codes + one scale double instead of 8 bytes/dim
        # (~8x fewer boundary bytes; measured at 2M x 768d,
        # spark-warehouse/ab_dim768_r13.json)
        import numpy as np

        X = np.asarray(bpdf[code_col].tolist(), dtype=np.float64)
        X *= bpdf[scale_col].to_numpy(dtype=np.float64)[:, None]
        return X

    coarse = ivf_search_df(
        coarse_index, queries, k=k * refine, nprobe=nprobe, id_col=id_col,
        pred=pred, q_id_col=q_id_col, q_vec_col=q_vec_col,
        unique_q_ids=True,
        base_decode=([code_col, scale_col], _sq8_decode),
        **search_params,
    )
    persisted = coarse.__dict__.get("_lantern_persisted", [])
    qslim = queries.select(
        q_id_col, F.col(q_vec_col).cast("array<double>").alias("__qv")
    )
    rerank_src = index.assigned
    probed = coarse.__dict__.get("_lantern_probed")
    if probed is not None:
        # keep the coarse pass's cluster pruning on the re-rank scan
        # (candidates can only come from the probed clusters)
        rerank_src = rerank_src.filter(F.col("cluster_id").isin(probed))
    rescored = (
        coarse.drop("dist")
        .join(rerank_src.select(id_col, index.vec_col), on=id_col)
        .join(qslim, on=q_id_col)
        .withColumn(
            "dist",
            distance("l2sq", F.col(index.vec_col), F.col("__qv")).cast("double"),
        )
    )
    w = Window.partitionBy(q_id_col).orderBy(
        F.col("dist").asc(), F.col(id_col).asc()
    )
    out = (
        rescored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(q_id_col, id_col, "dist")
    )
    if persisted:
        from lanterndb_spark.plans.shape import attach_persisted

        out = attach_persisted(out, *persisted)
    return out


def ivf_assign(index: IvfIndex, delta: DataFrame, cluster_col: str = "cluster_id") -> DataFrame:
    """Assign NEW rows to the existing centroids — the aminsert analogue
    for the IVF layout (insert.c:51-262 appends to the existing graph
    without retraining). Compose with maintenance.with_deltas so queries
    see base ∪ delta with both sides cluster-pruned; retrain (build_ivf)
    when drift degrades recall, as measured by autotune.validate_ann."""
    return delta.withColumn(
        cluster_col, _assign_expr(delta.sparkSession, index.centroids, index.vec_col)
    )


def save_ivf(index: IvfIndex, path: str, spark=None) -> None:
    """Persist partitioned by cluster_id → partition pruning on search."""
    index.assigned.write.mode("overwrite").partitionBy("cluster_id").parquet(f"{path}/data")
    spark = spark or index.assigned.sparkSession
    cent = [(int(i), [float(x) for x in c]) for i, c in enumerate(index.centroids)]
    spark.createDataFrame(cent, "cluster_id int, centroid array<double>").coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/centroids")


def load_ivf(spark, path: str, vec_col: str) -> IvfIndex:
    assigned = spark.read.parquet(f"{path}/data")
    cent_rows = spark.read.parquet(f"{path}/centroids").collect()
    centroids = np.array(
        [r["centroid"] for r in sorted(cent_rows, key=lambda r: r["cluster_id"])]
    )
    return IvfIndex(assigned, centroids, vec_col)


def save_ivfpq(index: IvfPqIndex, path: str, spark=None) -> None:
    """:func:`save_ivf`'s layout (coded rows partitioned by cluster_id)
    plus the frozen codebook — the reference persists the codebook
    INSIDE the index (build.c:497-501), so a loaded handle searches
    without retraining."""
    save_ivf(index, path, spark=spark)
    index.codebook.write.mode("overwrite").parquet(f"{path}/codebook")


def load_ivfpq(
    spark, path: str, vec_col: str, pq_col: str | None = None
) -> IvfPqIndex:
    base = load_ivf(spark, path, vec_col)
    cb = spark.read.parquet(f"{path}/codebook")
    return IvfPqIndex(base.assigned, base.centroids, vec_col, cb, pq_col)


def ivf_search(
    index: IvfIndex,
    query: list[float],
    k: int = 10,
    nprobe: int = 4,
    metric: str = "l2sq",
    id_col: str | None = None,
    pred: Column | None = None,
) -> DataFrame:
    """ANN top-k: prune to the ``nprobe`` nearest clusters, exact re-rank.

    The cluster filter is a plain ``isin`` → Catalyst pushes it to the
    scan (partition pruning when saved partitioned by cluster_id)."""
    if index.nlist == 0:  # empty index → empty result
        return knn(
            index.assigned.filter(F.lit(False)), index.vec_col, query,
            k=k, metric=metric, id_col=id_col,
        )
    q = np.asarray(query, dtype=np.float64)
    d = ((index.centroids - q[None, :]) ** 2).sum(axis=1)
    probes = [int(i) for i in np.argsort(d)[:nprobe]]
    cand = index.assigned.filter(F.col("cluster_id").isin(probes))
    if pred is not None:
        cand = cand.filter(pred)
    return knn(cand, index.vec_col, query, k=k, metric=metric, id_col=id_col)


def ivf_search_batch(
    index: IvfIndex,
    queries: list[list[float]],
    k: int = 10,
    nprobe: int = 4,
    metric: str = "l2sq",
    id_col: str | None = None,
    impl: str = "auto",
    pred: Column | None = None,
) -> DataFrame:
    """ANN top-k for a whole query batch in ONE distributed job.

    Probe selection is a driver-side argmin over the (tiny) centroid
    array per query; the resulting (q_id, cluster_id, query_vec) table is
    broadcast and equi-joined on cluster_id, so each data row is scored
    only against the queries that probe its cluster. Per-query top-k is a
    rank-filtered window → WindowGroupLimit prunes map-side (see
    knn.knn_join). Returns (q_id, …data cols…, dist).

    This replaces the per-query driver loop: at autotune/bench scale the
    speedup is ~#queries×, and at cluster scale it's the only shape that
    amortizes scan + scheduling over the batch.
    """
    from pyspark.sql import Window

    from lanterndb_spark.functions.distance import distance

    spark = index.assigned.sparkSession
    qarr = np.asarray(queries, dtype=np.float64)
    d = ((index.centroids[None, :, :] - qarr[:, None, :]) ** 2).sum(axis=2)
    probe_ids = np.argsort(d, axis=1)[:, :nprobe]
    from lanterndb_spark.plans.shape import widen_partitions

    # static partition-pruning filter: the equi-join alone doesn't prune a
    # partitionBy(cluster_id) layout at planning time; the isin over the
    # union of probed clusters does (PartitionFilters in the scan), so a
    # batch touching p clusters reads p/nlist of the data
    probed_clusters = sorted({int(c) for qi in range(len(queries)) for c in probe_ids[qi]})
    base = index.assigned.filter(F.col("cluster_id").isin(probed_clusters))
    if pred is not None:
        # filtered ANN (hnsw_select.sql:50-51): applied before scoring so
        # the per-query k budget goes to qualifying rows only
        base = base.filter(pred)
    data = widen_partitions(base)
    order_tail = [F.col(id_col).asc()] if id_col else []

    if impl == "auto":
        # arrow scores every kept row against ALL queries; worth it when
        # the wasted factor (~nlist/nprobe) stays within the ~10-20×
        # per-op advantage of vectorized over interpreted scoring.
        # ≥4 queries, matching knn_join's measured crossover: the r14
        # interleaved A/B shows arrow ahead already at nq=4 (paired-
        # delta medians +0.08 s at nq=4/8, +0.17 s at nq=10 on the
        # bench corpus — the query-major kernel rewrite moved the
        # crossover down from the r9-era 16)
        impl = (
            "arrow"
            if len(queries) >= 4
            and metric in ("l2sq", "cos")
            and nprobe * 8 >= index.nlist
            else "expr"
        )

    if impl == "arrow" and metric not in ("l2sq", "cos"):
        raise ValueError("impl='arrow' batch scoring implements l2sq and cos only")
    if impl == "arrow":
        # one matmul per Arrow batch scores the pruned union against ALL
        # queries, and the per-query top-k happens INSIDE the batch (same
        # shape as knn_join's batch path): each batch emits ≤ nq·(k+ties)
        # rows — not the n_kept×nq exploded matrix — restricted to rows
        # whose cluster the query actually probes. The final (dist, id)
        # window over ~k·nq·partitions rows resolves ties exactly.
        nlist, nq = index.nlist, len(queries)
        allowed = np.zeros((nlist, nq), dtype=bool)
        for qi in range(nq):
            allowed[probe_ids[qi], qi] = True
        bc = spark.sparkContext.broadcast((qarr, allowed))
        vec_col = index.vec_col
        out_schema = ", ".join(
            [f"{f.name} {f.dataType.simpleString()}" for f in data.schema.fields]
            + ["q_id int", "dist double"]
        )

        def topk_block(batches):
            qm, allow = bc.value
            qn = np.sqrt((qm**2).sum(1)) if metric == "cos" else None
            for pdf in batches:
                if not len(pdf):
                    continue
                x = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
                eligible = allow[pdf["cluster_id"].to_numpy()]  # (n, nq)
                if metric == "cos":
                    # zero-norm rows/queries have undefined angle — mask
                    # them out of eligibility (distance.py's NULL-dist
                    # convention: they never place in the top-k)
                    denom = np.sqrt((x**2).sum(1))[:, None] * qn[None, :]
                    safe = denom > 0.0
                    d = np.where(
                        safe, 1.0 - (x @ qm.T) / np.where(safe, denom, 1.0), np.inf
                    )
                    eligible = eligible & safe
                else:
                    d = (x**2).sum(1)[:, None] - 2.0 * x @ qm.T + (qm**2).sum(1)[None, :]
                take_idx, take_q, take_d = [], [], []
                for j in range(qm.shape[0]):
                    rows_j = np.flatnonzero(eligible[:, j])
                    if not len(rows_j):
                        continue
                    dj = d[rows_j, j]
                    if k < len(dj):
                        thresh = np.partition(dj, k - 1)[k - 1]
                        keep = dj <= thresh
                        rows_j, dj = rows_j[keep], dj[keep]
                    take_idx.append(rows_j)
                    take_q.append(np.full(len(rows_j), j))
                    take_d.append(dj)
                if not take_idx:
                    continue
                rows = np.concatenate(take_idx)
                out = pdf.iloc[rows].copy()
                out["q_id"] = np.concatenate(take_q)
                out["dist"] = np.concatenate(take_d)
                yield out

        pruned = data.mapInPandas(topk_block, out_schema)
        w = Window.partitionBy("q_id").orderBy(F.col("dist").asc(), *order_tail)
        return (
            pruned.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k)
            .drop("__rn")
        )

    if len(queries) < 4 and np.isfinite(qarr).all():
        # literal-array kernel for tiny batches (r15, VERDICT r14 item 6):
        # below the arrow crossover the broadcast-join shape paid a
        # LocalRelation build + broadcast + join purely to attach 1-3
        # query vectors — fixed driver/plan latency that dominates at
        # this size. Each query becomes one struct of (q_id, distance to
        # a PARSED literal array, its own cluster-eligibility isin);
        # explode + filter replaces the join, all JVM-side, one scan.
        # Measured (interleaved medians, sf0.1): nq=1 0.77->0.46 s,
        # nq=2 0.70->0.56, nq=3 0.75->0.61; rows identical. Non-finite
        # query values (repr would not parse as SQL literals) keep the
        # join shape.
        structs = [
            F.struct(
                F.lit(qi).alias("q_id"),
                distance(
                    metric, index.vec_col,
                    F.expr("array(" + ",".join(
                        repr(float(x)) + "D" for x in qarr[qi]
                    ) + ")"),
                ).alias("dist"),
                F.col("cluster_id").isin(
                    [int(c) for c in probe_ids[qi]]
                ).alias("e"),
            )
            for qi in range(len(queries))
        ]
        pairs = (
            data.select("*", F.explode(F.array(*structs)).alias("__s"))
            # NULL dist (cos zero-norm, distance.py's convention) is
            # undefined order — drop, matching the arrow path's mask
            .filter(F.col("__s.e") & F.col("__s.dist").isNotNull())
            .select(
                "*",
                F.col("__s.q_id").alias("q_id"),
                F.col("__s.dist").alias("dist"),
            )
            .drop("__s")
        )
        w = Window.partitionBy("q_id").orderBy(F.col("dist").asc(), *order_tail)
        return (
            pairs.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k)
            .drop("__rn")
        )

    # (q_id, cluster_id, query vec) relation built ONLY for this join
    # shape — the arrow and literal-kernel paths never touch it (r15)
    rows = [
        (int(qi), int(c), [float(x) for x in qarr[qi]])
        for qi in range(len(queries))
        for c in probe_ids[qi]
    ]
    probes = spark.createDataFrame(rows, "q_id int, cluster_id int, __qv array<double>")
    pairs = data.join(F.broadcast(probes), on="cluster_id")
    pairs = pairs.withColumn("dist", distance(metric, index.vec_col, F.col("__qv")))
    # NULL dist (cos zero-norm, distance.py's convention) is undefined
    # order — drop, matching the arrow path's eligibility mask
    pairs = pairs.filter(F.col("dist").isNotNull())
    w = Window.partitionBy("q_id").orderBy(F.col("dist").asc(), *order_tail)
    return (
        pairs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__qv", "__rn")
    )
