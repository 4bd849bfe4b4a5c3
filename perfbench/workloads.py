"""The three benchmark workloads.

Each workload is one client driving the library's public operators in a
closed loop: the next op starts when the previous one returned.
``setup`` generates the inputs from the seed and prebuilds what the ops
read, ``cycle`` runs one pass of the op mix, ``finish`` runs the
end-of-run checks, and ``metrics`` summarizes. Every op's output is checked
against :mod:`perfbench.oracle`; an op that raises or fails its check
counts as failed and the run goes on.

Sizes are scaled so that a set-up and one cycle fit a run of about 50 s
on a 4-core box (see README.md).
"""

from __future__ import annotations

import os
import sys
import time
import traceback

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen, oracle
from perfbench.stats import median, tail

K = 10
VEC = "embedding"
# an op's output must reach this recall@10 to count as correct: far below
# what these index settings reach on this data, far above what a broken
# route or a wrong id mapping returns
RECALL_FLOOR = 0.5


class CheckFailed(Exception):
    pass


def check(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


def _vec_column(X: np.ndarray) -> pa.Array:
    X = np.ascontiguousarray(X)
    offsets = np.arange(0, X.size + 1, X.shape[1], dtype=np.int32)
    return pa.ListArray.from_arrays(pa.array(offsets), pa.array(X.reshape(-1)))


class Workload:
    name = ""

    def __init__(self, spark, seed: int, workdir: str, tracer):
        self.spark, self.seed, self.workdir, self.tracer = spark, seed, workdir, tracer
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.end_failures: list[str] = []
        self.cycle_walls: list[float] = []
        self.op_walls: list[float] = []  # ops that passed their check
        self.quality: dict[str, list[float]] = {}

    # -- inputs ----------------------------------------------------------
    def frame(self, name: str, cols: dict, persist: bool = True):
        """Write ``cols`` (name -> numpy array, 2-D arrays become vector
        columns) as parquet under the work dir and read it back."""
        path = os.path.join(self.workdir, f"{name}.parquet")
        table = pa.table({
            c: _vec_column(v) if isinstance(v, np.ndarray) and v.ndim == 2 else v
            for c, v in cols.items()
        })
        pq.write_table(table, path)
        df = self.spark.read.parquet(path)
        if persist:
            df = df.persist()
            df.count()
        return df

    # -- ops -------------------------------------------------------------
    def op(self, name: str, fn, check_fn=None) -> float | None:
        """Run one op: time ``fn`` inside a span named ``name``, then run
        ``check_fn(result)`` outside the timed region. Returns the wall
        time, or None when the op failed."""
        self.attempted += 1
        try:
            # the span's own bookkeeping is inside the timed region, so
            # traced walls carry the tracing overhead
            t0 = time.perf_counter()
            try:
                with self.tracer.span(name):
                    out = fn()
            finally:
                wall = time.perf_counter() - t0
                self._cycle_wall += wall
            print(f"op {name} {wall:.3f}s", file=sys.stderr, flush=True)
            if check_fn is not None:
                check_fn(out)
            self.op_walls.append(wall)
            return wall
        except Exception as e:  # noqa: BLE001 - a failed op is data
            self.failed += 1
            self.failures.append(f"{name}: {type(e).__name__}: {e}"[:500])
            if not isinstance(e, CheckFailed):
                traceback.print_exc()
            return None

    def end_check(self, name: str, fn) -> None:
        try:
            fn()
        except Exception as e:  # noqa: BLE001
            self.end_failures.append(f"{name}: {type(e).__name__}: {e}"[:500])
            if not isinstance(e, CheckFailed):
                traceback.print_exc()

    @property
    def failed_frac(self) -> float:
        return self.failed / max(1, self.attempted)

    def note(self, key: str, value: float) -> None:
        self.quality.setdefault(key, []).append(float(value))

    def check_vectors(self, pdf, Q, X, truth, site, dist_col="dist", expected=None):
        """Every query answered with k distinct ids whose reported
        distances (``dist_col``) are the true ones, and recall@k at least
        the floor. ``expected(query rows, ids)`` gives the true distances
        (default: l2sq to ``X``)."""
        check(len(pdf) == len(Q) * K, f"{len(pdf)} rows for {len(Q)} queries")
        pdf = pdf.sort_values(["q_id", dist_col, "vec_id"])
        qi = pdf["q_id"].to_numpy(np.int64)
        ids = pdf["vec_id"].to_numpy(np.int64)
        check(np.array_equal(np.bincount(qi, minlength=len(Q)), np.full(len(Q), K)),
              "some query did not get exactly k rows")
        check(ids.min() >= 0 and ids.max() < len(X), "id out of range")
        got = ids.reshape(len(Q), K)
        check(all(len(set(r)) == K for r in got), "duplicate ids within a query")
        want_d = expected(qi, ids) if expected else oracle.pair_l2sq(X, Q, qi, ids)
        check(np.allclose(pdf[dist_col].to_numpy(np.float64), want_d, rtol=1e-4, atol=1e-3),
              "reported distances are wrong")
        rec = float(np.mean([len(set(g) & set(t)) / K for g, t in zip(got, truth)]))
        self.note(site, rec)
        check(rec >= RECALL_FLOOR, f"recall@{K} {rec:.3f} below {RECALL_FLOOR}")
        return rec

    # -- loop ------------------------------------------------------------
    def finish(self) -> None:
        """End-of-run checks (none by default)."""

    def run_cycle(self) -> float:
        """One pass of the op mix; returns the summed wall of its ops
        (checks excluded). A failed op adds the time it took to fail."""
        self._cycle_wall = 0.0
        self.cycle()
        self.cycle_walls.append(self._cycle_wall)
        return self._cycle_wall


# ---------------------------------------------------------------------------
class EvalBatch(Workload):
    """Offline eval / hard-negative mining: large batch searches over
    prebuilt indexes; executor scoring kernels do most of the work."""

    name = "eval_batch"
    N, NLIST, N_DOCS = 2_000, 32, 2_000
    NQ = {"ivf": 8192, "ivfpq": 2048, "hnsw": 2048, "bm25": 512, "hybrid": 512}
    PQ_SAMPLE = 2048
    BM25_CHECKED = 16
    NPROBE, EF = 8, 64
    HYBRID_W = (1.0, 0.5)

    def setup(self):
        from lanterndb_spark.operators.bm25 import build_postings, corpus_stats
        from lanterndb_spark.operators.hnsw import build_hnsw
        from lanterndb_spark.operators.ivf import IvfPqIndex, build_ivf
        from lanterndb_spark.operators.pq import quantize, train_codebook

        s = self.seed
        self.X = gen.corpus(s, self.N)
        self.base = self.frame("emb", {"vec_id": np.arange(self.N), VEC: self.X})
        d = gen.documents(s, self.N_DOCS)
        self.docs = self.frame("docs", {"doc_id": d.ids, "text": d.texts})
        self.Q = {
            k: gen.queries(s, n, stream=i) for i, (k, n) in enumerate(self.NQ.items())
            if k != "bm25"
        }
        self.Q2 = gen.queries(s, self.NQ["hybrid"], stream=len(self.NQ))
        self.bm25_q = gen.bm25_queries(s, self.NQ["bm25"])
        qids = {k: np.arange(n) for k, n in self.NQ.items()}
        self.qdf = {k: self.frame(f"q_{k}", self._qcols(k, qids[k])) for k in self.NQ}

        self.ivf = build_ivf(self.base, VEC, nlist=self.NLIST, seed=s)
        self.ivf.assigned.cache().count()
        cb = train_codebook(
            self.base, VEC, splits=8, clusters=256, seed=s, sample_limit=self.PQ_SAMPLE).cache()
        cb.count()
        coded = quantize(self.ivf.assigned, VEC, cb).cache()
        coded.count()
        self.ivfpq = IvfPqIndex(coded, self.ivf.centroids, VEC, cb)
        self.hnsw = build_hnsw(self.base, VEC, id_col="vec_id", m=16, ef_construction=64, seed=s)
        self.postings = build_postings(self.docs).cache()
        self.postings.count()
        self.stats = corpus_stats(self.docs)

        self.truth = {k: oracle.exact_topk(self.X, self.Q[k], K) for k in ("ivf", "ivfpq", "hnsw")}
        self.truth["hybrid"] = oracle.exact_topk(
            self.X, self.Q["hybrid"], K, weights=self.HYBRID_W, Q2=self.Q2)
        from lanterndb_spark.functions.text import STOPWORDS
        from lanterndb_spark.operators.bm25 import B, K1

        self.bm25_truth = oracle.bm25_topk(
            d.ids, d.texts, self.bm25_q[: self.BM25_CHECKED], K, K1, B, STOPWORDS)

    def _qcols(self, k, qid):
        if k == "hybrid":
            return {"q_id": qid, "qa": self.Q[k], "qb": self.Q2}
        return {"q_id": qid, "query": self.bm25_q if k == "bm25" else self.Q[k]}

    def cycle(self):
        from lanterndb_spark.operators.bm25 import search_bm25_df
        from lanterndb_spark.operators.hnsw import hnsw_search_df
        from lanterndb_spark.operators.hybrid import weighted_vector_search_df
        from lanterndb_spark.operators.ivf import ivf_search_df, ivfpq_search_df

        def collect(res, cols=None):
            from lanterndb_spark.plans.shape import release

            pdf = (res.select(*cols) if cols else res).toPandas()
            release(res)
            return pdf

        qdf = self.qdf

        def vec_check(kind, site):
            return lambda pdf: self.check_vectors(
                pdf, self.Q[kind], self.X, self.truth[kind], site)

        self.op("ivf.ivf_search_df", lambda: collect(ivf_search_df(
            self.ivf, qdf["ivf"], k=K, nprobe=self.NPROBE, id_col="vec_id")),
            vec_check("ivf", "ivf.ivf_search_df.recall_at_10"))
        self.op("ivf.ivfpq_search_df", lambda: collect(ivfpq_search_df(
            self.ivfpq, self.ivfpq.codebook, qdf["ivfpq"], k=K, nprobe=self.NPROBE,
            id_col="vec_id")),
            vec_check("ivfpq", "ivf.ivfpq_search_df.recall_at_10"))
        self.op("hnsw.hnsw_search_df", lambda: collect(hnsw_search_df(
            self.hnsw, qdf["hnsw"], k=K, ef=self.EF)),
            vec_check("hnsw", "hnsw.hnsw_search_df.recall_at_10"))
        self.op("bm25.search_bm25_df", lambda: collect(search_bm25_df(
            self.docs, qdf["bm25"], limit=K, postings=self.postings, stats=self.stats)),
            self.check_bm25)
        w = self.HYBRID_W
        self.op("hybrid.weighted_vector_search_df", lambda: collect(
            weighted_vector_search_df(
                self.base, [(w[0], VEC, "qa"), (w[1], VEC, "qb")], qdf["hybrid"],
                id_col="vec_id", limit=K, indexes={VEC: self.ivf}, nprobe=self.NPROBE),
            ["q_id", "vec_id", "joint_dist"]),
            self.check_hybrid)

    def check_bm25(self, pdf):
        n_q = pdf["q_id"].nunique()
        check(n_q >= self.BM25_CHECKED, f"only {n_q} bm25 queries answered")
        for qi, want in self.bm25_truth.items():
            sub = pdf[pdf["q_id"] == qi].sort_values(["bm25", "doc_id"], ascending=[False, True])
            got = list(zip(sub["doc_id"].astype(int), sub["bm25"].astype(float)))
            check(oracle.same_topk(got, want), f"bm25 query {qi} differs from DuckDB")

    def check_hybrid(self, pdf):
        Qa, Qb, w = self.Q["hybrid"], self.Q2, self.HYBRID_W

        def joint(qi, ids):
            return w[0] * oracle.pair_l2sq(self.X, Qa, qi, ids) + w[1] * oracle.pair_l2sq(
                self.X, Qb, qi, ids)

        self.check_vectors(pdf, Qa, self.X, self.truth["hybrid"],
                           "hybrid.weighted_vector_search_df.overlap_at_10", "joint_dist", joint)

    def metrics(self) -> dict:
        walls = self.cycle_walls
        qps = sum(self.NQ.values()) * len(walls) / sum(walls)
        rec = float(np.mean([median(self.quality.get(f"{s}.recall_at_10", [])) for s in (
            "ivf.ivf_search_df", "ivf.ivfpq_search_df", "hnsw.hnsw_search_df")]))
        return (
            {"throughput": qps, "latency_p50_s": median(self.op_walls), "recall_at_10": rec},
            {"eval.qps": (qps, "1/s"), "eval.recall_at_10": (rec, "ratio")},
        )


# ---------------------------------------------------------------------------
class IngestStream(Workload):
    """Streaming ingest: micro-batches through two graph writers, with
    small reads of the live graph between them; the driver and Spark's
    per-job cost do most of the work."""

    name = "ingest_stream"
    N_BASE, BATCH, MAX_BATCHES = 2_000, 200, 40
    # two micro-batches give the per-run medians eight reads and two writes
    BATCHES_PER_CYCLE = 2
    READS, READ_Q, EF = 4, 16, 64
    FINAL_Q = 64

    def setup(self):
        s = self.seed
        X0 = gen.corpus(s, self.N_BASE)
        self.tail = gen.ingest_tail(s, X0, self.BATCH * self.MAX_BATCHES)
        self.X = np.concatenate([X0, self.tail.X])
        base = self.frame("base", {"vec_id": np.arange(self.N_BASE), VEC: X0})
        n_tail = len(self.tail.X)
        self.tail_df = self.frame("tail", {
            "vec_id": self.N_BASE + np.arange(n_tail),
            VEC: self.tail.X,
            "batch": np.arange(n_tail) // self.BATCH,
        }, persist=False)
        self.ingest, self.sem = self._handles(base)
        self.write_hnsw, self.write_sem = self.ingest.writer(), self.sem.writer()
        self.fresh_q = gen.queries(s, self.READ_Q * self.READS * self.MAX_BATCHES, stream=7)
        self.twins_by_batch: dict[int, list] = {}
        for src, twin in self.tail.twins:
            self.twins_by_batch.setdefault((twin - self.N_BASE) // self.BATCH, []).append(
                (src, twin))
        self.batches = 0
        self.write_walls: list[float] = []
        self.read_walls: list[float] = []

    def _handles(self, base):
        from lanterndb_spark.operators.hnsw import build_hnsw
        from lanterndb_spark.streaming.hnsw import hnsw_ingest_stream
        from lanterndb_spark.streaming.semdedup import semantic_dedup_ingest_stream

        kw = dict(id_col="vec_id", m=16, ef_construction=64, seed=self.seed)
        return (
            hnsw_ingest_stream(build_hnsw(base, VEC, **kw)),
            semantic_dedup_ingest_stream(
                "vec_id", VEC, index=build_hnsw(base, VEC, metric="cos", **kw)),
        )

    def _qdf(self, Q):
        import pandas as pd

        return self.spark.createDataFrame(
            pd.DataFrame({"q_id": np.arange(len(Q)), "query": list(Q)}),
            "q_id long, query array<double>")

    def cycle(self):
        for _ in range(self.BATCHES_PER_CYCLE):
            self._micro_batch()

    def _micro_batch(self):
        """One op: both writers, then the reads."""
        b = self.batches
        if b >= self.MAX_BATCHES:
            raise RuntimeError("ingest tail exhausted; raise MAX_BATCHES")
        self.batches += 1
        lo = self.N_BASE + b * self.BATCH
        n_live = lo + self.BATCH
        batch = self.tail_df.filter(f"batch = {b}").select("vec_id", VEC)
        reads = []
        for r in range(self.READS):
            if r % 2 == 0:  # self-queries of rows this batch inserts
                ids = lo + (np.arange(self.READ_Q) * 31 + r) % self.BATCH
            else:
                j = (b * self.READS + r) * self.READ_Q
                ids = None
            Q = self.X[ids].astype(np.float64) if ids is not None else self.fresh_q[j:j + self.READ_Q]
            reads.append((ids, Q, self._qdf(Q)))

        walls = [
            self.op("streaming.hnsw.writer", lambda: self.write_hnsw(batch, b),
                    lambda _: self.check_rows(n_live)),
            self.op("streaming.semdedup.writer", lambda: self.write_sem(batch, b),
                    lambda _: self.check_twins(b)),
        ]
        if None not in walls:  # both writers, per micro-batch
            self.write_walls.append(sum(walls))
        for ids, Q, qdf in reads:
            w = self.op(
                "hnsw.hnsw_search_df",
                lambda qdf=qdf: self.ingest.search_df(qdf, k=K, ef=self.EF).toPandas(),
                lambda pdf, ids=ids, Q=Q: self.check_read(pdf, ids, Q, n_live))
            if w is not None:
                self.read_walls.append(w)

    def check_rows(self, n_live):
        from pyspark.sql import functions as F

        n = self.ingest.index.graphs.agg(F.sum("n")).first()[0]
        check(n == n_live, f"index holds {n} rows, expected {n_live}")

    def check_twins(self, b):
        from pyspark.sql import functions as F

        want = self.twins_by_batch.get(b, [])
        if not want:
            return
        got = {
            (r["id_a"], r["id_b"]) for r in self.sem.all_pairs()
            .filter(F.col("id_b").isin([t for _, t in want])).select("id_a", "id_b").collect()
        }
        missing = [p for p in want if p not in got]
        check(not missing, f"planted twins not emitted: {missing[:5]}")

    def check_read(self, pdf, ids, Q, n_live):
        X = self.X[:n_live]
        if ids is not None:  # freshness: each row finds itself at distance 0
            for qi, rid in enumerate(ids):
                hit = pdf[(pdf["q_id"] == qi) & (pdf["vec_id"] == rid)]
                check(len(hit) == 1 and float(hit["dist"].iloc[0]) <= 1e-6,
                      f"just-inserted row {rid} not found by its own vector")
        truth = oracle.exact_topk(X, Q, K)
        self.check_vectors(pdf, Q, X, truth, "hnsw.hnsw_search_df.recall_at_10")

    def finish(self):
        n_live = self.N_BASE + self.batches * self.BATCH

        def final_recall():
            Q = gen.queries(self.seed, self.FINAL_Q, stream=8)
            pdf = self.ingest.search_df(self._qdf(Q), k=K, ef=self.EF).toPandas()
            truth = oracle.exact_topk(self.X[:n_live], Q, K)
            pdf = pdf.sort_values(["q_id", "dist", "vec_id"])
            got = pdf["vec_id"].to_numpy(np.int64).reshape(len(Q), K)
            self.final_recall = float(np.mean(
                [len(set(g) & set(t)) / K for g, t in zip(got, truth)]))
            check(self.final_recall >= RECALL_FLOOR, f"final recall {self.final_recall:.3f}")

        def dup_recall():
            planted = [p for p in self.tail.twins if p[1] < n_live]
            got = {(r["id_a"], r["id_b"]) for r in self.sem.all_pairs().select(
                "id_a", "id_b").collect()}
            self.dup_recall = sum(p in got for p in planted) / max(1, len(planted))
            check(self.dup_recall >= 0.9, f"dup recall {self.dup_recall:.3f}")

        self.final_recall = self.dup_recall = 0.0
        self.end_check("ingest.recall_at_10", final_recall)
        self.end_check("ingest.dup_recall", dup_recall)

    def metrics(self) -> dict:
        rows = self.BATCH * self.BATCHES_PER_CYCLE * len(self.cycle_walls)
        rows_per_s = rows / sum(self.cycle_walls)
        t = tail(self.read_walls)
        detail = {
            "ingest.rows_per_s": (rows_per_s, "1/s"),
            "ingest.write_p50_s": (median(self.write_walls), "s"),
            "ingest.read_p50_s": (median(self.read_walls), "s"),
            "ingest.recall_at_10": (self.final_recall, "ratio"),
            "ingest.dup_recall": (self.dup_recall, "ratio"),
        }
        # null while no percentile has 10 reads beyond it
        detail["ingest.read_tail_s"] = (t and t[0], "s")
        detail["ingest.read_tail_pct"] = (t and t[1], "%")
        detail["ingest.read_tail_samples"] = (len(self.read_walls), "count")
        return {
            "throughput": rows_per_s,
            "latency_p50_s": median(self.read_walls),
            "recall_at_10": self.final_recall,
        }, detail


# ---------------------------------------------------------------------------
class IndexBuild(Workload):
    """Offline construction: every cycle rebuilds each index from scratch;
    k-means, graph build and the postings/minhash shuffles do the work."""

    name = "index_build"
    N, NLIST, N_DOCS = 2_000, 32, 2_000
    RECALL_Q, EF = 64, 64
    AUTOTUNE = dict(k=K, nprobe_grid=(1, 2, 4, 8), impl_grid=("arrow",), n_queries=64)

    def setup(self):
        from lanterndb_spark.functions.text import STOPWORDS

        s = self.seed
        self.X = gen.corpus(s, self.N)
        self.base = self.frame("emb", {"vec_id": np.arange(self.N), VEC: self.X})
        d = gen.documents(s, self.N_DOCS)
        self.doc_twins = set(d.twins)
        self.n_terms = len({t for x in d.texts for t in x.split()} - set(STOPWORDS))
        self.docs = self.frame("docs", {"doc_id": d.ids, "text": d.texts})
        self.Q = gen.queries(s, self.RECALL_Q, stream=9)
        self.qdf = self.frame("q", {"q_id": np.arange(self.RECALL_Q), "query": self.Q})
        self.truth = oracle.exact_topk(self.X, self.Q, K)
        self.built: list = []

    def cycle(self):
        from pyspark.sql import functions as F

        from lanterndb_spark.operators.autotune import autotune_ivf_batch
        from lanterndb_spark.operators.bm25 import build_postings
        from lanterndb_spark.operators.dedup import minhash_lsh_pairs
        from lanterndb_spark.operators.hnsw import build_hnsw, hnsw_search_df
        from lanterndb_spark.operators.ivf import build_ivf
        from lanterndb_spark.operators.pq import quantize, train_codebook
        from lanterndb_spark.plans.shape import release

        for df in self.built:  # the previous cycle's indexes
            df.unpersist()
        self.built = []
        s, out = self.seed, {}

        def keep(df):
            df = df.cache()
            out["n"] = df.count()
            self.built.append(df)
            return df

        def ivf():
            out["ivf"] = idx = build_ivf(self.base, VEC, nlist=self.NLIST, seed=s)
            keep(idx.assigned)
            return idx

        def ivf_ok(idx):
            check(out["n"] == self.N, f"ivf assigned {out['n']} rows")
            lo, hi = idx.assigned.agg(F.min("cluster_id"), F.max("cluster_id")).first()
            check(idx.centroids.shape == (self.NLIST, gen.DIM) and lo >= 0 and hi < self.NLIST,
                  "bad ivf layout")

        def codebook():
            out["cb"] = keep(train_codebook(self.base, VEC, splits=8, clusters=256, seed=s))

        def codebook_ok(_):
            got = out["cb"].agg(F.countDistinct("subvector_id"), F.count("*")).first()
            check(tuple(got) == (8, 8 * 256), f"codebook shape {tuple(got)}")

        def coded():
            keep(quantize(out["ivf"].assigned, VEC, out["cb"]))

        def coded_ok(_):
            check(out["n"] == self.N, f"quantized {out['n']} rows")

        def graph():
            out["hnsw"] = h = build_hnsw(
                self.base, VEC, id_col="vec_id", m=16, ef_construction=64, seed=s)
            self.built.append(h.graphs)
            return h

        def graph_ok(h):
            n = h.graphs.agg(F.sum("n")).first()[0]
            check(n == self.N, f"hnsw holds {n} rows")
            # the recall probe searches, so it stays out of the timed build
            pdf = hnsw_search_df(h, self.qdf, k=K, ef=self.EF).toPandas()
            self.check_vectors(pdf, self.Q, self.X, self.truth, "build.recall_at_10")

        def postings():
            keep(build_postings(self.docs))

        def postings_ok(_):
            check(out["n"] == self.n_terms, f"{out['n']} posting lists, {self.n_terms} terms")

        def minhash():
            res = minhash_lsh_pairs(self.docs, "doc_id", "text", threshold=0.5)
            pdf = res.select("id_a", "id_b").toPandas()
            release(res)
            return pdf

        def minhash_ok(pdf):
            got = set(zip(pdf["id_a"].astype(int), pdf["id_b"].astype(int)))
            rec = sum(p in got for p in self.doc_twins) / len(self.doc_twins)
            self.note("dedup.minhash_lsh_pairs.twin_recall", rec)
            check(rec >= 0.9, f"minhash found {rec:.3f} of planted twins")

        def autotune():
            return autotune_ivf_batch(
                self.base, VEC, "vec_id", nlist_grid=(self.NLIST,), seed=s, **self.AUTOTUNE)

        def autotune_ok(res):
            _best, grid = res
            check(len(grid) == len(self.AUTOTUNE["nprobe_grid"]), f"{len(grid)} grid points")
            recs = [r.recall for r in sorted(grid, key=lambda r: r.params["nprobe"])]
            check(all(a <= b + 1e-9 for a, b in zip(recs, recs[1:])),
                  f"recall falls as nprobe grows: {recs}")

        steps = [
            ("ivf.build_ivf", ivf, ivf_ok),
            ("pq.train_codebook", codebook, codebook_ok),
            ("pq.quantize", coded, coded_ok),
            ("hnsw.build_hnsw", graph, graph_ok),
            ("bm25.build_postings", postings, postings_ok),
            ("dedup.minhash_lsh_pairs", minhash, minhash_ok),
            ("autotune.autotune_ivf_batch", autotune, autotune_ok),
        ]
        for name, fn, ok in steps:
            self.op(name, fn, ok)

    def metrics(self) -> dict:
        cyc = median(self.cycle_walls)
        rec = median(self.quality.get("build.recall_at_10", [0.0]))
        return {
            "throughput": self.N / cyc,
            "latency_p50_s": median(self.op_walls),
            "recall_at_10": rec,
        }, {
            "build.cycle_s": (cyc, "s"),
            "build.recall_at_10": (rec, "ratio"),
        }


WORKLOADS = {w.name: w for w in (EvalBatch, IngestStream, IndexBuild)}
