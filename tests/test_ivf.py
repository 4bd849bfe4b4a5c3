import numpy as np
import pytest
from pyspark.sql import functions as F

from lanterndb_spark.operators.autotune import autotune_ivf, recall_at_k, validate_ann
from lanterndb_spark.operators.ivf import build_ivf, ivf_search, load_ivf, save_ivf
from lanterndb_spark.operators.knn import knn


@pytest.fixture(scope="module")
def emb(tables):
    return tables["embeddings"]


@pytest.fixture(scope="module")
def index(emb):
    idx = build_ivf(emb, "embedding", nlist=8, seed=42)
    idx.assigned.cache().count()
    return idx


def qvec(emb, i):
    return [float(x) for x in emb.filter(F.col("vec_id") == i).first()["embedding"]]


def test_build_assigns_all_rows(emb, index):
    assert index.assigned.count() == emb.count()
    assert index.nlist == 8
    assert index.assigned.select("cluster_id").distinct().count() <= 8


def test_full_probe_equals_exact(emb, index):
    q = qvec(emb, 11)
    ann = [r["vec_id"] for r in ivf_search(index, q, k=10, nprobe=8, id_col="vec_id").collect()]
    exact = [r["vec_id"] for r in knn(emb, "embedding", q, k=10, id_col="vec_id").collect()]
    assert ann == exact  # nprobe == nlist degrades to exact scan


def test_partial_probe_recall(emb, index):
    rec = validate_ann(
        emb, "embedding", "vec_id",
        lambda q, k: ivf_search(index, q, k=k, nprobe=4, id_col="vec_id"),
        k=10, n_queries=5,
    )
    assert rec >= 0.6


def test_save_load_partition_pruning(emb, index, tmp_path, spark):
    path = str(tmp_path / "ivf")
    save_ivf(index, path)
    loaded = load_ivf(spark, path, "embedding")
    q = qvec(emb, 3)
    a = [r["vec_id"] for r in ivf_search(index, q, k=5, nprobe=8, id_col="vec_id").collect()]
    b = [r["vec_id"] for r in ivf_search(loaded, q, k=5, nprobe=8, id_col="vec_id").collect()]
    assert a == b
    # the probe filter must reach the scan as a partition filter
    cand = loaded.assigned.filter(F.col("cluster_id").isin([0, 1]))
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cluster_id" in plan


def test_recall_helper():
    assert recall_at_k([1, 2, 3], [1, 2, 4]) == pytest.approx(2 / 3)
    assert recall_at_k([], []) == 1.0


def test_autotune_grid(emb):
    best, results = autotune_ivf(
        emb, "embedding", "vec_id", k=5,
        nlist_grid=(2, 4), nprobe_grid=(1, 2, 4), n_queries=3, target_recall=0.5,
    )
    assert len(results) >= 4
    # nprobe == nlist rows must have recall 1.0 (exact degradation)
    for r in results:
        if r.params["nprobe"] == r.params["nlist"]:
            assert r.recall == pytest.approx(1.0)
    assert best is not None and best.recall >= 0.5


def test_batch_search_matches_loop(emb, index):
    from lanterndb_spark.operators.ivf import ivf_search_batch

    qs = [qvec(emb, i) for i in (3, 11, 17)]
    batch = ivf_search_batch(index, qs, k=5, nprobe=4, id_col="vec_id").collect()
    by_q = {}
    for r in sorted(batch, key=lambda r: (r["q_id"], r["dist"], r["vec_id"])):
        by_q.setdefault(r["q_id"], []).append(r["vec_id"])
    for qi, q in enumerate(qs):
        loop = [r["vec_id"] for r in ivf_search(index, q, k=5, nprobe=4, id_col="vec_id").collect()]
        assert by_q[qi] == loop


def test_ivfpq_matches_ivf_at_high_refine(emb, index):
    from lanterndb_spark.operators.ivf import IvfIndex, ivfpq_search
    from lanterndb_spark.operators.pq import quantize, train_codebook

    cb = train_codebook(emb, "embedding", splits=8, clusters=16, seed=42)
    coded = quantize(index.assigned, "embedding", cb)
    idx2 = IvfIndex(coded, index.centroids, "embedding")
    q = qvec(emb, 11)
    # refine window large enough that the exact re-rank sees everything
    # the plain IVF search would: results must match exactly
    n_cand = coded.filter(
        coded.cluster_id.isin([0, 1, 2, 3, 4, 5, 6, 7])
    ).count()
    got = [
        r["vec_id"]
        for r in ivfpq_search(
            idx2, cb, q, k=10, nprobe=8, refine=(n_cand // 10) + 1, id_col="vec_id"
        ).collect()
    ]
    exact = [r["vec_id"] for r in ivf_search(index, q, k=10, nprobe=8, id_col="vec_id").collect()]
    assert got == exact


def test_ivfpq_reasonable_recall_small_refine(emb, index):
    from lanterndb_spark.operators.autotune import recall_at_k
    from lanterndb_spark.operators.ivf import IvfIndex, ivfpq_search
    from lanterndb_spark.operators.pq import quantize, train_codebook

    cb = train_codebook(emb, "embedding", splits=8, clusters=16, seed=42)
    coded = quantize(index.assigned, "embedding", cb)
    idx2 = IvfIndex(coded, index.centroids, "embedding")
    recs = []
    for i in (3, 11, 17):
        q = qvec(emb, i)
        got = [r["vec_id"] for r in ivfpq_search(idx2, cb, q, k=10, nprobe=8, refine=4, id_col="vec_id").collect()]
        exact = [r["vec_id"] for r in knn(emb, "embedding", q, k=10, id_col="vec_id").collect()]
        recs.append(recall_at_k(got, exact))
    # dim-16 fixture → 2-dim subspaces: very coarse codes; at real dims the
    # ADC ranking is much tighter. Far above random (10/200 = 0.05) is the
    # meaningful bound here; exactness is pinned by the high-refine test.
    assert sum(recs) / len(recs) >= 0.5


def test_autotune_srp_grid(emb):
    from lanterndb_spark.operators.autotune import autotune_srp

    best, results = autotune_srp(
        emb, "embedding", "vec_id", k=5,
        nbits_grid=(64, 128), oversample_grid=(5, 40),
        n_queries=3, target_recall=0.5,
    )
    assert len(results) == 4
    # more bits + bigger oversample can't hurt mean recall on average —
    # check the extreme corners instead of every pair
    by = {(r.params["nbits"], r.params["oversample"]): r.recall for r in results}
    assert by[(128, 40)] >= by[(64, 5)]
    assert best is None or best.recall >= 0.5


def test_ivf_batch_arrow_matches_expr(emb, index):
    from lanterndb_spark.operators.ivf import ivf_search_batch

    qs = [qvec(emb, i) for i in (3, 11, 17, 29, 41)]
    for metric in ("l2sq", "cos"):
        a = ivf_search_batch(
            index, qs, k=5, nprobe=4, metric=metric, id_col="vec_id", impl="expr"
        ).collect()
        b = ivf_search_batch(
            index, qs, k=5, nprobe=4, metric=metric, id_col="vec_id", impl="arrow"
        ).collect()
        ka = sorted((r["q_id"], r["vec_id"]) for r in a)
        kb = sorted((r["q_id"], r["vec_id"]) for r in b)
        assert ka == kb


def test_empty_build_and_search(spark):
    from lanterndb_spark.operators.ivf import build_ivf, ivf_search

    empty = spark.createDataFrame([], "vec_id bigint, embedding array<float>")
    idx = build_ivf(empty, "embedding", nlist=4)
    assert idx.nlist == 0
    assert idx.assigned.count() == 0
    out = ivf_search(idx, [0.0, 0.0], k=5, nprobe=1, id_col="vec_id")
    assert out.count() == 0


def test_ivf_batch_filtered_matches_exact(tables):
    """Filtered batch ANN at full probe == exact filtered knn per query."""
    from lanterndb_spark.operators.ivf import build_ivf, ivf_search_batch
    from lanterndb_spark.operators.knn import knn

    emb = tables["embeddings"]
    idx = build_ivf(emb, "embedding", nlist=4, seed=42)
    qs = [[float(x) for x in r["embedding"]]
          for r in emb.filter(F.col("vec_id") < 3).collect()]
    pred = F.col("label") == 3
    got = ivf_search_batch(
        idx, qs, k=5, nprobe=4, id_col="vec_id", pred=pred
    ).collect()
    assert got and all(r["label"] == 3 for r in got)
    by_q = {}
    for r in sorted(got, key=lambda r: (r["q_id"], r["dist"], r["vec_id"])):
        by_q.setdefault(r["q_id"], []).append(r["vec_id"])
    for qi, q in enumerate(qs):
        exact = [r["vec_id"] for r in
                 knn(emb.filter(pred), "embedding", q, k=5, id_col="vec_id").collect()]
        assert by_q[qi] == exact


# -------------------------------------------------- IVF + SQ8 composite

def test_ivfsq_exact_at_full_probe_and_refine(emb, index):
    from lanterndb_spark.operators.ivf import IvfIndex, ivfsq_search
    from lanterndb_spark.operators.sq import sq8_quantize

    q = qvec(emb, 3)
    n = emb.count()
    coded = IvfIndex(sq8_quantize(index.assigned, "embedding"),
                     index.centroids, "embedding")
    got = ivfsq_search(coded, q, k=10, nprobe=8, refine=(n + 9) // 10,
                       id_col="vec_id")
    want = knn(emb, "embedding", q, k=10, id_col="vec_id")
    assert [r["vec_id"] for r in got.collect()] == \
           [r["vec_id"] for r in want.collect()]


def test_ivfsq_recall_small_refine(emb, index):
    from lanterndb_spark.operators.ivf import IvfIndex, ivfsq_search
    from lanterndb_spark.operators.sq import sq8_quantize

    q = qvec(emb, 5)
    coded = IvfIndex(sq8_quantize(index.assigned, "embedding"),
                     index.centroids, "embedding")
    got = {r["vec_id"]
           for r in ivfsq_search(coded, q, k=10, nprobe=8, refine=4,
                                 id_col="vec_id").collect()}
    want = {r["vec_id"] for r in knn(emb, "embedding", q, k=10,
                                     id_col="vec_id").collect()}
    # int8 coarse scan at refine=4 keeps nearly all true neighbors
    # (SQ8 distance error is ~1/127 relative, far finer than PQ's)
    assert len(got & want) >= 8


def test_ivfsq_batch_matches_single_query(emb, index):
    from lanterndb_spark.operators.ivf import (
        IvfIndex, ivfsq_search, ivfsq_search_batch,
    )
    from lanterndb_spark.operators.sq import sq8_quantize

    coded = IvfIndex(sq8_quantize(index.assigned, "embedding"),
                     index.centroids, "embedding")
    qs = [qvec(emb, 1), qvec(emb, 7)]
    batch = ivfsq_search_batch(coded, qs, k=5, nprobe=4, refine=4,
                               id_col="vec_id")
    by_q = {}
    for r in batch.collect():
        by_q.setdefault(r["q_id"], []).append(r["vec_id"])
    for qi, q in enumerate(qs):
        single = [r["vec_id"] for r in
                  ivfsq_search(coded, q, k=5, nprobe=4, refine=4,
                               id_col="vec_id").collect()]
        assert by_q[qi] == single


def test_autotune_ivfsq_finds_target(emb):
    from lanterndb_spark.operators.autotune import autotune_ivfsq

    best, results = autotune_ivfsq(
        emb, "embedding", "vec_id", k=10,
        nlist_grid=(8,), nprobe_grid=(2, 8), refine_grid=(4,),
        n_queries=4, target_recall=0.9,
    )
    assert best is not None and best.recall >= 0.9
    # full probe at refine=4 dominates the grid's recall
    assert best.params["nprobe"] in (2, 8)
    assert len(results) == 2


# ---------------------------------------------------------------- search_df


def _qdf(emb, ids):
    return emb.filter(F.col("vec_id").isin(ids)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("query")
    )


def test_search_df_matches_single_query(emb, index):
    """DataFrame-native batch == the per-query driver form, probe for
    probe (same argsort routing), at partial AND full nprobe."""
    from lanterndb_spark.operators.ivf import ivf_search_df

    ids = [3, 11, 17]
    for nprobe in (4, 8):
        got = {}
        rows = ivf_search_df(
            index, _qdf(emb, ids), k=5, nprobe=nprobe, id_col="vec_id"
        ).collect()
        for r in sorted(rows, key=lambda r: (r["q_id"], r["dist"], r["vec_id"])):
            got.setdefault(r["q_id"], []).append(r["vec_id"])
        for qid in ids:
            loop = [
                r["vec_id"]
                for r in ivf_search(
                    index, qvec(emb, qid), k=5, nprobe=nprobe, id_col="vec_id"
                ).collect()
            ]
            assert got[qid] == loop


def test_search_df_prune_off_same_answer(emb, index):
    from lanterndb_spark.operators.ivf import ivf_search_df

    a = ivf_search_df(
        index, _qdf(emb, [3, 11]), k=5, nprobe=4, id_col="vec_id"
    ).collect()
    b = ivf_search_df(
        index, _qdf(emb, [3, 11]), k=5, nprobe=4, id_col="vec_id", prune=False
    ).collect()
    key = lambda r: (r["q_id"], r["dist"], r["vec_id"])
    assert sorted(a, key=key) == sorted(b, key=key)


def test_search_df_string_qid(emb, index, spark):
    """q_ids pass through in their native column type (no positional
    remap, no bigint assumption — VERDICT r8 What's-wrong 5)."""
    from lanterndb_spark.operators.ivf import ivf_search_df

    qdf = _qdf(emb, [3, 11]).select(
        F.concat(F.lit("q-"), F.col("q_id")).alias("q_id"), "query"
    )
    rows = ivf_search_df(index, qdf, k=3, nprobe=8, id_col="vec_id").collect()
    assert {r["q_id"] for r in rows} == {"q-3", "q-11"}
    assert all(isinstance(r["q_id"], str) for r in rows)


def test_search_df_empty_queries(emb, index, spark):
    """Empty batch returns an empty frame with a stable schema (the old
    driver-list route raised IndexError — VERDICT r8 What's-wrong 5)."""
    from lanterndb_spark.operators.ivf import ivf_search_df

    qdf = _qdf(emb, [3]).limit(0)
    out = ivf_search_df(index, qdf, k=3, nprobe=4, id_col="vec_id")
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["q_id", "vec_id", "dist"]


def test_search_df_pred_composes(emb, index):
    """Filtered batch at full probe == exact knn over the pre-filtered
    table (pred applied BEFORE scoring, hnsw_select.sql:50-51)."""
    from lanterndb_spark.operators.ivf import ivf_search_df

    pred = F.col("vec_id") % 2 == 0
    rows = ivf_search_df(
        index, _qdf(emb, [11]), k=5, nprobe=8, id_col="vec_id", pred=pred
    ).collect()
    got = [r["vec_id"] for r in sorted(rows, key=lambda r: (r["dist"], r["vec_id"]))]
    exact = [
        r["vec_id"]
        for r in knn(
            emb.filter(pred), "embedding", qvec(emb, 11), k=5, id_col="vec_id"
        ).collect()
    ]
    assert got == exact


def test_search_df_empty_index(emb, spark):
    from lanterndb_spark.operators.ivf import build_ivf, ivf_search_df

    idx = build_ivf(emb.limit(0), "embedding", nlist=4)
    out = ivf_search_df(idx, _qdf(emb, [3]), k=3, id_col="vec_id")
    assert out.count() == 0


def test_knn_batch_ivf_empty_and_large_nprobe(tables, spark):
    """The table route survives an empty batch and unbounded q counts
    (no 100k ValueError guard any more — the contract is now the same
    as the hnsw route's)."""
    from lanterndb_spark.table import LanternTable

    emb = tables["embeddings"]
    t = LanternTable(emb, "vec_id").create_index(
        "embedding", kind="ivf", nlist=4, seed=42
    )
    qdf = _qdf(emb, [3]).limit(0)
    assert t.knn_batch("embedding", qdf, k=3, nprobe=4).count() == 0


def test_search_df_arrow_matches_expr(emb, index):
    """Salted-cogroup matmul kernel == codegen expr join, probe for
    probe and metric for metric (boundary ties resolved by the shared
    (dist, id) window)."""
    from lanterndb_spark.operators.ivf import ivf_search_df

    cases = [
        (4, "l2sq", None), (8, "l2sq", None), (4, "cos", None),
        (8, "cos", None),
        # filtered ANN composes BEFORE scoring in both impls
        (8, "l2sq", F.col("label") == 3),
    ]
    for nprobe, metric, pred in cases:
        a = ivf_search_df(
            index, _qdf(emb, [3, 11, 17]), k=5, nprobe=nprobe,
            metric=metric, id_col="vec_id", impl="expr", pred=pred,
        ).collect()
        b = ivf_search_df(
            index, _qdf(emb, [3, 11, 17]), k=5, nprobe=nprobe,
            metric=metric, id_col="vec_id", impl="arrow", salt=3, pred=pred,
        ).collect()
        if pred is not None:
            assert a  # the predicate must not empty the result
        assert sorted(
            [(r["q_id"], r["vec_id"], round(r["dist"], 9)) for r in a]
        ) == sorted(
            [(r["q_id"], r["vec_id"], round(r["dist"], 9)) for r in b]
        )


def test_search_df_arrow_rejects_unsupported_metric(emb, index):
    from lanterndb_spark.operators.ivf import ivf_search_df

    with pytest.raises(ValueError, match="l2sq and cos"):
        ivf_search_df(
            index, _qdf(emb, [3]), k=3, metric="l2", id_col="vec_id",
            impl="arrow",
        )


def test_search_df_arrow_cos_zero_norm(spark):
    """Zero-norm base rows and queries drop in BOTH impls (undefined
    angle = NULL dist, distance.py's cos convention)."""
    from lanterndb_spark.operators.ivf import build_ivf, ivf_search_df

    rows = [(i, [float(i + 1), float(2 * i + 1)]) for i in range(12)]
    rows.append((99, [0.0, 0.0]))  # zero-norm base row
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    idx = build_ivf(df, "embedding", nlist=2, seed=7)
    qdf = spark.createDataFrame(
        [(0, [1.0, 3.0]), (1, [0.0, 0.0])], "q_id bigint, query array<double>"
    )
    for impl in ("expr", "arrow"):
        out = ivf_search_df(
            idx, qdf, k=4, nprobe=2, metric="cos", id_col="vec_id", impl=impl
        ).collect()
        assert {r["q_id"] for r in out} == {0}  # zero-norm query drops
        assert all(r["vec_id"] != 99 for r in out)  # zero-norm row drops


def test_search_df_rejects_bad_salt(emb, index):
    from lanterndb_spark.operators.ivf import ivf_search_df

    with pytest.raises(ValueError, match="salt"):
        ivf_search_df(index, _qdf(emb, [3]), k=3, id_col="vec_id", salt=0)


def test_search_df_evaluates_queries_once(emb, index, spark):
    """With prune on, the queries lineage must be evaluated exactly once
    (the routed frame is cached; the prune stats and the scoring route
    share it) — a side-effect-counting query source proves it."""
    from lanterndb_spark.operators.ivf import ivf_search_df
    from lanterndb_spark.plans.shape import release

    calls = spark.sparkContext.accumulator(0)

    @F.udf("array<double>")
    def tracked(v):
        calls.add(1)
        return v

    qdf = _qdf(emb, [3, 11, 17]).select(
        "q_id", tracked(F.col("query")).alias("query")
    )
    out = ivf_search_df(index, qdf, k=5, nprobe=4, id_col="vec_id")
    rows = out.collect()
    release(out)
    assert rows  # the search itself worked
    assert calls.value == 3  # one evaluation per query row, not two


def test_autotune_ivf_batch_grid(emb):
    """Batch-throughput grid: full probe measures recall 1.0 on BOTH
    scoring kernels, recall per (nlist, nprobe) is impl-invariant (the
    batch form equals the driver-list form exactly), and the selected
    best meets the caller's target with a recorded batch wall time."""
    from lanterndb_spark.operators.autotune import autotune_ivf_batch

    best, results = autotune_ivf_batch(
        emb, "embedding", "vec_id", k=10,
        nlist_grid=(4,), nprobe_grid=(1, 4), impl_grid=("expr", "arrow"),
        n_queries=6, target_recall=0.5,
    )
    assert len(results) == 4  # 1 nlist x 2 nprobe x 2 impl x 1 salt
    full = [r for r in results if r.params["nprobe"] >= r.params["nlist"]]
    assert full and all(abs(r.recall - 1.0) < 1e-12 for r in full)
    by_cfg = {}
    for r in results:
        by_cfg.setdefault(
            (r.params["nlist"], r.params["nprobe"]), set()
        ).add(round(r.recall, 12))
    assert all(len(v) == 1 for v in by_cfg.values())
    assert best is not None and best.recall >= 0.5
    assert best.params["batch_s"] > 0


def test_ivfsq_search_df_matches_single_and_exact(emb, index, spark):
    """DataFrame-native IVF+SQ8 batch == the per-query driver form at
    partial refine, == exact knn at full probe + covering refine; q_ids
    pass through in their native type and the coarse cache releases."""
    from lanterndb_spark.operators.ivf import (
        IvfIndex, ivfsq_search, ivfsq_search_df,
    )
    from lanterndb_spark.operators.sq import sq8_quantize
    from lanterndb_spark.plans.shape import release

    coded = IvfIndex(sq8_quantize(index.assigned, "embedding"),
                     index.centroids, "embedding")
    n = emb.count()
    ids = [1, 7, 13]
    qdf = _qdf(emb, ids)
    out = ivfsq_search_df(coded, qdf, k=5, nprobe=4, refine=4, id_col="vec_id")
    got = {}
    for r in out.collect():
        got.setdefault(r["q_id"], []).append((round(r["dist"], 9), r["vec_id"]))
    release(out)
    for qi in ids:
        single = [
            (round(r["dist"], 9), r["vec_id"])
            for r in ivfsq_search(
                coded, qvec(emb, qi), k=5, nprobe=4, refine=4, id_col="vec_id"
            ).collect()
        ]
        assert sorted(got[qi]) == sorted(single), f"q {qi}"
    # full probe + covering refine == exact knn, with string q_ids
    sdf = qdf.select(
        F.concat(F.lit("s-"), F.col("q_id")).alias("q_id"), "query"
    )
    out2 = ivfsq_search_df(
        coded, sdf, k=5, nprobe=8, refine=(n + 4) // 5, id_col="vec_id"
    )
    got2 = {}
    for r in out2.collect():
        got2.setdefault(r["q_id"], []).append(r["vec_id"])
    release(out2)
    for qi in ids:
        want = [r["vec_id"] for r in
                knn(emb, "embedding", qvec(emb, qi), k=5, id_col="vec_id").collect()]
        assert got2[f"s-{qi}"] == want


def test_table_knn_batch_ivfsq_route(tables, spark):
    """knn_batch routes an ivfsq index through ivfsq_search_df (no 100k
    exact-join ceiling): full probe + covering refine equals the exact
    route, deltas become visible, and non-l2sq metrics raise."""
    import pytest as _pytest

    from lanterndb_spark.table import LanternTable

    emb = tables["embeddings"]
    n = emb.count()
    qdf = emb.filter(F.col("vec_id").isin([0, 7])).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("query")
    )
    t = LanternTable(emb, "vec_id").create_index(
        "embedding", kind="ivfsq", nlist=4, seed=42
    )
    exact = LanternTable(emb, "vec_id").knn_batch("embedding", qdf, k=5)
    key = lambda rows: sorted(
        (r["q_id"], r["vec_id"], round(r["dist"], 6)) for r in rows
    )
    got = t.knn_batch(
        "embedding", qdf, k=5, nprobe=4, refine=(n + 4) // 5
    )
    assert key(got.collect()) == key(exact.collect())
    with _pytest.raises(ValueError, match="l2sq"):
        t.knn_batch("embedding", qdf, k=5, metric="cos")
    # a delta twin of query 7 must surface through the batch route
    twin = emb.filter(F.col("vec_id") == 7).select(
        F.lit(990003).cast("bigint").alias("vec_id"),
        F.col("label"), F.col("embedding"),
    ).select(*emb.columns)
    t.insert(twin)
    rows = t.knn_batch(
        "embedding", qdf, k=3, nprobe=4, refine=(n + 4) // 5
    ).collect()
    hits7 = [r["vec_id"] for r in rows if r["q_id"] == 7]
    assert 990003 in hits7


def test_ivfpq_search_df_matches_single_and_exact(emb, index, spark):
    """DataFrame-native IVF+PQ batch == the per-query driver form at
    partial refine (same ADC LUT math, probes, and tie order), == exact
    knn at full probe + covering refine; string q_ids pass through and
    the routed cache releases."""
    from lanterndb_spark.operators.ivf import (
        IvfIndex, ivfpq_search, ivfpq_search_df,
    )
    from lanterndb_spark.operators.pq import quantize, train_codebook
    from lanterndb_spark.plans.shape import release

    cb = train_codebook(emb, "embedding", splits=8, clusters=16, seed=42)
    coded = IvfIndex(
        quantize(index.assigned, "embedding", cb), index.centroids, "embedding"
    )
    ids = [3, 11, 17]
    qdf = _qdf(emb, ids)
    out = ivfpq_search_df(
        coded, cb, qdf, k=5, nprobe=4, refine=4, id_col="vec_id"
    )
    got = {}
    for r in out.collect():
        got.setdefault(r["q_id"], []).append((round(r["dist"], 9), r["vec_id"]))
    release(out)
    for qi in ids:
        single = [
            (round(r["dist"], 9), r["vec_id"])
            for r in ivfpq_search(
                coded, cb, qvec(emb, qi), k=5, nprobe=4, refine=4,
                id_col="vec_id",
            ).collect()
        ]
        assert sorted(got[qi]) == sorted(single), f"q {qi}"
    # full probe + covering refine == exact knn, string q_ids
    n = emb.count()
    sdf = qdf.select(
        F.concat(F.lit("p-"), F.col("q_id")).alias("q_id"), "query"
    )
    out2 = ivfpq_search_df(
        coded, cb, sdf, k=5, nprobe=8, refine=(n + 4) // 5, id_col="vec_id"
    )
    got2 = {}
    for r in out2.collect():
        got2.setdefault(r["q_id"], []).append(r["vec_id"])
    release(out2)
    for qi in ids:
        want = [r["vec_id"] for r in
                knn(emb, "embedding", qvec(emb, qi), k=5, id_col="vec_id").collect()]
        assert got2[f"p-{qi}"] == want
    # empty batch: typed empty frame
    empty = ivfpq_search_df(
        coded, cb, qdf.filter(F.lit(False)), k=3, id_col="vec_id"
    )
    assert empty.count() == 0


def test_ivfpq_save_load_roundtrip(emb, spark, tmp_path):
    """A persisted ivfpq index reloads with its codebook and answers
    exactly what the in-memory handle answers (no retrain)."""
    from lanterndb_spark.operators.ivf import (
        build_ivfpq, ivfpq_search, load_ivfpq, save_ivfpq,
    )

    idx = build_ivfpq(emb, "embedding", nlist=4, splits=8, clusters=16, seed=42)
    q = qvec(emb, 3)
    want = [(r["vec_id"], round(r["dist"], 9)) for r in ivfpq_search(
        idx, idx.codebook, q, k=5, nprobe=2, refine=4, id_col="vec_id"
    ).collect()]
    path = str(tmp_path / "ivfpq_idx")
    save_ivfpq(idx, path)
    back = load_ivfpq(spark, path, "embedding")
    got = [(r["vec_id"], round(r["dist"], 9)) for r in ivfpq_search(
        back, back.codebook, q, k=5, nprobe=2, refine=4, id_col="vec_id"
    ).collect()]
    assert got == want


def test_ivfpq_empty_build_and_search(spark):
    """The pq=true composites share the nlist==0 empty-index contract:
    build_ivfpq on an empty table returns a typed-empty index, and both
    the driver-list and DataFrame-native searches return typed-empty
    results instead of crashing in argsort/adc_knn."""
    from lanterndb_spark.operators.ivf import (
        build_ivfpq, ivfpq_search, ivfpq_search_df,
    )

    empty = spark.createDataFrame([], "vec_id bigint, embedding array<float>")
    idx = build_ivfpq(empty, "embedding", nlist=4, splits=2, clusters=4)
    assert idx.nlist == 0
    assert idx.assigned.count() == 0
    assert idx.codebook.count() == 0
    out = ivfpq_search(idx, idx.codebook, [0.0, 0.0], k=5, id_col="vec_id")
    assert out.count() == 0
    qdf = spark.createDataFrame([(0, [0.0, 0.0])], "q_id int, query array<double>")
    out2 = ivfpq_search_df(idx, idx.codebook, qdf, k=5, id_col="vec_id")
    assert out2.count() == 0
    assert [f.name for f in out2.schema.fields] == ["q_id", "vec_id", "dist"]


def test_search_df_exposes_probed_clusters(emb, index, spark):
    """A pruned ivf_search_df result carries the probed-cluster set so
    composite re-ranks (ivfsq/ivfpq) keep the coarse pass's partition
    pruning instead of re-scanning the full assigned table."""
    from lanterndb_spark.operators.ivf import ivf_search_df
    from lanterndb_spark.plans.shape import release

    qdf = _qdf(emb, [1, 7])
    out = ivf_search_df(index, qdf, k=3, nprobe=2, id_col="vec_id")
    probed = out.__dict__.get("_lantern_probed")
    assert probed is not None and 0 < len(probed) <= 2 * 2
    assert all(isinstance(c, int) for c in probed)
    out.collect()
    release(out)


def test_ivfpq_search_df_f32_cut_matches_f64(emb, spark):
    """The ADC kernel's f32 coarse cut + margin + exact f64 rescore must
    emit exactly what an all-f64 pass emits — pinned by comparing the
    partial-refine batch result against the all-f64 driver-list form on
    many queries (any boundary divergence shows as a set mismatch)."""
    from lanterndb_spark.operators.ivf import build_ivfpq, ivfpq_search, ivfpq_search_df

    idx = build_ivfpq(emb, "embedding", nlist=8, splits=4, clusters=16, seed=3)
    ids = [0, 3, 7, 11, 19, 23, 31, 44]
    qdf = _qdf(emb, ids)
    out = ivfpq_search_df(
        idx, idx.codebook, qdf, k=5, nprobe=2, refine=2, id_col="vec_id"
    )
    got = {}
    for r in out.collect():
        got.setdefault(r["q_id"], []).append((round(r["dist"], 9), r["vec_id"]))
    for qi in ids:
        single = [
            (round(r["dist"], 9), r["vec_id"])
            for r in ivfpq_search(
                idx, idx.codebook, qvec(emb, qi), k=5, nprobe=2, refine=2,
                id_col="vec_id",
            ).collect()
        ]
        assert sorted(got[qi]) == sorted(single), f"q {qi}"


# ---- duplicate q_id per-row semantics (cross-backend, VERDICT r11) ----


def _dup_frames(emb, spark):
    """(dup, uniq, remap): q_id=7 twice with DIFFERENT vectors, q_id=3
    once; uniq is the same rows under minted unique ids; remap restores
    the duplicate labels on uniq's results."""
    qa, qb, qc = qvec(emb, 1), qvec(emb, 9), qvec(emb, 17)
    dup = spark.createDataFrame(
        [(7, qa), (7, qb), (3, qc)], "q_id long, query array<double>"
    )
    uniq = spark.createDataFrame(
        [(0, qa), (1, qb), (2, qc)], "q_id long, query array<double>"
    )
    return dup, uniq, {0: 7, 1: 7, 2: 3}


def _key(rows, remap=None):
    return sorted(
        (remap.get(r["q_id"], r["q_id"]) if remap else r["q_id"],
         r["vec_id"], round(r["dist"], 9))
        for r in rows
    )


def test_ivf_search_df_duplicate_q_ids_per_row(emb, index, spark):
    """Duplicate q_id VALUES are PER-ROW on the ivf batch route (r12):
    3 input rows x k out, each row's own top-k — matching the hnsw
    forms, so knn_batch's row count no longer depends on index kind
    (VERDICT r11 item 1). unique_q_ids=True keeps the merge shortcut."""
    from lanterndb_spark.operators.ivf import ivf_search_df

    dup, uniq, remap = _dup_frames(emb, spark)
    got = ivf_search_df(index, dup, k=5, nprobe=8, id_col="vec_id").collect()
    assert len(got) == 15  # 3 rows x k, NOT 10 (merged)
    exp = ivf_search_df(index, uniq, k=5, nprobe=8, id_col="vec_id").collect()
    assert _key(got) == _key(exp, remap)
    merged = ivf_search_df(
        index, dup, k=5, nprobe=8, id_col="vec_id", unique_q_ids=True
    ).collect()
    assert len(merged) == 10  # the documented escape hatch merges


def test_ivfsq_ivfpq_search_df_duplicate_q_ids_per_row(emb, index, spark):
    """Same per-row contract on the coded batch routes, where duplicates
    ALSO fanned out the re-rank's join-by-q_id before the wrap."""
    from lanterndb_spark.operators.ivf import (
        IvfIndex, ivfpq_search_df, ivfsq_search_df,
    )
    from lanterndb_spark.operators.pq import quantize, train_codebook
    from lanterndb_spark.operators.sq import sq8_quantize

    dup, uniq, remap = _dup_frames(emb, spark)
    sq_idx = IvfIndex(
        sq8_quantize(index.assigned, "embedding"), index.centroids, "embedding"
    )
    got = ivfsq_search_df(
        sq_idx, dup, k=5, nprobe=8, refine=4, id_col="vec_id"
    ).collect()
    exp = ivfsq_search_df(
        sq_idx, uniq, k=5, nprobe=8, refine=4, id_col="vec_id"
    ).collect()
    assert len(got) == 15
    assert _key(got) == _key(exp, remap)

    cb = train_codebook(emb, "embedding", splits=8, clusters=16, seed=42)
    pq_idx = IvfIndex(
        quantize(index.assigned, "embedding", cb), index.centroids, "embedding"
    )
    got = ivfpq_search_df(
        pq_idx, cb, dup, k=5, nprobe=8, refine=4, id_col="vec_id"
    ).collect()
    exp = ivfpq_search_df(
        pq_idx, cb, uniq, k=5, nprobe=8, refine=4, id_col="vec_id"
    ).collect()
    assert len(got) == 15
    assert _key(got) == _key(exp, remap)


def test_knn_join_duplicate_q_ids_per_row(emb, spark):
    """knn_join honors its 'EVERY row of queries' contract under
    duplicate q_ids too (the knn_batch exact route), on both kernels."""
    from lanterndb_spark.operators.knn import knn_join

    dup, uniq, remap = _dup_frames(emb, spark)
    for impl in ("expr", "arrow"):
        got = knn_join(
            emb, "embedding", dup, "query", k=5, id_col="vec_id", impl=impl
        ).select("q_id", "vec_id", "dist").collect()
        exp = knn_join(
            emb, "embedding", uniq, "query", k=5, id_col="vec_id", impl=impl
        ).select("q_id", "vec_id", "dist").collect()
        assert len(got) == 15, impl
        assert _key(got) == _key(exp, remap), impl


def test_knn_batch_duplicate_q_ids_same_rows_every_index_kind(tables, spark):
    """THE router unification (VERDICT r11 item 1): the same duplicate
    query frame through LanternTable.knn_batch returns the same row
    count AND the same (q_id, id, dist) multiset whether the table
    carries an hnsw, ivf, ivfsq, ivfpq, or no index — previously hnsw
    answered per-row (15) while the ivf family merged (10). The wrap
    also covers the delta-merge window (deltas + duplicates)."""
    from lanterndb_spark.table import LanternTable

    emb = tables["embeddings"]
    dup, _, _ = _dup_frames(emb, spark)
    n = emb.count()
    results = {}
    exact = LanternTable(emb, "vec_id").knn_batch("embedding", dup, k=5)
    results["exact"] = _key(exact.collect())
    for kind, params in (
        ("hnsw", {"m": 8, "ef_construction": 64, "num_shards": 2, "seed": 42}),
        ("ivf", {"nlist": 4, "seed": 42}),
        ("ivfsq", {"nlist": 4, "seed": 42}),
        ("ivfpq", {"nlist": 4, "splits": 8, "clusters": 16, "seed": 42}),
    ):
        t = LanternTable(emb, "vec_id").create_index(
            "embedding", kind=kind, **params
        )
        # exact-equivalence settings per kind so values match too
        kw = {"ef": n} if kind == "hnsw" else (
            {"nprobe": 4} if kind == "ivf"
            else {"nprobe": 4, "refine": (n + 4) // 5}
        )
        out = t.knn_batch("embedding", dup, k=5, **kw)
        rows = out.collect()
        assert len(rows) == 15, kind
        results[kind] = _key(rows)
    assert results["hnsw"] == results["exact"]
    assert results["ivf"] == results["exact"]
    assert results["ivfsq"] == results["exact"]
    assert results["ivfpq"] == results["exact"]
    # delta path: duplicates + a pending insert stay per-row and see the delta
    t = LanternTable(emb, "vec_id").create_index(
        "embedding", kind="hnsw", m=8, ef_construction=64, num_shards=2, seed=42
    )
    new_vec = [float(x) + 0.001 for x in emb.first()["embedding"]]
    t = t.insert(spark.createDataFrame(
        [(99990, new_vec)], "vec_id long, embedding array<double>"
    ))
    out = t.knn_batch("embedding", dup, k=5, ef=n)
    assert out.count() == 15


def test_duplicate_null_q_ids_per_row(emb, index, spark):
    """NULL q_ids count as duplicates of each other (r12 review:
    count/count_distinct both skip NULLs, so two NULL-keyed rows
    previously slipped past detection and merged in the per-query
    window). Each NULL row keeps its own top-k on the ivf route and
    the exact lateral join."""
    from lanterndb_spark.operators.ivf import ivf_search_df
    from lanterndb_spark.operators.knn import knn_join

    qa, qb = qvec(emb, 1), qvec(emb, 9)
    nulls = spark.createDataFrame(
        [(None, qa), (None, qb)], "q_id string, query array<double>"
    )
    got = ivf_search_df(index, nulls, k=5, nprobe=8, id_col="vec_id").collect()
    assert len(got) == 10  # 2 rows x k, each its own top-5
    assert all(r["q_id"] is None for r in got)
    # the two result sets are the two rows' own exact top-5s
    uniq = spark.createDataFrame(
        [("a", qa), ("b", qb)], "q_id string, query array<double>"
    )
    exp = ivf_search_df(index, uniq, k=5, nprobe=8, id_col="vec_id").collect()
    assert sorted((r["vec_id"], round(r["dist"], 9)) for r in got) == sorted(
        (r["vec_id"], round(r["dist"], 9)) for r in exp
    )
    kj = knn_join(emb, "embedding", nulls, "query", k=5, id_col="vec_id")
    assert kj.count() == 10


def test_single_null_q_id_not_dropped(emb, index, spark):
    """A SINGLE NULL q_id must take the surrogate wrap too (r13
    advice): the coded routes' re-rank equi-joins on q_id silently
    drop NULL keys, so before the fix a lone NULL-keyed query returned
    ZERO rows with no error — the worst failure mode. The wrap gives
    the row a non-NULL surrogate through the join and restores the
    NULL label at the end."""
    from lanterndb_spark.operators.ivf import (
        IvfIndex, ivf_search_df, ivfpq_search_df, ivfsq_search_df,
    )
    from lanterndb_spark.operators.pq import quantize, train_codebook
    from lanterndb_spark.operators.sq import sq8_quantize

    qa = qvec(emb, 1)
    one_null = spark.createDataFrame(
        [(None, qa)], "q_id string, query array<double>"
    )
    ref = spark.createDataFrame(
        [("a", qa)], "q_id string, query array<double>"
    )

    def vals(rows):
        return sorted((r["vec_id"], round(r["dist"], 9)) for r in rows)

    sq_idx = IvfIndex(
        sq8_quantize(index.assigned, "embedding"), index.centroids, "embedding"
    )
    cb = train_codebook(emb, "embedding", splits=8, clusters=16, seed=42)
    pq_idx = IvfIndex(
        quantize(index.assigned, "embedding", cb), index.centroids, "embedding"
    )
    for name, run in (
        ("ivf", lambda q: ivf_search_df(
            index, q, k=5, nprobe=8, id_col="vec_id")),
        ("ivfsq", lambda q: ivfsq_search_df(
            sq_idx, q, k=5, nprobe=8, refine=4, id_col="vec_id")),
        ("ivfpq", lambda q: ivfpq_search_df(
            pq_idx, cb, q, k=5, nprobe=8, refine=4, id_col="vec_id")),
    ):
        got = run(one_null).collect()
        assert len(got) == 5, f"{name}: NULL q_id dropped"
        assert all(r["q_id"] is None for r in got), name
        assert vals(got) == vals(run(ref).collect()), name


def test_ivfsq_arrow_kernel_decodes_codes_in_kernel(emb, index, spark):
    """The sq8 coarse pass ships CODES through the Arrow boundary and
    decodes in the kernel (r13): serializing the Catalyst-dequantized
    float column cost the same boundary bytes as raw ivf (~8 bytes/dim),
    wasting sq8's whole point — measured 2M x 768d before/after in
    spark-warehouse/ab_dim768_r13.json. The in-kernel float64(c) *
    float64(scale) is bit-exact with sq8_dequantize, so forced-arrow
    and forced-expr answers are IDENTICAL, and the arrow plan never
    materializes the dequantized column (__sq_deq absent from the
    physical plan)."""
    from lanterndb_spark.operators.ivf import IvfIndex, ivfsq_search_df
    from lanterndb_spark.operators.sq import sq8_quantize

    coded = IvfIndex(
        sq8_quantize(index.assigned, "embedding"), index.centroids, "embedding"
    )
    qdf = emb.limit(40).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("query")
    )

    def run(impl):
        return sorted(
            (r["q_id"], r["vec_id"], round(r["dist"], 12))
            for r in ivfsq_search_df(
                coded, qdf, k=5, nprobe=8, refine=4, id_col="vec_id",
                unique_q_ids=True, impl=impl,
            ).collect()
        )

    assert run("arrow") == run("expr")
    plan = (
        ivfsq_search_df(
            coded, qdf, k=5, nprobe=8, refine=4, id_col="vec_id",
            unique_q_ids=True, impl="arrow",
        )
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "__sq_deq" not in plan  # codes cross the boundary, not floats


def test_ivfpq_dgemm_and_gather_cuts_bit_identical(spark, monkeypatch):
    """The r13 dgemm coarse cut (decode-once + matmul at >=128d) and
    the r11 f32 gather cut must emit BIT-IDENTICAL rows and distances:
    both produce a margin superset of the exact ADC cut and the shared
    exact f64 LUT rescore (ascending-subvector addition order) settles
    the final set, so the dim gate is a pure speed knob. Forced by
    patching the module gate around the same 160d corpus with an
    active cut (kk < rows-per-cluster)."""
    import numpy as np

    import lanterndb_spark.operators.ivf as ivf_mod
    from lanterndb_spark.operators.ivf import (
        IvfIndex, build_ivf, ivfpq_search_df,
    )
    from lanterndb_spark.operators.pq import quantize, train_codebook

    rng = np.random.default_rng(11)
    dim = 160
    X = rng.standard_normal((400, dim))
    emb = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(400)],
        "vec_id long, embedding array<double>",
    )
    raw = build_ivf(emb, "embedding", nlist=4, seed=42)
    cb = train_codebook(emb, "embedding", splits=20, clusters=16, seed=42)
    idx = IvfIndex(
        quantize(raw.assigned, "embedding", cb), raw.centroids, "embedding"
    )
    qdf = spark.createDataFrame(
        [(int(i), X[i].tolist()) for i in (3, 71, 205)],
        "q_id long, query array<double>",
    )

    def run():
        # nprobe=4 (all clusters), refine=2 -> kk=10 < ~100 rows/cluster
        rows = ivfpq_search_df(
            idx, cb, qdf, k=5, nprobe=4, refine=2, id_col="vec_id",
            unique_q_ids=True,
        ).collect()
        return sorted((r["q_id"], r["vec_id"], r["dist"]) for r in rows)

    monkeypatch.setattr(ivf_mod, "_ADC_DGEMM_MIN_DIM", 1)  # force dgemm
    via_dgemm = run()
    monkeypatch.setattr(ivf_mod, "_ADC_DGEMM_MIN_DIM", 10**9)  # force gather
    via_gather = run()
    assert via_dgemm == via_gather  # bit-identical, not approx
    assert len(via_dgemm) == 15


def test_adaptive_salt_bounds_both_directions(spark):
    """r14 contract for the batch-search cogroup salt: the caller's salt
    is an UPPER BOUND. A small estimated per-cluster block derives
    salt_eff=1 (no confetti tasks); a block far past the 32 MiB f64
    target hits the cap exactly (the 100 TB memory bound is intact).
    Row counts come from Catalyst stats of a materialized cache."""
    from types import SimpleNamespace

    import numpy as np

    from lanterndb_spark.operators.ivf import _adaptive_salt

    small = spark.range(1000).withColumnRenamed("id", "vec_id")
    small.cache()
    small.count()
    big = spark.range(200_000)
    big.cache()
    big.count()
    try:
        # 1000 rows / 4 clusters * 64 dims * 8 B = 128 KiB << 32 MiB
        idx_small = SimpleNamespace(
            centroids=np.zeros((4, 64)), assigned=small, nlist=4)
        assert _adaptive_salt(idx_small, 8) == 1
        # 200k rows / 1 cluster * 768 dims * 8 B ≈ 1.2 GiB -> ceil 39,
        # clamped to the caller's bound
        idx_big = SimpleNamespace(
            centroids=np.zeros((1, 768)), assigned=big, nlist=1)
        assert _adaptive_salt(idx_big, 8) == 8
    finally:
        small.unpersist()
        big.unpersist()


def test_routing_coalesce_results_invariant(emb, index, spark):
    """r14 contract for the routing-pass coalesce: a cached (stats-known,
    hence coalesced) query frame and the same frame uncached (stats
    unknown, original partitioning) return IDENTICAL rows — the coalesce
    is a task-layout change only."""
    from lanterndb_spark.operators.ivf import ivf_search_df

    qs = [(i, qvec(emb, i)) for i in range(6)]
    raw = spark.createDataFrame(qs, "q_id int, query array<double>")
    cached = spark.createDataFrame(qs, "q_id int, query array<double>").persist()
    cached.count()
    try:
        a = sorted(
            (r["q_id"], r["vec_id"], round(r["dist"], 9))
            for r in ivf_search_df(index, raw, k=5, nprobe=3,
                                   id_col="vec_id").collect()
        )
        b = sorted(
            (r["q_id"], r["vec_id"], round(r["dist"], 9))
            for r in ivf_search_df(index, cached, k=5, nprobe=3,
                                   id_col="vec_id").collect()
        )
        assert a == b and a
    finally:
        cached.unpersist()


def test_search_batch_literal_kernel_matches_join_shape(tables, spark):
    """r15 (VERDICT r14 item 6): below the arrow crossover (nq < 4) the
    expr path scores against PARSED literal query arrays — no probes
    LocalRelation, no broadcast join — and must return exactly the
    join shape's rows. The plan must carry no join for the tiny batch;
    non-finite query values fall back to the join shape."""
    import io
    import math
    from contextlib import redirect_stdout

    from lanterndb_spark.operators.ivf import ivf_search_batch

    emb = tables["embeddings"]
    idx = build_ivf(emb, "embedding", nlist=8, seed=42)
    idx.assigned.cache().count()
    qs = [[float(x) for x in r["embedding"]]
          for r in emb.limit(3).collect()]
    for nq in (1, 3):
        tiny = ivf_search_batch(idx, qs[:nq], k=5, nprobe=4,
                                id_col="vec_id", impl="expr")
        buf = io.StringIO()
        with redirect_stdout(buf):
            tiny.explain("formatted")
        assert "Join" not in buf.getvalue()
        # the join shape, forced via a 4-query call restricted back down,
        # is the semantic reference: compare against per-query windows of
        # a padded batch (same probes, same tie order)
        padded = ivf_search_batch(idx, qs[:nq] + qs[:1] * (4 - nq), k=5,
                                  nprobe=4, id_col="vec_id", impl="expr")
        key = lambda rows: sorted(
            (r["q_id"], r["vec_id"], round(r["dist"], 9)) for r in rows)
        got = key(tiny.collect())
        ref = key([r for r in padded.collect() if r["q_id"] < nq])
        assert got == ref and got
    # non-finite query values keep the join shape (literals can't parse)
    bad = [[math.nan] + qs[0][1:]]
    fb = ivf_search_batch(idx, bad, k=5, nprobe=4, id_col="vec_id",
                          impl="expr")
    buf = io.StringIO()
    with redirect_stdout(buf):
        fb.explain("formatted")
    assert "Join" in buf.getvalue()
    idx.assigned.unpersist()


def test_search_df_driver_route_matches_executor_route(tables, spark):
    """r15: query frames whose exact row count Catalyst knows (<= the
    65,536 known-small bound) route on the DRIVER — same numpy argsort,
    so rows must be identical to the executor routing path on both the
    arrow (cogroup) and expr (join) impls, for ivf AND ivfpq — with
    strictly fewer jobs, and dup/NULL q_ids still answered per row."""
    from lanterndb_spark.operators import ivf as ivfmod
    from lanterndb_spark.operators.ivf import ivf_search_df, ivfpq_search_df
    from lanterndb_spark.operators.pq import quantize, train_codebook
    from lanterndb_spark.plans.shape import release

    emb = tables["embeddings"]
    idx = build_ivf(emb, "embedding", nlist=8, seed=42)
    idx.assigned.cache().count()
    qs = [(i, [float(x) for x in r["embedding"]])
          for i, r in enumerate(emb.limit(24).collect())]
    qdf = spark.createDataFrame(qs, "q_id int, query array<double>").persist()
    qdf.count()  # exact InMemoryRelation rowCount => driver route fires

    sc = spark.sparkContext

    def run(fn):
        sc.parallelize([0], 1).count()
        ids = sc.statusTracker().getJobIdsForGroup()
        before = max(ids) if ids else -1
        out = fn()
        rows = sorted(
            (r[0], r[1], round(r[2], 9)) for r in out.collect())
        release(out)
        sc.parallelize([0], 1).count()
        ids = sc.statusTracker().getJobIdsForGroup()
        return rows, (max(ids) if ids else -1) - before - 1

    for impl in ("arrow", "expr"):
        body = lambda: ivf_search_df(
            idx, qdf, k=5, nprobe=3, id_col="vec_id", impl=impl)
        rows_d, jobs_d = run(body)
        old = ivfmod._DRIVER_ROUTE_MAX_QUERIES
        ivfmod._DRIVER_ROUTE_MAX_QUERIES = 0  # force the executor path
        try:
            rows_e, jobs_e = run(body)
        finally:
            ivfmod._DRIVER_ROUTE_MAX_QUERIES = old
        assert rows_d == rows_e and rows_d, impl
        assert jobs_d < jobs_e, (impl, jobs_d, jobs_e)

    # ivfpq: same gate, same equality (codes built over the assigned set)
    cb = train_codebook(emb, "embedding", splits=4, clusters=8, seed=1)
    assigned_pq = quantize(
        idx.assigned, "embedding", cb).cache()
    assigned_pq.count()
    pq_idx = ivfmod.IvfIndex(assigned_pq, idx.centroids, "embedding")
    body_pq = lambda: ivfpq_search_df(
        pq_idx, cb, qdf, k=5, nprobe=3, refine=3, id_col="vec_id")
    rows_d, jobs_d = run(body_pq)
    old = ivfmod._DRIVER_ROUTE_MAX_QUERIES
    ivfmod._DRIVER_ROUTE_MAX_QUERIES = 0
    try:
        rows_e, jobs_e = run(body_pq)
    finally:
        ivfmod._DRIVER_ROUTE_MAX_QUERIES = old
    assert rows_d == rows_e and rows_d
    assert jobs_d < jobs_e, (jobs_d, jobs_e)

    # dup/NULL q_ids on the driver path: the wrap still answers PER ROW
    v0, v1 = qs[0][1], qs[1][1]
    dup = spark.createDataFrame(
        [(7, v0), (7, v1), (None, v0)], "q_id int, query array<double>"
    ).persist()
    dup.count()
    uniq = spark.createDataFrame(
        [(0, v0), (1, v1), (2, v0)], "q_id int, query array<double>"
    ).persist()
    uniq.count()
    out_dup = ivf_search_df(idx, dup, k=5, nprobe=3, id_col="vec_id")
    got = sorted((r[1], round(r[2], 9)) for r in out_dup.collect())
    release(out_dup)
    out_u = ivf_search_df(idx, uniq, k=5, nprobe=3, id_col="vec_id")
    want = sorted((r[1], round(r[2], 9)) for r in out_u.collect())
    release(out_u)
    assert got == want and len(got) == 15
    for df in (qdf, dup, uniq, assigned_pq):
        df.unpersist()
    idx.assigned.unpersist()


def _search_rows(fn, executor=False):
    """Collect a batch search's rows as sorted (q_id, id, dist-9dp)
    tuples; ``executor=True`` disables the driver route for the call."""
    from lanterndb_spark.operators import ivf as ivfmod
    from lanterndb_spark.plans.shape import release

    old = ivfmod._DRIVER_ROUTE_MAX_QUERIES
    if executor:
        ivfmod._DRIVER_ROUTE_MAX_QUERIES = 0
    try:
        out = fn()
        rows = sorted((r[0], r[1], round(r[2], 9)) for r in out.collect())
    finally:
        ivfmod._DRIVER_ROUTE_MAX_QUERIES = old
    release(out)
    return rows


def _stage_tasks(sc, fn):
    """Tasks run by each stage of the jobs ``fn`` ran (stages a job
    lists but skips, e.g. a cached frame's shuffle, run none)."""
    st = sc.statusTracker()
    sc.parallelize([0], 1).count()
    before = max(st.getJobIdsForGroup())
    fn()
    sc.parallelize([0], 1).count()
    after = max(st.getJobIdsForGroup())
    sids = {sid for jid in range(before + 1, after)
            for sid in st.getJobInfo(jid).stageIds}
    infos = [st.getStageInfo(sid) for sid in sorted(sids)]
    # a skipped stage old enough to have left the status store is None
    return [i.numCompletedTasks for i in infos if i and i.numCompletedTasks]


@pytest.fixture(scope="module")
def droute_setup(tables, spark):
    """An nlist=8 ivf index, its PQ-coded twin, and a 24-query frame
    whose exact row count Catalyst knows (driver route)."""
    from lanterndb_spark.operators.ivf import IvfIndex
    from lanterndb_spark.operators.pq import quantize, train_codebook

    emb = tables["embeddings"]
    idx = build_ivf(emb, "embedding", nlist=8, seed=42)
    idx.assigned.cache().count()
    cb = train_codebook(emb, "embedding", splits=4, clusters=8, seed=1)
    coded = quantize(idx.assigned, "embedding", cb).cache()
    coded.count()
    qs = [(i, [float(x) for x in r["embedding"]])
          for i, r in enumerate(emb.limit(24).collect())]
    qdf = spark.createDataFrame(qs, "q_id int, query array<double>").persist()
    qdf.count()
    yield idx, IvfIndex(coded, idx.centroids, "embedding"), cb, qdf
    for df in (qdf, coded, idx.assigned):
        df.unpersist()


def test_fused_scan_multi_task_matches_executor_route(droute_setup, spark, monkeypatch):
    """A driver-routed batch whose fused scan runs in more than one
    task (pairs-per-task forced to 1) returns the executor route's rows,
    for ivf AND ivfpq, and the explicit task count survives AQE."""
    from lanterndb_spark.operators import ivf as ivfmod
    from lanterndb_spark.operators.ivf import ivf_search_df, ivfpq_search_df

    idx, pq_idx, cb, qdf = droute_setup
    monkeypatch.setattr(ivfmod, "_FUSED_PAIRS_PER_TASK", 1)
    par = spark.sparkContext.defaultParallelism
    assert par > 1 and ivfmod._fused_tasks(idx, 24, 3) == par
    body = lambda: ivf_search_df(
        idx, qdf, k=5, nprobe=3, id_col="vec_id", impl="arrow")
    want = _search_rows(body, executor=True)
    assert _search_rows(body) == want and want
    assert max(_stage_tasks(spark.sparkContext,
                            lambda: _search_rows(body))) == par
    body_pq = lambda: ivfpq_search_df(
        pq_idx, cb, qdf, k=5, nprobe=3, refine=3, id_col="vec_id")
    want = _search_rows(body_pq, executor=True)
    assert _search_rows(body_pq) == want and want


def test_fused_scan_ivfsq_matches_executor_route(droute_setup):
    """ivfsq's coded scan (base_decode) through the fused scan returns
    the executor route's rows."""
    from lanterndb_spark.operators.ivf import IvfIndex, ivfsq_search_df
    from lanterndb_spark.operators.sq import sq8_quantize

    idx, _pq, _cb, qdf = droute_setup
    coded = IvfIndex(sq8_quantize(idx.assigned, "embedding"),
                     idx.centroids, "embedding")
    body = lambda: ivfsq_search_df(
        coded, qdf, k=5, nprobe=3, refine=3, id_col="vec_id", impl="arrow")
    want = _search_rows(body, executor=True)
    assert _search_rows(body) == want and want


def test_fused_scan_duplicate_base_vectors_at_kth_distance(tables, spark):
    """Every base vector twice (second copy id + 100000): each query's
    k-th and (k+1)-th rows tie on distance, and only the id decides
    which copy makes the cut. Both routes keep the same rows, ivf and
    ivfpq alike, in one task and in several."""
    from lanterndb_spark.operators import ivf as ivfmod
    from lanterndb_spark.operators.ivf import ivf_search_df, ivfpq_search_df
    from lanterndb_spark.operators.pq import quantize, train_codebook

    emb = tables["embeddings"].select("vec_id", "embedding")
    built = build_ivf(emb, "embedding", nlist=8, seed=42)
    cb = train_codebook(emb, "embedding", splits=4, clusters=8, seed=1)
    # twins copy the assigned, coded row: same cluster, same codes
    coded = quantize(built.assigned, "embedding", cb).cache()
    coded.count()
    twins = coded.unionByName(
        coded.withColumn("vec_id", F.col("vec_id") + 100000)).cache()
    twins.count()
    idx = ivfmod.IvfIndex(twins, built.centroids, "embedding")
    qs = [(i, [float(x) + 0.01 for x in r["embedding"]])
          for i, r in enumerate(emb.limit(16).collect())]
    qdf = spark.createDataFrame(qs, "q_id int, query array<double>").persist()
    qdf.count()
    body = lambda: ivf_search_df(
        idx, qdf, k=5, nprobe=3, id_col="vec_id", impl="arrow")
    body_pq = lambda: ivfpq_search_df(
        idx, cb, qdf, k=5, nprobe=3, refine=1, id_col="vec_id")
    old = ivfmod._FUSED_PAIRS_PER_TASK
    try:
        for fn in (body, body_pq):
            want = _search_rows(fn, executor=True)
            if fn is body:
                # ranks (1,2), (3,4) are twin pairs; rank 5 keeps the
                # lower id of its pair and the twin falls past the cut
                by_q = {}
                for q, i, d in want:
                    by_q.setdefault(q, []).append((d, i))
                for rows in by_q.values():
                    rows.sort()
                    d5, i5 = rows[4]
                    assert i5 < 100000 and rows[3][0] < d5, rows
                    assert i5 + 100000 not in {i for _d, i in rows}, rows
            for per_task in (old, 1):
                ivfmod._FUSED_PAIRS_PER_TASK = per_task
                assert _search_rows(fn) == want
    finally:
        ivfmod._FUSED_PAIRS_PER_TASK = old
    for df in (qdf, twins, coded):
        df.unpersist()


def test_driver_routed_plan_has_no_cogroup(droute_setup):
    """The driver route's arrow scan is one MapInPandas over the probed
    base rows; only the executor route plans a cogroup."""
    from lanterndb_spark.operators import ivf as ivfmod
    from lanterndb_spark.operators.ivf import ivf_search_df, ivfpq_search_df

    idx, pq_idx, cb, qdf = droute_setup

    def plan(fn):
        return fn()._jdf.queryExecution().executedPlan().toString()

    for fn in (
        lambda: ivf_search_df(idx, qdf, k=5, nprobe=3, id_col="vec_id",
                              impl="arrow", unique_q_ids=True),
        lambda: ivfpq_search_df(pq_idx, cb, qdf, k=5, nprobe=3, refine=3,
                                id_col="vec_id", unique_q_ids=True),
    ):
        p = plan(fn)
        assert "FlatMapCoGroupsInPandas" not in p and "MapInPandas" in p
        old = ivfmod._DRIVER_ROUTE_MAX_QUERIES
        ivfmod._DRIVER_ROUTE_MAX_QUERIES = 0
        try:
            assert "FlatMapCoGroupsInPandas" in plan(fn)
        finally:
            ivfmod._DRIVER_ROUTE_MAX_QUERIES = old


def test_fused_scan_small_batch_runs_in_one_task(tables, spark):
    """A 64-query batch (autotune's size) over a one-partition base
    runs every stage — the fused scan included — in one task."""
    from lanterndb_spark.operators.ivf import ivf_search_df

    emb = tables["embeddings"].select("vec_id", "embedding").coalesce(1)
    idx = build_ivf(emb, "embedding", nlist=8, seed=42)
    idx.assigned.cache().count()
    qs = [(i, [float(x) for x in r["embedding"]])
          for i, r in enumerate(emb.limit(64).collect())]
    qdf = spark.createDataFrame(
        qs, "q_id int, query array<double>").repartition(1).persist()
    qdf.count()
    body = lambda: ivf_search_df(idx, qdf, k=5, nprobe=3, id_col="vec_id",
                                 impl="arrow", unique_q_ids=True)
    tasks = _stage_tasks(spark.sparkContext, lambda: _search_rows(body))
    assert tasks and max(tasks) == 1, tasks
    qdf.unpersist()
    idx.assigned.unpersist()


def test_driver_route_byte_bound_sends_wide_frames_to_executor(spark):
    """The driver-route gate bounds the query matrix's bytes: a known
    65,536-row frame routes on the driver at 64d but not at 128d."""
    from lanterndb_spark.operators.ivf import IvfIndex, _driver_route

    def frame(dim):
        return spark.range(65536).select(
            F.col("id").cast("int").alias("q_id"),
            F.array_repeat(F.lit(0.5), dim).alias("query"),
        )

    def index(dim):
        cents = np.random.default_rng(0).normal(size=(4, dim))
        base = spark.createDataFrame(
            [(0, [0.0] * dim, 0)], "vec_id int, embedding array<double>, cluster_id int")
        return IvfIndex(base, cents, "embedding")

    assert _driver_route(index(128), frame(128), "q_id", "query", 2, True) is None
    keys, qarr, probes = _driver_route(index(64), frame(64), "q_id", "query", 2, True)
    assert qarr.shape == (65536, 64) and probes.shape == (65536, 2)


def test_blocked_route_probes_equal_unblocked(monkeypatch):
    """Centroid scoring in small blocks picks exactly the probes of one
    unblocked (nq, nlist, dim) pass."""
    from lanterndb_spark.operators import ivf as ivfmod

    rng = np.random.default_rng(7)
    cents = rng.normal(size=(16, 24))
    Q = rng.normal(size=(101, 24))
    Q[50] = cents[3] + 1e-13  # near-ties against centroid 3
    full = np.argsort(((cents[None, :, :] - Q[:, None, :]) ** 2).sum(-1), axis=1)[:, :5]
    monkeypatch.setattr(ivfmod, "_ROUTE_BLOCK_ELEMS", 16 * 24 * 7)
    assert ivfmod._route_block(cents) == 7
    assert np.array_equal(ivfmod._route_probes(cents, Q, 5), full)


def test_driver_routes_identical_with_arrow_conf_off(droute_setup, tables, spark):
    """spark.sql.execution.arrow.pyspark.enabled is a runtime conf the
    caller may flip: driver-routed ivf, ivfpq and hnsw batch searches
    return the same rows with it off as with it on."""
    from lanterndb_spark.operators.hnsw import build_hnsw, hnsw_search_df
    from lanterndb_spark.operators.ivf import ivf_search_df, ivfpq_search_df

    idx, pq_idx, cb, qdf = droute_setup
    hidx = build_hnsw(tables["embeddings"], "embedding", id_col="vec_id",
                      m=8, ef_construction=32, num_shards=4, seed=42,
                      routing="cluster")
    qlong = qdf.select(F.col("q_id").cast("long").alias("q_id"), "query").persist()
    qlong.count()
    bodies = [
        lambda: ivf_search_df(idx, qdf, k=5, nprobe=3, id_col="vec_id", impl="arrow"),
        lambda: ivf_search_df(idx, qdf, k=5, nprobe=3, id_col="vec_id", impl="expr"),
        lambda: ivfpq_search_df(pq_idx, cb, qdf, k=5, nprobe=3, refine=3,
                                id_col="vec_id"),
        lambda: hnsw_search_df(hidx, qlong, k=5, ef=32),
        lambda: hnsw_search_df(hidx, qlong, k=5, ef=32, nprobe=2),
    ]
    conf = "spark.sql.execution.arrow.pyspark.enabled"
    old = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "true")
        on = [_search_rows(b) for b in bodies]
        spark.conf.set(conf, "false")
        off = [_search_rows(b) for b in bodies]
    finally:
        spark.conf.set(conf, old)
    for i, (a, b) in enumerate(zip(on, off)):
        assert a == b and a, i
    qlong.unpersist()
    hidx.graphs.unpersist()


def test_collect_keyed_matrix_matches_row_collect(spark):
    """The Arrow collect gives the Row collect's keys and matrix
    bit-for-bit; NULL elements read as NaN, and NULL or ragged vectors
    raise the errors converting collected Rows raised."""
    from lanterndb_spark.plans.shape import collect_keyed_matrix

    schema = "q_id int, query array<double>"
    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.normal(size=5)]) for i in range(40)]
    df = spark.createDataFrame(rows, schema)
    keys, mat = collect_keyed_matrix(df)
    got = df.collect()
    assert keys.tolist() == [r[0] for r in got]
    assert np.array_equal(
        mat, np.asarray([list(r[1]) for r in got], dtype=np.float64))
    _k, m = collect_keyed_matrix(
        spark.createDataFrame([(1, [1.0, None])], schema))
    assert m[0, 0] == 1.0 and np.isnan(m[0, 1])
    k, _m = collect_keyed_matrix(
        spark.createDataFrame([(None, [1.0]), (2, [2.0])], schema))
    assert k.dtype == object and k.tolist() == [None, 2]
    with pytest.raises(TypeError):
        collect_keyed_matrix(spark.createDataFrame([(1, None)], schema))
    with pytest.raises(ValueError):
        collect_keyed_matrix(
            spark.createDataFrame([(1, [1.0]), (2, [1.0, 2.0])], schema))
