"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload eval_batch --seed 1 --seconds 5 --trace 0

Run from the repository root. The run sets the workload up once
(``setup_s``: input generation, prebuilt indexes, ground truth), measures
a closed loop of op cycles for ``--seconds`` (the cycle in progress at the
deadline completes, so a run measures at least one cycle), runs the
end-of-run checks, and prints two JSON lines on stdout: a detail record
(the workload's own named metrics, failures, cycle walls, phase times)
and, last, the result ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the same
loop with spans on and reports the per-layer metrics.

All scratch files (parquet inputs, Spark local dirs, span dumps) live
under ``.perfbench_tmp/`` in the repository root and are removed on exit;
a traced run keeps its spans in memory and writes them to
``.perfbench_out/spans_<workload>_seed<seed>.jsonl`` when it ends.
The run exits non-zero without a result when the library is not present
next to this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SITES = [
    "ivf.build_ivf",
    "ivf.ivf_search_df",
    "ivf.ivfpq_search_df",
    "pq.train_codebook",
    "pq.quantize",
    "hnsw.build_hnsw",
    "hnsw.hnsw_search_df",
    "streaming.hnsw.writer",
    "streaming.semdedup.writer",
    "bm25.build_postings",
    "bm25.search_bm25_df",
    "hybrid.weighted_vector_search_df",
    "dedup.minhash_lsh_pairs",
    "autotune.autotune_ivf_batch",
]
COUNTERS = {
    "wall_s": "s", "driver_s": "s", "jobs": "count", "tasks": "count",
    "task_s": "s", "shuffle_mb": "MB", "result_mb": "MB",
}
QUALITY = [
    "ivf.ivf_search_df.recall_at_10",
    "ivf.ivfpq_search_df.recall_at_10",
    "hnsw.hnsw_search_df.recall_at_10",
    "hybrid.weighted_vector_search_df.overlap_at_10",
]
SESSION = {
    "session.jobs": ("jobs", "count"), "session.driver_s": ("driver_s", "s"),
    "session.task_s": ("task_s", "s"), "session.gc_s": ("gc_s", "s"),
    "session.failed_tasks": ("failed_tasks", "count"),
}
END_TO_END = {
    "setup_s": "s", "throughput": "1/s", "latency_p50_s": "s",
    "recall_at_10": "ratio", "cached_mb": "MB",
}


def per_layer_names() -> dict:
    """Every per-layer metric name with its unit."""
    out = {f"{s}.{c}": u for s in SITES for c, u in COUNTERS.items()}
    out.update({q: "ratio" for q in QUALITY})
    out.update({k: u for k, (_a, u) in SESSION.items()})
    out["tracing_overhead_frac"] = "ratio"
    return out


def _isolate(tmp: str) -> None:
    """Keep every scratch file of Spark, the JVM and Python under ``tmp``,
    and let Python workers import the library from the repository."""
    os.makedirs(tmp, exist_ok=True)
    # get_spark() sizes local[N] and the shuffle partitions from this
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # -XX:-UsePerfData: the JVM's perf-data file would go to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _cached_mb(spark) -> float:
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    rdds = sc.statusStore().rddList(True)
    return sum(
        rdds.apply(i).memoryUsed() + rdds.apply(i).diskUsed() for i in range(rdds.size())
    ) / 1e6


def per_layer(tracer, quality, measured_s) -> dict:
    """Per-call means of each site's counters, the quality ratios, the
    session totals per cycle, and the tracing overhead: the time the
    spans' own bookkeeping added to the measured walls, over the rest."""
    spans = tracer.spans
    out = {}
    for site in SITES:
        mine = [s for s in spans if s.name == site]
        for c in COUNTERS:
            vals = [getattr(s, c) for s in mine]
            out[f"{site}.{c}"] = sum(vals) / len(vals) if vals else 0.0
    for q in QUALITY:
        vals = quality.get(q, [])
        out[q] = sum(vals) / len(vals) if vals else 0.0
    cycles = {s.op_id for s in spans}
    for name, (attr, _u) in SESSION.items():
        out[name] = sum(getattr(s, attr) for s in spans) / max(1, len(cycles))
    out["tracing_overhead_frac"] = tracer.overhead_s / max(1e-9, measured_s - tracer.overhead_s)
    return out


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "lanterndb_spark", "__init__.py")):
        print(f"lanterndb_spark not found under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    tmp = os.path.join(ROOT, ".perfbench_tmp", str(os.getpid()))
    _isolate(tmp)

    from lanterndb_spark.session import get_spark
    from perfbench.trace import Tracer

    cls = WORKLOADS[args.workload]
    t_start = time.perf_counter()
    spark = get_spark()
    phases = {"spark_start_s": time.perf_counter() - t_start}
    try:
        spark.sparkContext.setLogLevel("ERROR")
        tracer = Tracer(spark, enabled=False)
        wl = cls(spark, args.seed, tmp, tracer)
        t0 = time.perf_counter()
        wl.setup()
        setup_s = phases["setup_s"] = time.perf_counter() - t0

        tracer.enabled = bool(args.trace)
        t_end = time.perf_counter() + args.seconds
        n = 0
        while n == 0 or time.perf_counter() < t_end:
            tracer.begin_op(f"{cls.name}.cycle")
            wl.run_cycle()
            tracer.attribute()
            n += 1
        tracer.enabled = False
        phases["cycles_s"] = time.perf_counter() - t_end + args.seconds
        t0 = time.perf_counter()
        wl.finish()
        e2e, detail = wl.metrics()
        e2e["setup_s"] = setup_s
        e2e["cached_mb"] = _cached_mb(spark)
        phases["finish_s"] = time.perf_counter() - t0
        if args.trace:
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"spans_{cls.name}_seed{args.seed}.jsonl"))
            values = per_layer(tracer, wl.quality, sum(wl.cycle_walls))
            metrics = {k: {"value": values[k], "unit": u} for k, u in per_layer_names().items()}
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
        print(json.dumps({
            "workload": cls.name, "seed": args.seed, "trace": args.trace,
            "nproc": int(os.environ["SPARK_GRAFT_CPUS"]),
            "master": spark.sparkContext.master,
            "cycles": n, "cycle_walls_s": wl.cycle_walls, "phases_s": phases,
            "failures": wl.failures, "end_check_failures": wl.end_failures,
            "named_metrics": {
                k: {"value": v, "unit": u} for k, (v, u) in {
                    "setup_s": (e2e["setup_s"], "s"),
                    "failed_frac": (wl.failed_frac, "ratio"),
                    "cached_mb": (e2e["cached_mb"], "MB"),
                    **detail,
                }.items()
            },
            "quality": {k: sum(v) / len(v) for k, v in wl.quality.items()},
        }))
        print(json.dumps({
            "correct": wl.failed == 0 and not wl.end_failures,
            "attempted": wl.attempted,
            "failed": wl.failed,
            "metrics": metrics,
        }), flush=True)
    finally:
        _stop(spark)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass
    return 0


if __name__ == "__main__":
    sys.exit(main())
