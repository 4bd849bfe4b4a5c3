"""Tests for the benchmark's own code.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

import numpy as np
import pytest

from perfbench import gen
from perfbench.stats import tail
from perfbench.workloads import Workload, check


def test_generator_is_deterministic_per_seed():
    for f in (lambda s: gen.corpus(s, 500), lambda s: gen.queries(s, 50, stream=3)):
        assert np.array_equal(f(7), f(7))
        assert not np.array_equal(f(7), f(8))
    a, b = gen.documents(7, 300), gen.documents(7, 300)
    assert a.texts == b.texts and a.twins == b.twins
    assert gen.documents(8, 300).texts != a.texts
    assert gen.bm25_queries(7, 20) == gen.bm25_queries(7, 20)
    base = gen.corpus(7, 400)
    t1, t2 = gen.ingest_tail(7, base, 1000), gen.ingest_tail(7, base, 1000)
    assert np.array_equal(t1.X, t2.X) and t1.twins == t2.twins


def test_planted_twins():
    d = gen.documents(3, 500)
    assert len(d.twins) == 10
    for src, twin in d.twins:
        assert d.texts[twin] == d.texts[src] + " " + gen.TWIN_TOKEN
    base = gen.corpus(3, 400)
    t = gen.ingest_tail(3, base, 1000)
    assert len(t.twins) == 10  # one per 100-row block
    X = np.concatenate([base, t.X])
    for src, twin in t.twins:
        assert src < twin
        a, b = X[src].astype(np.float64), X[twin].astype(np.float64)
        assert 1 - a @ b / np.linalg.norm(a) / np.linalg.norm(b) < 1e-4


def test_tail_has_ten_samples_beyond():
    assert tail(range(10)) is None
    value, pct, n = tail(range(1, 12))  # 11 samples: the smallest has 10 above it
    assert (value, n) == (1, 11) and pct == pytest.approx(100 / 11)
    value, pct, n = tail(list(range(100, 0, -1)))
    assert (value, pct, n) == (90, 90.0, 100)
    assert sum(1 for x in range(1, 101) if x > value) == 10


class _NoTrace:
    @contextmanager
    def span(self, name):
        yield None


class _Ops(Workload):
    name = "fake"
    ran_after = 0

    def cycle(self):
        self.op("ok", lambda: 1, lambda out: check(out == 1, "bad"))
        self.op("wrong", lambda: 2, lambda out: check(out == 1, "wrong output"))
        self.op("raises", lambda: 1 / 0)
        self.op("after", lambda: setattr(self, "ran_after", self.ran_after + 1))


def test_failed_check_counts_and_run_continues():
    wl = _Ops(None, 0, "", _NoTrace())
    for _ in range(2):
        assert wl.run_cycle() >= 0
    assert wl.ran_after == 2 and len(wl.cycle_walls) == 2
    assert (wl.attempted, wl.failed) == (8, 4)
    assert wl.failed_frac == 0.5
    assert wl.failures[0].startswith("wrong: CheckFailed: wrong output")
    assert wl.failures[1].startswith("raises: ZeroDivisionError")


@pytest.fixture(scope="module")
def spark():
    from lanterndb_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests", master="local[2]", shuffle_partitions=2)
    yield s
    s.stop()


def test_job_range_catches_worker_thread_jobs(spark):
    from perfbench.trace import Tracer

    tracer = Tracer(spark)
    tracer.begin_op("op")
    sc = spark.sparkContext
    sc.setJobGroup("caller-group", "set on the calling thread only")
    try:
        with tracer.span("threaded"):
            t = threading.Thread(target=lambda: spark.range(1000).repartition(2).count())
            t.start()
            t.join(timeout=120)
    finally:
        sc.setJobGroup(None, None)
    assert not t.is_alive()
    with tracer.span("idle"):
        pass
    tracer.attribute()
    threaded, idle = tracer.spans
    assert threaded.op == "op" and threaded.attributed
    assert threaded.jobs >= 1 and threaded.tasks >= 3
    assert threaded.shuffle_mb > 0 and threaded.task_s >= 0
    assert 0 <= threaded.driver_s <= threaded.wall_s
    # the worker thread's jobs did not inherit the caller's job group, so
    # a group-based attribution would have found nothing
    assert sc.statusTracker().getJobIdsForGroup("caller-group") == []
    assert idle.jobs == 0 and idle.tasks == 0
