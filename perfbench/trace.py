"""Spans around the benchmark's calls into the library, with Spark's own
job/task/shuffle accounting attributed to each span.

Attribution is by job-id range, not by job group: a span remembers the
scheduler's next job id when it opens and when it closes, and every job
in between belongs to it. The benchmark is a single closed-loop client,
so no other caller submits jobs meanwhile, and jobs submitted from
worker threads inside the library (whose threads do not inherit the
caller's local properties, so a job group would miss them) still land
in the range. Job and stage numbers come from the in-memory status
store, which costs nothing while the call runs; the event log is not
used, since writing it inflates walls.

Spans stay in memory; :func:`Tracer.dump` writes them when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from py4j.protocol import Py4JJavaError

MB = 1e6


@dataclass
class Span:
    name: str
    op: str | None  # the parent op
    op_id: int
    t0: float
    t1: float
    job_lo: int  # first job id that may belong to the span
    job_hi: int  # first job id after it
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_mb: float = 0.0
    result_mb: float = 0.0
    driver_s: float = 0.0
    attributed: bool = False

    @property
    def wall_s(self) -> float:
        return self.t1 - self.t0


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class Tracer:
    """``span(name)`` brackets one call into the library; spans record
    the op begun last by ``begin_op`` as their parent. With
    ``enabled=False`` spans are not recorded."""

    def __init__(self, spark, enabled: bool = True):
        self._sc = spark.sparkContext._jsc.sc()
        self._gw = spark.sparkContext._gateway
        self.enabled = enabled
        self.spans: list[Span] = []
        self._op: str | None = None
        self._op_id = -1
        self._pending: list[Span] = []
        # time spent opening and closing spans, i.e. what tracing adds to
        # the walls it measures (attribution runs between ops)
        self.overhead_s = 0.0

    def next_job_id(self) -> int:
        return int(self._sc.dagScheduler().nextJobId())

    def begin_op(self, name: str) -> None:
        """Spans opened from now on record op ``name`` as their parent."""
        self._op_id += 1
        self._op = name

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        t = time.perf_counter()
        sp = Span(name, self._op, self._op_id, time.time(), 0.0, self.next_job_id(), 0)
        self.overhead_s += time.perf_counter() - t
        try:
            yield sp
        finally:
            t = time.perf_counter()
            sp.t1 = time.time()
            sp.job_hi = self.next_job_id()
            self.spans.append(sp)
            self._pending.append(sp)
            self.overhead_s += time.perf_counter() - t

    def attribute(self) -> None:
        """Fill the counters of every span closed since the last call.
        Run it between ops, outside any timed region: it waits for the
        listener bus to drain, then reads the status store."""
        if not self._pending:
            return
        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        no_quantiles = self._gw.new_array(self._gw.jvm.double, 0)
        jobs: dict[int, tuple] = {}
        stages: dict[int, tuple] = {}
        lo = min(s.job_lo for s in self._pending)
        hi = max(s.job_hi for s in self._pending)
        for jid in range(lo, hi):
            try:
                j = store.job(jid)
            except Py4JJavaError:  # evicted from the store or never ran
                continue
            st, ct = j.submissionTime(), j.completionTime()
            t0 = st.get().getTime() / 1e3 if st.isDefined() else None
            t1 = ct.get().getTime() / 1e3 if ct.isDefined() else time.time()
            sids = j.stageIds()
            jobs[jid] = (t0, t1, [int(sids.apply(i)) for i in range(sids.size())])
        for sids in (v[2] for v in jobs.values()):
            for sid in sids:
                if sid not in stages:
                    stages[sid] = self._stage(store, sid, no_quantiles)
        for sp in self._pending:
            mine = [jobs[j] for j in range(sp.job_lo, sp.job_hi) if j in jobs]
            sp.jobs = sp.job_hi - sp.job_lo
            counted: set[int] = set()
            for _t0, _t1, sids in mine:
                for sid in sids:
                    st = stages[sid]
                    # a job also lists the stages it reused from an
                    # earlier job (skipped); count only stages that ran
                    # inside this span
                    if sid in counted or st is None or not sp.t0 - 1e-3 <= st[0] <= sp.t1 + 1e-3:
                        continue
                    counted.add(sid)
                    _sub, done, failed, run_ms, gc_ms, shuf, res = st
                    sp.tasks += done + failed
                    sp.failed_tasks += failed
                    sp.task_s += run_ms / 1e3
                    sp.gc_s += gc_ms / 1e3
                    sp.shuffle_mb += shuf / MB
                    sp.result_mb += res / MB
            sp.driver_s = sp.wall_s - _covered(
                [(a, b) for a, b, _ in mine if a is not None], sp.t0, sp.t1
            )
            sp.attributed = len(mine) == sp.jobs
        self._pending = []

    @staticmethod
    def _stage(store, sid: int, no_quantiles):
        """(first submission time, completed tasks, failed tasks, run ms,
        gc ms, shuffle bytes, result bytes) summed over the stage's
        attempts; None when it never ran or left the store."""
        try:
            attempts = store.stageData(sid, False, None, False, no_quantiles)
        except Py4JJavaError:
            return None
        sub, acc = None, [0] * 6
        for i in range(attempts.size()):
            s = attempts.apply(i)
            t = s.submissionTime()
            if t.isDefined():
                ts = t.get().getTime() / 1e3
                sub = ts if sub is None else min(sub, ts)
            for k, v in enumerate((
                s.numCompleteTasks(), s.numFailedTasks(), s.executorRunTime(),
                s.jvmGcTime(), s.shuffleReadBytes() + s.shuffleWriteBytes(),
                s.resultSize(),
            )):
                acc[k] += v
        return None if sub is None else (sub, *acc)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                d = asdict(sp)
                d["wall_s"] = sp.wall_s
                f.write(json.dumps(d) + "\n")
