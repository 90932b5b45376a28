"""Spans, a Spark ledger and process CPU time.

A :class:`Tracer` keeps spans in memory: name, layer, start, end, parent
and the timed op they belong to.  After every op the :class:`SparkLedger`
reads the jobs submitted since the previous read from Spark's status
store (``statusStore().job`` and ``lastStageAttempt``; both work with the
UI disabled).  The store keeps only about 1000 jobs, so reads happen op
by op, never once at the end.

A span's Spark cost is the set of jobs submitted inside its interval.
Job groups are thread-local and jobs started from helper threads (the
parallel file listing, for one) carry no group, so the op-level job
group is kept only as a cross-check against that interval count.

Every run, traced or not, reads the ledger and :func:`process_cpu_s`
around each timed op: the gated metrics are Spark job counts and CPU
seconds.
"""

from __future__ import annotations

import math
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError


def percentile_or_none(values: list[float], q: float) -> float | None:
    """The nearest-rank ``q``-quantile of ``values`` (0 < q < 1), or None
    unless at least ten samples lie beyond it — a thinner tail is not
    reported."""
    n = len(values)
    rank = math.ceil(q * n - 1e-9)
    if n == 0 or n - rank < 10:
        return None
    return sorted(values)[rank - 1]


def median(values: list[float]) -> float:
    """0 when there is no sample (every op of the kind failed)."""
    return statistics.median(values) if values else 0.0


def mean(values: list[float]) -> float:
    return statistics.fmean(values) if values else 0.0


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _stat(path: str) -> tuple[str, list[str]] | None:
    """``(comm, fields after comm)`` of a ``/proc`` stat file, or None
    when the process or thread has exited."""
    try:
        with open(path) as fh:
            stat = fh.read()
    except OSError:
        return None
    close = stat.rindex(")")
    return stat[stat.index("(") + 1:close], stat[close + 2:].split()


def process_cpu_s(jvm_pid: int) -> float:
    """CPU seconds (user + system) used so far by this Python driver, the
    JVM (Spark driver and local executors) and the JVM's descendants (the
    Python UDF workers), read from ``/proc``, less the JVM's JIT compiler
    threads.  Reaped children count through their parent's
    ``cutime``/``cstime``, so the total never goes back; compiler threads
    never exit because the benchmark's JVM runs with
    ``-XX:-UseDynamicNumberOfCompilerThreads``."""
    ppid_ticks: dict[int, tuple[int, int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (st := _stat(f"/proc/{name}/stat")) is not None:
            f = st[1]  # utime, stime, cutime, cstime are f[11:15]
            ppid_ticks[int(name)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    ticks, todo = 0, [jvm_pid]
    while todo:
        pid = todo.pop()
        ticks += ppid_ticks.get(pid, (0, 0))[1]
        todo += [c for c, (pp, _) in ppid_ticks.items() if pp == pid]
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        st = _stat(f"/proc/{jvm_pid}/task/{tid}/stat")
        if st is not None and "CompilerThre" in st[0]:  # "C2 CompilerThre"
            ticks -= sum(int(x) for x in st[1][11:13])  # its own utime + stime
    t = os.times()
    return t.user + t.system + ticks * _TICK_S


@dataclass
class Job:
    job_id: int
    submit_ms: int
    end_ms: int
    stages: dict  # stage id -> per-stage metrics dict


@dataclass
class Span:
    span_id: int
    name: str
    layer: str
    parent: int | None
    op: int | None
    phase: str
    start_ms: float
    end_ms: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return (self.end_ms - self.start_ms) / 1000.0


_STAGE_FIELDS = {
    "tasks": "numCompleteTasks",
    "exec_run_ms": "executorRunTime",
    "exec_cpu_ns": "executorCpuTime",
    "input_bytes": "inputBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "output_bytes": "outputBytes",
}


class SparkLedger:
    """Incremental reader of finished jobs and their stages."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.next_id = 0
        self.jobs: list[Job] = []
        self.read_s = 0.0

    def poll(self) -> list[Job]:
        """Read every job with an id not yet seen; stop at the first gap."""
        t0 = time.perf_counter()
        new = []
        while True:
            try:
                jd = self.store.job(self.next_id)
            except Py4JJavaError:
                break
            if not jd.completionTime().isDefined():
                break  # still running: read it on the next poll
            stages = {}
            ids = jd.stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue
                if str(sd.status()) == "SKIPPED":
                    continue
                stages[sid] = {k: int(getattr(sd, m)()) for k, m in _STAGE_FIELDS.items()}
            new.append(Job(
                job_id=self.next_id,
                submit_ms=int(jd.submissionTime().get().getTime()),
                end_ms=int(jd.completionTime().get().getTime()),
                stages=stages,
            ))
            self.next_id += 1
        self.jobs.extend(new)
        self.read_s += time.perf_counter() - t0
        return new

    def group_job_count(self, group: str) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(group))


def ledger_of(jobs: list[Job], start_ms: float, end_ms: float) -> dict:
    """Spark cost of the jobs submitted in ``[start_ms, end_ms]``.

    ``driver_s`` is the interval minus the union of its job intervals:
    planning, Python orchestration and manifest I/O."""
    inside = [j for j in jobs if start_ms <= j.submit_ms <= end_ms]
    stages: dict = {}
    for j in inside:
        stages.update(j.stages)
    total = {k: sum(s[k] for s in stages.values()) for k in _STAGE_FIELDS}
    busy, cur_s, cur_e = 0.0, None, None
    for j in sorted(inside, key=lambda j: j.submit_ms):
        s, e = j.submit_ms, min(j.end_ms, end_ms)
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        busy += cur_e - cur_s
    wall_ms = end_ms - start_ms
    return {
        "jobs": len(inside),
        "stages": len(stages),
        "tasks": total["tasks"],
        "exec_run_s": total["exec_run_ms"] / 1000.0,
        "exec_cpu_s": total["exec_cpu_ns"] / 1e9,
        "input_bytes": total["input_bytes"],
        "shuffle_bytes": total["shuffle_write_bytes"],
        "shuffle_read_bytes": total["shuffle_read_bytes"],
        "output_bytes": total["output_bytes"],
        "driver_s": max(0.0, wall_ms - busy) / 1000.0,
    }


class Tracer:
    """Span stack plus the ledger; one per traced run."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.ledger: SparkLedger | None = None
        self.phase = "setup"
        self._stack = threading.local()
        self._op: int | None = None
        self.bookkeeping_s = 0.0  # tracer time spent inside op spans

    def _parent(self) -> int | None:
        stack = getattr(self._stack, "ids", None)
        return stack[-1] if stack else None

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        t0 = time.perf_counter()
        sp = Span(len(self.spans), name, layer, self._parent(), self._op,
                  self.phase, time.time() * 1000.0, attrs=dict(attrs))
        self.spans.append(sp)
        stack = getattr(self._stack, "ids", None)
        if stack is None:
            stack = self._stack.ids = []
        stack.append(sp.span_id)
        if self._op is not None:
            self.bookkeeping_s += time.perf_counter() - t0
        try:
            yield sp
        finally:
            t1 = time.perf_counter()
            sp.end_ms = time.time() * 1000.0
            stack.pop()
            if self._op is not None:
                self.bookkeeping_s += time.perf_counter() - t1

    @contextmanager
    def op_span(self, name: str, layer: str, **attrs):
        """A timed op: a span that owns a job group and is read right
        after it ends."""
        group = f"bench-op-{len(self.spans)}"
        self.ledger.sc.setJobGroup(group, name)
        with self.span(name, layer, **attrs) as sp:
            self._op = sp.span_id
            try:
                yield sp
            finally:
                self._op = None
        self.ledger.sc.setJobGroup("bench-idle", "between ops")
        self.ledger.poll()
        sp.attrs["group_jobs"] = self.ledger.group_job_count(group)

    def cost(self, sp: Span) -> dict:
        jobs = self.ledger.jobs if self.ledger is not None else []
        return ledger_of(jobs, sp.start_ms, sp.end_ms)

    def children(self, sp: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == sp.span_id]

    def self_s(self, sp: Span) -> float:
        """Span wall minus the part its direct children cover."""
        return sp.wall_s - sum(c.wall_s for c in self.children(sp))

    def dump(self) -> dict:
        return {
            "spans": [
                {"id": s.span_id, "name": s.name, "layer": s.layer,
                 "parent": s.parent, "op": s.op, "phase": s.phase,
                 "start_ms": s.start_ms, "end_ms": s.end_ms, "attrs": s.attrs,
                 "spark": self.cost(s)}
                for s in self.spans
            ],
            "jobs": len(self.ledger.jobs) if self.ledger else 0,
        }
