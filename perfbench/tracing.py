"""Spans, Spark engine counters and process-tree RSS for the benchmark.

Everything here observes the engine from outside: a span is a wall-clock
interval around one of the benchmark's own calls, tagged with a Spark job
group so the status store can be asked afterwards which jobs, stages and
tasks ran inside it. Nothing in the library is patched.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass, field

# Per-span engine counters, summed over the COMPLETE stages of the span's
# jobs. `below_parallelism` counts stages whose task count is under the
# session's default parallelism (the "one task on N cores" collapse).
COUNTERS = ("tasks", "below_parallelism", "executor_run_s", "executor_cpu_s",
            "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    op_id: int
    counters: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


def self_time(span: Span, children: list[tuple[float, float]]) -> float:
    """`span` minus the part of its interval that `children` cover (their
    union, clipped to the span, so overlapping children count once)."""
    covered = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, span.start), min(e, span.end))
                       for s, e in children):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return span.seconds - covered


class Tracer:
    """Keeps spans in memory; `enabled=False` makes `span()` a plain timer
    with no job group and no status-store reads (the untraced runs)."""

    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self.jobs: list[Span] = []  # engine jobs, children of traced spans
        self._seq = 0

    def span(self, name: str, op_id: int = -1, parent: str | None = None):
        return _SpanCtx(self, name, op_id, parent)

    # -- status store -------------------------------------------------------
    def _store(self):
        return self.spark.sparkContext._jsc.sc().statusStore()

    def _drain(self) -> None:
        # the status store is fed by an asynchronous listener bus; wait for
        # it so the span's last stages are visible
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def _collect(self, span: Span, group: str) -> None:
        self._drain()
        store = self._store()
        jobs = store.jobsList(None)
        stage_ids: set[int] = set()
        n_jobs = 0
        wall_offset = time.time() - time.perf_counter()
        for i in range(jobs.size()):
            j = jobs.apply(i)
            g = j.jobGroup()
            if not (g.isDefined() and g.get() == group):
                continue
            n_jobs += 1
            it = j.stageIds().iterator()
            while it.hasNext():
                stage_ids.add(int(it.next()))
            sub, comp = j.submissionTime(), j.completionTime()
            if sub.isDefined() and comp.isDefined():
                self.jobs.append(Span(
                    "job", sub.get().getTime() / 1e3 - wall_offset,
                    comp.get().getTime() / 1e3 - wall_offset,
                    span.name, span.op_id))
        c = dict.fromkeys(COUNTERS, 0.0)
        c["jobs"] = float(n_jobs)
        par = self.spark.sparkContext.defaultParallelism
        gw = self.spark.sparkContext._gateway
        stages = store.stageList(None, False, False,
                                 gw.new_array(gw.jvm.double, 0), None)
        for i in range(stages.size()):
            s = stages.apply(i)
            if int(s.stageId()) not in stage_ids or \
                    s.status().toString() != "COMPLETE":
                continue
            c["tasks"] += s.numTasks()
            c["below_parallelism"] += 1 if s.numTasks() < par else 0
            c["executor_run_s"] += s.executorRunTime() / 1e3
            c["executor_cpu_s"] += s.executorCpuTime() / 1e9
            c["shuffle_read_bytes"] += s.shuffleReadBytes()
            c["shuffle_write_bytes"] += s.shuffleWriteBytes()
            c["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        span.counters = c


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, op_id: int,
                 parent: str | None) -> None:
        self.t, self.name, self.op_id, self.parent = tracer, name, op_id, parent
        self.span: Span | None = None

    def __enter__(self) -> Span:
        t = self.t
        if t.enabled:
            t._seq += 1
            self.group = f"pb{t._seq}:{self.name}"
            t.spark.sparkContext.setJobGroup(self.group, self.name)
        self.span = Span(self.name, time.perf_counter(), 0.0, self.parent,
                         self.op_id)
        return self.span

    def __exit__(self, *exc) -> None:
        t, span = self.t, self.span
        span.end = time.perf_counter()
        if t.enabled:
            t.spark.sparkContext._jsc.clearJobGroup()
            t._collect(span, self.group)
            t.spans.append(span)


# -- memory --------------------------------------------------------------------

def _tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # process exited while listing
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def tree_rss_bytes(root: int) -> int:
    """Resident bytes summed over `root` and all its descendants (driver,
    JVM, Python workers). Each process counts its proportional share of
    pages it shares (Pss): forked Python workers share most of their pages
    with the worker daemon, and plain RSS would count those once per
    worker."""
    total = 0
    for p in _tree_pids(root):
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            continue  # exited, or a kernel thread without an address space
    return total


def tree_cpu_seconds(root: int) -> float:
    """User + system CPU seconds of `root` and its descendants, including
    descendants that already exited and were reaped (their time moves to
    the parent's cutime/cstime, so the sum is kept)."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in _tree_pids(root):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime (stat fields 14-17)
        total += sum(int(x) for x in fields[11:15])
    return total / tick


class RssSampler:
    """Samples the process tree's RSS every `interval` seconds while active
    (`with sampler:`); `peak` is the largest sum seen."""

    def __init__(self, root: int, interval: float = 0.1) -> None:
        self.root, self.interval = root, interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(self.root))
