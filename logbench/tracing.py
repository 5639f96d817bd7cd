"""Measurement helpers that sit outside the engine: spans, Spark
status-store totals per job group, executed-plan metrics, py4j command
counts, streaming progress, peak RSS and the benchmark's statistics.

Nothing here patches the package. Spans time calls into its public
functions; engine numbers are read from Spark's own status store and
executed plans.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time
from dataclasses import asdict, dataclass, field

#: percentiles the tail is chosen from, highest last
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def tail_percentile(samples: list[float]) -> tuple[float, float, int] | None:
    """The highest ladder percentile with at least ``MIN_BEYOND``
    samples strictly above its rank, as ``(percentile, value, n)``.
    The value is the sample at that rank (nearest-rank, no
    interpolation). None when even the median has fewer than ten
    samples beyond it."""
    n = len(samples)
    best = None
    for p in TAIL_LADDER:
        rank = max(1, -(-round(p * 10) * n // 1000))  # ceil(p/100 * n)
        if n - rank >= MIN_BEYOND:
            best = (p, sorted(samples)[rank - 1], n)
    return best


def prefix_self_times(walls: dict[str, float], order: list[str]) -> dict[str, float]:
    """Self time of each layer from cumulative prefix walls: the first
    prefix keeps its wall, every later one is its wall minus the wall
    of the prefix before it. Differences can be slightly negative when
    a layer costs less than the run-to-run noise; they are reported as
    measured."""
    out: dict[str, float] = {}
    prev = 0.0
    for name in order:
        out[name] = walls[name] - prev
        prev = walls[name]
    return out


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory spans, written out once when the run ends. A disabled
    tracer records nothing and ``span`` only yields."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.run_id = ""

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sp = Span(name, time.perf_counter(), 0.0,
                  self._stack[-1] if self._stack else None, self.run_id, attrs)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


# ---------------------------------------------------------------------
# Spark status store and executed plans
# ---------------------------------------------------------------------

ENGINE_KEYS = (
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s",
    "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.tasks",
    "spark.failed_tasks",
)


def _seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def stages_for_groups(spark, groups: set[str]) -> list:
    """Last attempt of every stage that ran for jobs in ``groups``
    (stages skipped because their shuffle output was reused have no
    attempt and are left out)."""
    from py4j.protocol import Py4JJavaError

    store = spark.sparkContext._jsc.sc().statusStore()
    out, seen = [], set()
    for job in _seq(store.jobsList(None)):
        g = job.jobGroup()
        if not g.isDefined() or g.get() not in groups:
            continue
        for sid in _seq(job.stageIds()):
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # NoSuchElementException: never ran
                continue
            if st.numCompleteTasks() + st.numFailedTasks() > 0:
                out.append(st)
    return out


def jobs_for_groups(spark, groups: set[str]) -> int:
    store = spark.sparkContext._jsc.sc().statusStore()
    return sum(
        1 for job in _seq(store.jobsList(None))
        if job.jobGroup().isDefined() and job.jobGroup().get() in groups
    )


def engine_totals(stages: list) -> dict[str, float]:
    return {
        "spark.executor_run_s": sum(s.executorRunTime() for s in stages) / 1e3,
        "spark.executor_cpu_s": sum(s.executorCpuTime() for s in stages) / 1e9,
        "spark.gc_s": sum(s.jvmGcTime() for s in stages) / 1e3,
        "spark.shuffle_write_bytes": float(sum(s.shuffleWriteBytes() for s in stages)),
        "spark.spill_bytes": float(
            sum(s.memoryBytesSpilled() + s.diskBytesSpilled() for s in stages)
        ),
        "spark.tasks": float(sum(s.numCompleteTasks() for s in stages)),
        "spark.failed_tasks": float(sum(s.numFailedTasks() for s in stages)),
    }


def input_totals(stages: list) -> tuple[float, float]:
    """(records, bytes) read from storage by these stages."""
    return (
        float(sum(s.inputRecords() for s in stages)),
        float(sum(s.inputBytes() for s in stages)),
    )


def scan_tasks_with_input(spark, stages: list) -> float:
    """Tasks that read at least one record, over the scan stages."""
    store = spark.sparkContext._jsc.sc().statusStore()
    n = 0
    for st in stages:
        if st.inputRecords() <= 0:
            continue
        for t in _seq(store.taskList(st.stageId(), st.attemptId(), 100000)):
            m = t.taskMetrics()
            if m.isDefined() and m.get().inputMetrics().recordsRead() > 0:
                n += 1
    return float(n)


def plan_metric(jdf_qe, node_name: str, metric: str) -> float:
    """Sum of one SQL metric over every node called ``node_name`` in
    an executed query's final physical plan, descending into AQE query
    stages."""
    total = 0.0
    plan = jdf_qe.executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.finalPhysicalPlan()
    todo = [plan]
    while todo:
        node = todo.pop()
        if node.nodeName() == node_name:
            ms = node.metrics()
            if ms.contains(metric):
                total += ms.apply(metric).value()
        cls = node.getClass().getSimpleName()
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
        todo.extend(_seq(node.children()))
    return total


class Py4jCounter:
    """Counts commands sent from Python to the JVM while active, by
    wrapping the gateway client's ``send_command`` on the instance."""

    def __init__(self, spark):
        self.client = spark.sparkContext._gateway._gateway_client
        self.count = 0

    def __enter__(self):
        orig = self.client.send_command

        def counted(*a, **k):
            self.count += 1
            return orig(*a, **k)

        self.client.send_command = counted
        return self

    def __exit__(self, *exc):
        del self.client.send_command  # back to the class method
        return False


# ---------------------------------------------------------------------
# host: memory and probes
# ---------------------------------------------------------------------


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
    except OSError:
        pass
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Sum of ``VmHWM`` (peak resident set) over this process and all
    its live descendants: the JVM the driver launched and any Python
    workers it forked."""
    total, todo, seen = 0, [os.getpid()], set()
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        total += _hwm_kb(pid)
        todo += _children(pid)
    return total / 1024.0


def dir_files_bytes(path: str, suffix: str = ".parquet") -> tuple[int, int]:
    files = nbytes = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(suffix):
                files += 1
                nbytes += os.path.getsize(os.path.join(root, n))
    return files, nbytes
