"""Spans, Spark counters, self-time arithmetic and process-tree RSS.

Spans are recorded by the benchmark around its calls into the program's
public functions; nothing inside the program is instrumented.  Because
Spark plans lazily, each span is forced by its own action, and a layer's
work is measured as a *cumulative prefix*: the span for "scan + tokenize"
repeats the scan, so the tokenizer's self time is that span minus the scan
span it names as its ``prefix``.  Spans nested inside another span's
interval (``parent``) are subtracted as usual.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from pathlib import Path

# Engine counters summed over the stages a span's job group ran.
SPARK_COUNTERS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.tasks_failed",
    "spark.task_run_s", "spark.gc_s", "spark.shuffle_write_bytes",
    "spark.shuffle_read_bytes", "spark.spill_bytes",
    # not reported as metrics; used for the layer counters
    "spark.input_records", "spark.shuffle_write_records",
)


@dataclass
class Span:
    name: str
    iteration: int
    start: float
    end: float
    parent: str | None = None
    prefix: str | None = None
    counters: dict[str, float] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[tuple[int, str], float]:
    """(iteration, name) -> span seconds minus its prefix span and minus
    the part of its interval covered by its child spans."""
    by_key = {(s.iteration, s.name): s for s in spans}
    out = {}
    for s in spans:
        own = s.seconds
        if s.prefix is not None:
            own -= by_key[(s.iteration, s.prefix)].seconds
        children = sorted(
            (c.start, c.end) for c in spans
            if c.iteration == s.iteration and c.parent == s.name
        )
        covered, reach = 0.0, s.start
        for start, end in children:
            start, end = max(start, reach, s.start), min(end, s.end)
            if end > start:
                covered += end - start
                reach = end
        out[(s.iteration, s.name)] = own - covered
    return out


def self_counter(spans: list[Span], name: str, counter: str) -> list[float]:
    """Per-iteration value of ``counter`` in span ``name`` minus its prefix."""
    by_key = {(s.iteration, s.name): s for s in spans}
    values = []
    for s in spans:
        if s.name != name:
            continue
        v = s.counters.get(counter, 0.0)
        if s.prefix is not None:
            v -= by_key[(s.iteration, s.prefix)].counters.get(counter, 0.0)
        values.append(v)
    return values


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def spark_counters(spark, groups: list[str]) -> dict[str, float]:
    """Sum the status-store metrics of every stage run by jobs in ``groups``.

    Waits for the listener bus to drain first: the status store is fed
    asynchronously, so a stage that just finished may not be recorded yet.
    """
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker, store = sc.statusTracker(), jsc.statusStore()
    c = dict.fromkeys(SPARK_COUNTERS, 0.0)
    stage_ids: set[int] = set()
    for group in groups:
        for job in tracker.getJobIdsForGroup(group):
            c["spark.jobs"] += 1
            info = tracker.getJobInfo(job)
            if info is not None:
                stage_ids.update(info.stageIds)
    for sid in stage_ids:
        sd = store.lastStageAttempt(sid)
        if sd.status().toString() == "SKIPPED":
            continue
        c["spark.stages"] += 1
        c["spark.tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
        c["spark.tasks_failed"] += sd.numFailedTasks()
        c["spark.task_run_s"] += sd.executorRunTime() / 1000
        c["spark.gc_s"] += sd.jvmGcTime() / 1000
        c["spark.shuffle_write_bytes"] += sd.shuffleWriteBytes()
        c["spark.shuffle_read_bytes"] += sd.shuffleReadBytes()
        c["spark.spill_bytes"] += sd.diskBytesSpilled()
        c["spark.input_records"] += sd.inputRecords()
        c["spark.shuffle_write_records"] += sd.shuffleWriteRecords()
    return c


class Tracer:
    """Keeps spans in memory; ``dump`` writes them out when the run ends."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self.iteration = 0

    @contextmanager
    def span(self, name: str, prefix: str | None = None, parent: str | None = None):
        """Time the body under its own job group.  The body may add
        counters to the yielded dict, and job-group ids under the key
        ``"groups"`` for jobs run by other threads (streaming queries)."""
        sc = self.spark.sparkContext
        group = f"perfbench-{self.iteration}-{name}"
        extra: dict = {"groups": [group]}
        sc.setJobGroup(group, name)
        start = time.perf_counter()
        try:
            yield extra
        finally:
            end = time.perf_counter()
            sc.setLocalProperty("spark.jobGroup.id", None)
        counters = spark_counters(self.spark, extra.pop("groups"))
        counters.update(extra)
        self.spans.append(Span(name, self.iteration, start, end, parent, prefix, counters))

    def annotate(self, **counters: float) -> None:
        """Add counters measured after the last span closed."""
        self.spans[-1].counters.update(counters)

    def seconds(self, name: str, iteration: int) -> float:
        return next(
            s.seconds for s in self.spans if s.name == name and s.iteration == iteration
        )

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps([asdict(s) for s in self.spans], indent=1))


def _tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat[stat.rfind(b")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    pids, todo = [], [root]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(children.get(pid, ()))
    return pids


class PeakRss:
    """Peak resident memory of this process and its descendants (the JVM
    and the Python workers it forks), from the kernel's per-process
    high-water mark ``VmHWM``.

    Entering resets every live process's mark (``clear_refs`` 5), so
    set-up and warm-up do not count; ``peak`` sums the marks of the
    processes alive at exit.  Per-process marks are exact where sampling
    would miss short peaks, and a process caught between fork and exec,
    which shares its parent's pages, is not alive at exit to be counted
    twice.
    """

    def __init__(self):
        self.peak = 0

    def __enter__(self) -> PeakRss:
        for pid in _tree_pids(os.getpid()):
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:
                pass
        return self

    def __exit__(self, *exc) -> None:
        total = 0
        for pid in _tree_pids(os.getpid()):
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            total += int(line.split()[1]) * 1024
            except OSError:
                pass
        self.peak = total
