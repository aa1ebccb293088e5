"""Measurement from outside the program: spans, Spark job-group counts,
the Spark event log, and CPU and memory from /proc.

A span covers one call into a public function of the program. Spans
stay in memory until the run ends. Each span runs under its own Spark
job group, so the jobs, stages and tasks a call caused can be counted
afterwards from the status tracker, and its shuffle bytes from the
event log.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

import pyarrow.parquet as pq

_TICK = os.sysconf("SC_CLK_TCK")


@dataclass
class Span:
    id: int
    name: str
    op: int | None
    phase: str
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    shuffle_bytes: int = 0
    # work done inside the span, counted by the caller (rows, pairs, ...)
    count: int = 0
    # time the tracer itself spent opening and closing the span
    bookkeeping_s: float = 0.0

    @property
    def group(self) -> str:
        return f"perfbench-span-{self.id}"

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when enabled; a disabled tracer only runs the body."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=len(self.spans),
            name=name,
            op=op if op is not None else (parent.op if parent else None),
            phase=parent.phase if parent else name,
            parent=parent.id if parent else None,
            start=t0,
        )
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            s.bookkeeping_s = (s.start - t0) + (time.perf_counter() - s.end)

    def count_jobs(self) -> None:
        """Fill each span's own job, stage and task counts from the
        status tracker. Stages a job skipped (their shuffle output was
        reused) are not counted."""
        st = self.sc.statusTracker()
        for s in self.spans:
            stage_ids = set()
            job_ids = st.getJobIdsForGroup(s.group)
            for jid in job_ids:
                info = st.getJobInfo(jid)
                if info is not None:
                    stage_ids.update(info.stageIds)
            s.jobs = len(job_ids)
            for sid in stage_ids:
                info = st.getStageInfo(sid)
                if info is not None and info.numCompletedTasks > 0:
                    s.stages += 1
                    s.tasks += info.numCompletedTasks

    def add_shuffle_bytes(self, event_log_dir: str) -> None:
        """Fill each span's shuffle bytes written, from the event log of
        the stopped session: task ends give bytes per stage, stage
        submissions give the stage's job group."""
        by_group = {s.group: s for s in self.spans}
        stage_group: dict[int, str] = {}
        stage_bytes: dict[int, int] = {}
        # a rolling event log is a directory of events_* files
        for path in glob.glob(os.path.join(event_log_dir, "**", "events_*"), recursive=True):
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerStageSubmitted":
                        group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                        if group:
                            stage_group[ev["Stage Info"]["Stage ID"]] = group
                    elif kind == "SparkListenerTaskEnd":
                        w = (ev.get("Task Metrics") or {}).get("Shuffle Write Metrics") or {}
                        sid = ev["Stage ID"]
                        stage_bytes[sid] = stage_bytes.get(sid, 0) + w.get("Shuffle Bytes Written", 0)
        for sid, n in stage_bytes.items():
            s = by_group.get(stage_group.get(sid))
            if s is not None:
                s.shuffle_bytes += n

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def median_seconds(self, name: str) -> float:
        """Median duration of the spans called `name`; 0.0 when the
        workload never calls that layer."""
        xs = [s.seconds for s in self.named(name)]
        return statistics.median(xs) if xs else 0.0

    def op_totals(self, field: str, phase: str = "op") -> list[float]:
        """Per op, the sum of `field` over the spans of that op's
        `phase` (the name of the root span they sit under)."""
        acc: dict[int, float] = {}
        for s in self.spans:
            if s.op is not None and s.phase == phase:
                acc[s.op] = acc.get(s.op, 0) + getattr(s, field)
        return list(acc.values())

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": [asdict(s) for s in self.spans], **extra}, f)


# ------------------------------------------------------ /proc and disk


def tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def parquet_rows(path: str) -> int:
    """Rows of the parquet files directly under `path`, from their footers."""
    return sum(pq.ParquetFile(f).metadata.num_rows for f in glob.glob(os.path.join(path, "*.parquet")))


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return data[data.rindex(")") + 2 :].split()


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            f = _stat_fields(int(entry))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def cpu_split(jvm_pid: int) -> tuple[float, float]:
    """(JVM CPU seconds, CPU seconds of the JVM's Python workers).
    Worker CPU counts the reaped children of each worker process, so
    forked workers that already exited still count."""
    f = _stat_fields(jvm_pid)
    jvm = (int(f[11]) + int(f[12])) / _TICK if f else 0.0
    py = 0.0
    for pid in descendants(jvm_pid):
        f = _stat_fields(pid)
        if f is not None:
            py += sum(int(x) for x in f[11:15]) / _TICK
    return jvm, py


def peak_rss_mb(jvm_pid: int) -> float:
    """Sum of the peak resident set (VmHWM) of the JVM and its Python
    workers, in MB."""
    total_kb = 0
    for pid in [jvm_pid, *descendants(jvm_pid)]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024


def steal_ticks() -> int:
    """Host CPU steal so far, from /proc/stat: a noisy neighbour shows
    here, a slow program does not."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])
