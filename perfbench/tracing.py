"""Spans, Spark job-group attribution, event-log summaries and process
memory for the crawl benchmark.

Spans are recorded from the benchmark's own code around each call into a
layer of the package; nothing inside the package is instrumented. While a
span is open its id is the Spark job group, so every job (and through the
event log every stage and task) a layer call launches is attributed to
that span. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"{self.run_id}/{self.span_id}"

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when enabled; a no-op context manager otherwise, so
    the untraced run pays nothing (end-to-end timings use plain timers)."""

    def __init__(self, run_id: str, enabled: bool, spark=None) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _set_group(self, span: Span | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(span.group, span.name)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            span_id=len(self.spans),
            name=name,
            parent=parent.span_id if parent else None,
            run_id=self.run_id,
            start=time.perf_counter(),
            attrs=dict(attrs),
        )
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)

    def self_time(self, sp: Span) -> float:
        """Span duration minus the part of it covered by child spans."""
        kids = sorted(
            (c.start, c.end) for c in self.spans if c.parent == sp.span_id
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return sp.duration - covered

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                [dict(asdict(s), self_s=self.self_time(s)) for s in self.spans],
                fh,
                indent=1,
            )


# --------------------------------------------------------------- event log
@dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    busy_ms: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


def read_event_log(log_dir: str) -> dict[str | None, GroupStats]:
    """Per-job-group totals from the Spark event log(s) under ``log_dir``
    (jobs carry their group in the job-start properties; tasks map to a
    group through their stage)."""
    stage_group: dict[int, str | None] = {}
    out: dict[str | None, GroupStats] = {}
    for fname in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, fname)) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    out.setdefault(group, GroupStats()).jobs += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    g = out.setdefault(
                        stage_group.get(ev["Stage ID"]), GroupStats()
                    )
                    info = ev.get("Task Info", {})
                    m = ev.get("Task Metrics") or {}
                    g.tasks += 1
                    if info.get("Failed") or info.get("Killed"):
                        g.failed_tasks += 1
                    g.busy_ms += info.get("Finish Time", 0) - info.get(
                        "Launch Time", 0
                    )
                    g.gc_ms += m.get("JVM GC Time", 0)
                    g.spill_bytes += m.get("Disk Bytes Spilled", 0)
                    g.shuffle_write_bytes += (
                        m.get("Shuffle Write Metrics") or {}
                    ).get("Shuffle Bytes Written", 0)
    return out


def task_totals(spark) -> tuple[int, int]:
    """(tasks run, tasks failed) over every job the status tracker still
    holds — the untraced run's failed-task count, without an event log."""
    st = spark.sparkContext.statusTracker()
    stage_ids: set[int] = set()
    for jid in st.getJobIdsForGroup(None):
        info = st.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    done = failed = 0
    for sid in stage_ids:
        s = st.getStageInfo(sid)
        if s is not None:
            done += s.numCompletedTasks
            failed += s.numFailedTasks
    return done, failed


# ---------------------------------------------------------- process memory
_PAGE = os.sysconf("SC_PAGE_SIZE")


def descendants(root: int) -> list[int]:
    """Every live process below ``root`` (from /proc parent links)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE
    except OSError:
        return 0


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided
    among the processes that map it."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class PeakRss(threading.Thread):
    """Samples the resident memory of a process tree and keeps the peak:
    the JVM's RSS plus the proportional set size of its Python workers,
    which are forked from one daemon and share its pages copy-on-write
    (summing their RSS would count those pages once per worker). The
    JVM shares next to nothing, and its PSS costs a page-table walk of
    the whole heap per read. A child the JVM is spawning still runs the
    JVM's image and shares its address space until it execs, so such
    children are skipped rather than counted as a second JVM. psutil is
    not available, so this reads /proc directly."""

    def __init__(self, root_pid: int, interval: float = 0.5) -> None:
        super().__init__(daemon=True)
        self.root_pid = root_pid
        self.root_exe = _exe(root_pid)
        self.interval = interval
        self.peak = 0
        self._stop_evt = threading.Event()

    def sample(self) -> None:
        total = rss_bytes(self.root_pid) + sum(
            pss_bytes(p)
            for p in descendants(self.root_pid)
            if _exe(p) != self.root_exe
        )
        self.peak = max(self.peak, total)

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.sample()
            self._stop_evt.wait(self.interval)

    def stop(self) -> int:
        self._stop_evt.set()
        self.join(timeout=5)
        self.sample()
        return self.peak
