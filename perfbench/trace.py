"""Spans, the offline Spark event-log reader and the RSS sampler.

A span is opened around each public call the benchmark makes into a
layer. It records name, layer, start, end, parent and pass id, and it
sets the Spark job description to ``<pass>|<span id>|<name>`` so that
the event log ties every job, stage and task to the span that ran it.
Spans stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time
from dataclasses import asdict, dataclass, field
from pathlib import Path


@dataclass
class Span:
    id: int
    name: str
    layer: str
    pass_id: str
    parent: int | None
    start: float
    end: float = 0.0
    prefix: int | None = None  # span whose work this span's output recomputes
    counts: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans; ``enabled=False`` makes every call a no-op."""

    def __init__(self, spark=None, enabled: bool = True):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._last: dict[str, Span] = {}
        self.pass_id = "setup"

    @contextlib.contextmanager
    def span(self, name: str, layer: str, prefix: str | None = None):
        """Open a span. ``prefix`` names an earlier span of this pass whose
        output this span's materialisation recomputes; its duration is
        subtracted from this span's self time."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        pre = self._last.get(prefix) if prefix else None
        s = Span(len(self.spans), name, layer, self.pass_id,
                 parent.id if parent else None, time.perf_counter(),
                 prefix=pre.id if pre is not None and pre.pass_id == self.pass_id else None)
        self.spans.append(s)
        self._stack.append(s)
        self._set_description(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._last[name] = s
            self._set_description(self._stack[-1] if self._stack else None)

    def _set_description(self, s: Span | None, suffix: str = "") -> None:
        if self.spark is not None:
            desc = f"{s.pass_id}|{s.id}|{s.name}{suffix}" if s else None
            self.spark.sparkContext.setJobDescription(desc)

    def materialize(self, df) -> None:
        """Run ``df`` into a noop sink inside the open span. Its jobs are
        marked ``|m``: tracing work, left out of the pass's job counts."""
        cur = self._stack[-1] if self._stack else None
        self._set_description(cur, "|m")
        try:
            df.write.format("noop").mode("overwrite").save()
        finally:
            self._set_description(cur)

    def self_time(self, s: Span) -> float:
        kids = sum(c.dur for c in self.spans if c.parent == s.id)
        pre = self.spans[s.prefix].dur if s.prefix is not None else 0.0
        return max(s.dur - kids - pre, 0.0)

    def write(self, path: Path) -> None:
        path.write_text("\n".join(json.dumps({**asdict(s), "self_s": self.self_time(s)})
                                  for s in self.spans) + "\n")


# ---------------------------------------------------------------- event log

@dataclass
class JobStats:
    description: str
    tasks: int = 0
    run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write: int = 0
    spill: int = 0
    records_read: int = 0
    python_s: float = 0.0
    task_s: dict = field(default_factory=dict)  # stage id -> [task seconds]


def read_event_log(path: Path) -> list[JobStats]:
    """Per-job task totals from the Spark JSON event log under ``path``,
    read offline.

    Jobs are keyed by the ``spark.job.description`` property the tracer
    sets; tasks reach their job through their stage id. Python time is
    the sum of the Python exec nodes' ``time to start / initialize / run
    Python workers`` SQL metrics (milliseconds)."""
    jobs: dict[int, JobStats] = {}
    stage_job: dict[int, int] = {}
    # one application's log: a file, or (Spark 4) a directory of
    # events_<n>_<app> files rolled in order
    files = sorted((p for p in path.rglob("*") if p.is_file() and not p.name.startswith(".")),
                   key=lambda p: [int(x) if x.isdigit() else x for x in p.name.split("_")])
    lines = [line for f in files for line in f.read_text().splitlines()]
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
            jobs[ev["Job ID"]] = JobStats(desc)
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = ev["Job ID"]
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev.get("Stage ID"), -1))
            m = ev.get("Task Metrics") or {}
            if job is None or not m:
                continue
            job.tasks += 1
            run = m.get("Executor Run Time", 0) / 1000.0
            job.run_s += run
            job.task_s.setdefault(ev["Stage ID"], []).append(run)
            job.gc_s += m.get("JVM GC Time", 0) / 1000.0
            job.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            job.spill += m.get("Disk Bytes Spilled", 0)
            job.records_read += (m.get("Input Metrics") or {}).get("Records Read", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                name = str(acc.get("Name", ""))
                if name.startswith("time to") and name.endswith("Python workers"):
                    job.python_s += float(acc.get("Update", 0)) / 1000.0  # ms
    return list(jobs.values())


def jobs_by_span(jobs: list[JobStats]) -> dict[tuple[str, int], list[JobStats]]:
    out: dict[tuple[str, int], list[JobStats]] = {}
    for j in jobs:
        parts = j.description.split("|")
        if len(parts) >= 3 and parts[1].isdigit():
            out.setdefault((parts[0], int(parts[1])), []).append(j)
    return out


def task_skew(jobs: list[JobStats]) -> float:
    """Worst stage's max ÷ median task time (stages of 2+ tasks)."""
    worst = 1.0
    for j in jobs:
        for ts in j.task_s.values():
            if len(ts) >= 2 and statistics.median(ts) > 0:
                worst = max(worst, max(ts) / statistics.median(ts))
    return worst


# ---------------------------------------------------------------- RSS

def descendants(root: int) -> list[int]:
    """Process ids below ``root``, from /proc."""
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        try:
            for task in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{task}/children") as f:
                    kids = [int(c) for c in f.read().split()]
                out += kids
                stack += kids
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            continue
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return 0


def _tree_rss_kb(root: int) -> int:
    return sum(_rss_kb(p) for p in [root, *descendants(root)])


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    Spark JVM and its Python workers), sampled every ``interval`` s
    while started."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(me))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
