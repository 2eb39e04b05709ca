"""Tracing from outside the program: spans, Spark event-log stage
metrics, process-tree CPU and self-time arithmetic.

A :class:`Tracer` records one span per layer call made by the benchmark:
name, start, end, parent and a run id shared by the spans of one
pipeline. Spans are kept in memory. Each span sets a Spark job group, so
the stages Spark logs under that group can be attributed to it after the
run, when the event log is complete.
"""

from __future__ import annotations

import itertools
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system, including reaped children) of
    ``root_pid`` and every live descendant, read from ``/proc``. For the
    Spark JVM this covers its Python workers, whose time the event log's
    ``executorCpuTime`` does not see."""
    parent: dict[int, int] = {}
    cpu: dict[int, float] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            raw = Path(f"/proc/{d}/stat").read_text()
        except OSError:
            continue
        fields = raw[raw.rindex(")") + 2 :].split()
        parent[int(d)] = int(fields[1])
        cpu[int(d)] = sum(int(x) for x in fields[11:15]) / _CLK_TCK
    children: dict[int, list[int]] = defaultdict(list)
    for pid, ppid in parent.items():
        children[ppid].append(pid)
    total, todo = 0.0, [root_pid]
    while todo:
        pid = todo.pop()
        total += cpu.get(pid, 0.0)
        todo.extend(children.get(pid, ()))
    return total


def peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of ``pid`` in MB (10^6 bytes)."""
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) * 1024 / 1e6
    raise RuntimeError(f"no VmHWM for pid {pid}")


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    cpu_start: float = 0.0
    cpu_end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def group(self) -> str:
        return f"span-{self.id}"


class Tracer:
    """In-memory span recorder. ``sc`` (a SparkContext) is optional: with
    it, each span sets the job group of the jobs it starts; ``cpu_pid``
    names the process tree whose CPU each span records."""

    def __init__(self, run_id: str, sc=None, cpu_pid: int | None = None):
        self.run_id = run_id
        self.sc = sc
        self.cpu_pid = cpu_pid
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        # maps span times (perf_counter) to the epoch times of the event log
        self.epoch = time.time() - time.perf_counter()

    def _cpu(self) -> float:
        return tree_cpu_s(self.cpu_pid) if self.cpu_pid else 0.0

    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.group, span.name)

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(next(self._ids), name, parent.id if parent else None, self.run_id, 0.0, attrs=dict(attrs))
        self._set_group(s)
        s.cpu_start = self._cpu()
        s.start = time.perf_counter()
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.cpu_end = self._cpu()
            self._stack.pop()
            self._set_group(parent)
            self.spans.append(s)

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def descendants(self, span: Span) -> list[Span]:
        out, todo = [], [span]
        while todo:
            kids = self.children(todo.pop())
            out += kids
            todo += kids
        return out

    def to_json(self) -> list[dict]:
        return [
            {
                "id": s.id, "name": s.name, "parent": s.parent, "run_id": s.run_id,
                "start": s.start, "end": s.end, "cpu_s": s.cpu_end - s.cpu_start, **s.attrs,
            }
            for s in sorted(self.spans, key=lambda s: s.id)
        ]


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(tracer: Tracer, span: Span) -> float:
    """The span's duration minus the part of it its child spans cover."""
    kids = [(c.start, c.end) for c in tracer.children(span)]
    return span.duration - covered(kids, span.start, span.end)


# -- Spark event log -----------------------------------------------------------

_ACC = {
    "internal.metrics.executorRunTime": ("run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("cpu_s", 1e-9),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_mb", 1e-6),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_mb", 1e-6),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_mb", 1e-6),
    "internal.metrics.memoryBytesSpilled": ("spill_mb", 1e-6),
    "internal.metrics.diskBytesSpilled": ("spill_mb", 1e-6),
}
STAGE_KEYS = ("tasks", "run_s", "cpu_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb")


@dataclass
class EventLog:
    """Per-job-group stage metrics read back from a Spark event log."""

    jobs: dict[int, str | None]  # job id -> job group
    stage_job: dict[int, int]  # stage id -> job id
    stages: dict[int, dict]  # stage id -> metrics
    job_times: dict[int, tuple[float, float]]  # job id -> (submitted, completed), epoch seconds

    def groups(self) -> dict[str | None, dict]:
        """Job group -> summed stage metrics plus ``jobs`` and ``stages`` counts."""
        out: dict[str | None, dict] = defaultdict(lambda: dict.fromkeys(STAGE_KEYS + ("jobs", "stages"), 0))
        for job, group in self.jobs.items():
            out[group]["jobs"] += 1
        for sid, m in self.stages.items():
            g = out[self.jobs.get(self.stage_job.get(sid))]
            g["stages"] += 1
            for k in STAGE_KEYS:
                g[k] += m[k]
        return dict(out)


def read_event_log(log_dir: str | os.PathLike) -> EventLog:
    """Parse the uncompressed, single-file Spark event log of the one
    application that wrote into ``log_dir``."""
    files = [f for f in Path(log_dir).iterdir() if f.is_file() and not f.name.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {sorted(f.name for f in files)}")
    jobs: dict[int, str | None] = {}
    job_times: dict[int, tuple[float, float]] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    with open(files[0], encoding="utf-8") as fh:
        for line in fh:
            if not line.strip():
                continue
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = props.get("spark.jobGroup.id")
                job_times[ev["Job ID"]] = (ev["Submission Time"] / 1e3,) * 2
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, ev["Job ID"])
            elif kind == "SparkListenerJobEnd":
                job_times[ev["Job ID"]] = (job_times[ev["Job ID"]][0], ev["Completion Time"] / 1e3)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                m = dict.fromkeys(STAGE_KEYS, 0.0)
                m["tasks"] = info.get("Number of Tasks", 0)
                for acc in info.get("Accumulables", []):
                    key = _ACC.get(acc.get("Name"))
                    if key is not None:
                        m[key[0]] += float(acc.get("Value", 0)) * key[1]
                # a retried stage attempt adds to the same stage id
                prev = stages.get(info["Stage ID"])
                if prev is not None:
                    for k in STAGE_KEYS:
                        m[k] += prev[k]
                stages[info["Stage ID"]] = m
    return EventLog(jobs, stage_job, stages, job_times)


def span_stage_metrics(tracer: Tracer, log: EventLog, span: Span) -> dict:
    """Stage metrics of every job started under ``span`` or its descendants."""
    groups = log.groups()
    total = dict.fromkeys(STAGE_KEYS + ("jobs", "stages"), 0)
    for s in [span] + tracer.descendants(span):
        for k, v in groups.get(s.group, {}).items():
            total[k] += v
    return total


def job_busy_s(tracer: Tracer, log: EventLog, span: Span) -> float:
    """Wall time within ``span`` during which at least one Spark job was
    running: the span's execution, as opposed to the driver-side plan
    building and Python work between jobs."""
    return covered(list(log.job_times.values()), tracer.epoch + span.start, tracer.epoch + span.end)
