"""Tracing for the job-level benchmark, measured from outside the program.

Three sources, all kept in memory and written out when the run ends:

* spans: the benchmark's own ``(name, layer, start, end, parent, run_id)``
  records around every public call it makes and around its own checks;
* a stack sampler: every ``interval`` seconds it looks at each Python
  thread's stack and notes the innermost frame inside the program package
  (the module that is running, or waiting on the JVM), so wall time splits
  by module without touching program code;
* Spark's event log (uncompressed, enabled through submit args): job,
  stage and task metrics, each job attributed to the module on the sampled
  stack when the job was submitted.

Self time is assigned on one timeline: every instant of the measured window
goes to exactly one label (the sampled program module, else the innermost
open span's layer, else ``unattributed``), so the labels always sum to the
window's wall time.
"""

from __future__ import annotations

import bisect
import contextlib
import json
import linecache
import os
import sys
import threading
import time
from dataclasses import dataclass, field

# Module layers reported in the per-layer table; other program modules
# (schema, config, pathio, ...) are reported together as "other".
LAYERS = (
    "session", "sources", "operators", "sinks", "savepoints",
    "plans.migrate", "plans.validate", "plans.curate", "streaming.cdc",
    "analytics.text", "analytics.dedup",
)


def layer_of(path: str, pkg_root: str) -> str | None:
    """Map a source file to its layer name, None outside the package."""
    if not path.startswith(pkg_root):
        return None
    parts = os.path.relpath(path, pkg_root)[: -len(".py")].split(os.sep)
    if parts[0] in ("sources", "sinks", "operators"):
        name = parts[0]
    elif parts[0] in ("plans", "analytics", "streaming") and len(parts) > 1:
        name = f"{parts[0]}.{parts[1]}"
    else:
        name = parts[0]
    return name if name in LAYERS else "other"


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float | None
    parent: int | None
    run_id: str


@dataclass
class Sample:
    """One look at the stacks. ``frames`` holds the program frames of the
    chosen thread, innermost first, as (path, function, line); ``in_jvm``
    is true when the innermost program frame is waiting on a py4j call."""

    t: float
    layer: str | None
    frames: tuple = ()
    in_jvm: bool = False


@dataclass
class Tracer:
    """Spans are always recorded (a list append per call); the sampler and
    Spark job groups run only when ``active``."""

    run_id: str
    pkg_root: str
    active: bool = False
    interval: float = 0.02
    spans: list[Span] = field(default_factory=list)
    samples: list[Sample] = field(default_factory=list)
    sampler_cpu_s: float = 0.0
    spark: object = None
    _stack: list[int] = field(default_factory=list)
    _stop: threading.Event = field(default_factory=threading.Event)
    _thread: threading.Thread | None = None

    @contextlib.contextmanager
    def span(self, name: str, layer: str, group: bool = True):
        idx = len(self.spans)
        self.spans.append(Span(name, layer, time.time(), None, self._stack[-1] if self._stack else None, self.run_id))
        self._stack.append(idx)
        group = group and self.active and self.spark is not None
        if group:
            self.spark.sparkContext.setJobGroup(name, f"{self.run_id} {name}")
        try:
            yield self.spans[idx]
        finally:
            self.spans[idx].end = time.time()
            self._stack.pop()
            if group:
                if self._stack:
                    outer = self.spans[self._stack[-1]].name
                    self.spark.sparkContext.setJobGroup(outer, f"{self.run_id} {outer}")
                else:
                    self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    # -- stack sampler -------------------------------------------------
    def start_sampler(self) -> None:
        if not self.active:
            return
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, name="perfbench-sampler", daemon=True)
        self._thread.start()

    def stop_sampler(self) -> None:
        if self._thread is not None:
            self._stop.set()
            self._thread.join(timeout=10)
            self._thread = None

    def _run(self) -> None:
        me = threading.get_ident()
        main = threading.main_thread().ident
        c0 = time.thread_time()
        while not self._stop.wait(self.interval):
            self.samples.append(self._sample(me, main))
        self.sampler_cpu_s += time.thread_time() - c0

    def _sample(self, me: int, main: int | None) -> Sample:
        now = time.time()
        frames = sys._current_frames()
        order = [main] + [t for t in frames if t not in (me, main)]
        for tid in order:
            frame = frames.get(tid)
            if frame is None:
                continue
            innermost = frame.f_code.co_filename
            if tid != main and innermost.endswith("threading.py"):
                continue  # an idle helper thread (e.g. a periodic dumper waiting)
            in_jvm, layer, found = False, None, []
            while frame is not None:
                path = frame.f_code.co_filename
                if layer is None and "py4j" in path:
                    in_jvm = True
                if path.startswith(self.pkg_root):
                    layer = layer or layer_of(path, self.pkg_root)
                    found.append((path, frame.f_code.co_name, frame.f_lineno))
                frame = frame.f_back
            if found:
                return Sample(now, layer, tuple(found), in_jvm)
        return Sample(now, None)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": [s.__dict__ for s in self.spans], "samples": len(self.samples)}, fh)


# -- timeline attribution ------------------------------------------------
def _innermost_span(spans: list[Span], t: float) -> Span | None:
    best = None
    for s in spans:
        if s.start <= t < (s.end or t) and (best is None or s.start >= best.start):
            best = s
    return best


def timeline(tracer: Tracer, t0: float, t1: float) -> list[tuple[float, float, str, Sample | None]]:
    """Split [t0, t1) into segments, each with one label: the sampled
    program module, else the innermost open span's layer, else
    ``unattributed``. Segments are contiguous, so they sum to t1 - t0."""
    pts = [s for s in tracer.samples if t0 <= s.t < t1]
    out = []
    for i, s in enumerate(pts):
        start = t0 if i == 0 else s.t
        end = pts[i + 1].t if i + 1 < len(pts) else t1
        if s.layer is not None:
            out.append((start, end, s.layer, s))
        else:
            sp = _innermost_span(tracer.spans, s.t)
            out.append((start, end, sp.layer if sp else "unattributed", s))
    if not pts:
        out.append((t0, t1, "unattributed", None))
    return out


def self_times(segments) -> dict[str, float]:
    acc: dict[str, float] = {}
    for a, b, label, _ in segments:
        acc[label] = acc.get(label, 0.0) + (b - a)
    return acc


def frame_lines(sample: Sample, module_suffix: str) -> list[tuple[str, str]]:
    """(function, source line) of the sample's frames in one program file."""
    return [
        (func, linecache.getline(path, line).strip())
        for path, func, line in sample.frames
        if path.endswith(module_suffix)
    ]


# -- Spark event log -----------------------------------------------------
@dataclass
class Job:
    job_id: int
    submit: float
    end: float
    group: str | None
    stage_ids: list[int]
    layer: str = "unattributed"
    phase: str | None = None


@dataclass
class TaskAgg:
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write: int = 0
    shuffle_read: int = 0
    spill: int = 0
    out_records: int = 0
    out_bytes: int = 0
    python_bytes: int = 0
    durations: dict[int, list[float]] = field(default_factory=dict)

    def add(self, other: "TaskAgg") -> None:
        for k in ("tasks", "run_s", "cpu_s", "gc_s", "shuffle_write", "shuffle_read", "spill",
                  "out_records", "out_bytes", "python_bytes"):
            setattr(self, k, getattr(self, k) + getattr(other, k))
        for sid, d in other.durations.items():
            self.durations.setdefault(sid, []).extend(d)


PYTHON_ACCUMULABLES = ("data sent to Python workers", "data returned from Python workers")


def parse_event_log(path: str) -> tuple[list[Job], dict[int, TaskAgg]]:
    """Jobs with their stage ids, and task metrics aggregated per stage."""
    jobs: dict[int, Job] = {}
    per_stage: dict[int, TaskAgg] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = Job(
                    ev["Job ID"], ev["Submission Time"] / 1000.0, 0.0, props.get("spark.jobGroup.id"), ev.get("Stage IDs", [])
                )
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                info = ev.get("Task Info") or {}
                agg = per_stage.setdefault(ev["Stage ID"], TaskAgg())
                agg.tasks += 1
                agg.run_s += m.get("Executor Run Time", 0) / 1000.0
                agg.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                agg.gc_s += m.get("JVM GC Time", 0) / 1000.0
                sw = m.get("Shuffle Write Metrics") or {}
                agg.shuffle_write += sw.get("Shuffle Bytes Written", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                agg.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                agg.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                om = m.get("Output Metrics") or {}
                agg.out_records += om.get("Records Written", 0)
                agg.out_bytes += om.get("Bytes Written", 0)
                for acc in info.get("Accumulables", []):
                    if acc.get("Name") in PYTHON_ACCUMULABLES:
                        agg.python_bytes += int(acc.get("Update", 0) or 0)
                agg.durations.setdefault(ev["Stage ID"], []).append(
                    (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0
                )
    return sorted(jobs.values(), key=lambda j: j.submit), per_stage


def attribute_jobs(jobs: list[Job], tracer: Tracer) -> None:
    """Give each job the module on the sampled stack at its submission (the
    submitting module) and the benchmark span it ran under (its phase)."""
    times = [s.t for s in tracer.samples]
    names = {s.name for s in tracer.spans}
    for job in jobs:
        i = bisect.bisect_right(times, job.submit) - 1
        for j in (i, i + 1):  # nearest sample at or just after submission
            if 0 <= j < len(times) and tracer.samples[j].layer is not None:
                job.layer = tracer.samples[j].layer
                break
        else:
            sp = _innermost_span(tracer.spans, job.submit)
            job.layer = sp.layer if sp else "unattributed"
        if job.group in names:
            job.phase = job.group
        else:  # stream micro-batch jobs carry the query's run id as group
            sp = _innermost_span(tracer.spans, job.submit)
            job.phase = sp.name if sp else None


def job_totals(jobs: list[Job], per_stage: dict[int, TaskAgg]) -> TaskAgg:
    total = TaskAgg()
    for job in jobs:
        for sid in job.stage_ids:
            if sid in per_stage:
                total.add(per_stage[sid])
    return total


def merge_intervals(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    """Sorted, disjoint union of [a, b) intervals."""
    out: list[tuple[float, float]] = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], b))
        else:
            out.append((a, b))
    return out


def task_skew(durations: dict[int, list[float]]) -> float:
    """Median over stages with at least two tasks of max / median task time."""
    ratios = []
    for d in durations.values():
        if len(d) >= 2:
            med = percentile(d, 50)
            if med > 0:
                ratios.append(max(d) / med)
    return percentile(ratios, 50) if ratios else 1.0


# -- statistics and /proc --------------------------------------------------
def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    v = sorted(values)
    if not v:
        raise ValueError("percentile of no values")
    k = (len(v) - 1) * pct / 100.0
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def tail_percentile(values: list[float]) -> tuple[float, float]:
    """The highest whole percentile that still has at least ten samples
    ranked strictly above it, and its value: ``(pct, value)``. Needs at
    least eleven samples."""
    n = len(values)
    if n < 11:
        raise ValueError(f"a tail percentile needs at least 11 samples, got {n}")
    pct = 100
    while n - 1 - int((n - 1) * pct // 100) < 10:
        pct -= 1
    return float(pct), percentile(values, pct)


def vmhwm_kb(pid: int | str = "self") -> int:
    """Peak resident set size (VmHWM) of a process, in kB, from /proc."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise ValueError(f"no VmHWM in /proc/{pid}/status")
