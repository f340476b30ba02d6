"""Per-layer tracing for the benchmark's traced runs.

Two sources, joined by wall-clock time and Spark job group:

- ``Tracer`` spans, recorded in the benchmark's own code around each call
  into a layer's public function. A span tags every Spark job its call
  starts with the layer's name as the job group, and restores the
  previous group when the call returns.
- The Spark event log (uncompressed), parsed after the session stops:
  jobs, tasks, shuffle and spill bytes, output bytes and the
  Python-worker accumulables, attributed to the job group each stage ran
  under and to the measured iteration whose time window holds it.

With tracing off ``Tracer`` is inert: spans only time the call and no
job group is set, so the untraced run measures the program unchanged.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time
from collections import defaultdict
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"
STREAM_KEY = "sql.streaming.queryId"
STREAM_LABEL = "delta_source.drain"

# stage accumulables summed per label (name in the event log -> ours)
_STAGE_ACCUMS = {
    "internal.metrics.executorRunTime": "executor_run_ms",
    "internal.metrics.executorCpuTime": "executor_cpu_ns",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
    "internal.metrics.output.bytesWritten": "bytes_written",
    "data sent to Python workers": "python_bytes",
    "data returned from Python workers": "python_bytes",
}


@dataclass
class Tracer:
    """Spans per measured iteration, and job-group tagging when enabled."""

    spark: object = None
    enabled: bool = False
    default_label: str = "unlabelled"
    iterations: list = field(default_factory=list)  # [(start_ms, end_ms)]
    spans: list = field(default_factory=list)  # per iteration: {label: [s]}
    windows: list = field(default_factory=list)  # per iteration: {label: [(ms, ms)]}
    _patches: list = field(default_factory=list)
    _t0: float = 0.0

    def begin_iteration(self) -> None:
        self.spans.append(defaultdict(list))
        self.windows.append(defaultdict(list))
        self._set_group(self.default_label)
        self._t0 = time.time()

    def end_iteration(self) -> None:
        self.iterations.append((self._t0 * 1000.0, time.time() * 1000.0))
        self._set_group(None)

    def _set_group(self, label: str | None) -> None:
        if self.enabled:
            self.spark.sparkContext.setLocalProperty(GROUP_KEY, label)

    @contextlib.contextmanager
    def mark(self, label: str):
        """Time the block under ``label``, leaving the job group alone."""
        w0, t0 = time.time(), time.perf_counter()
        try:
            yield
        finally:
            if self.spans:
                self.spans[-1][label].append(time.perf_counter() - t0)
                self.windows[-1][label].append((w0 * 1000.0, time.time() * 1000.0))

    @contextlib.contextmanager
    def span(self, label: str):
        """Time the block under ``label``; with tracing on, its Spark jobs
        run in job group ``label``."""
        prev = (
            self.spark.sparkContext.getLocalProperty(GROUP_KEY)
            if self.enabled else None
        )
        self._set_group(label)
        try:
            with self.mark(label):
                yield
        finally:
            self._set_group(prev)

    def wrap(self, fn, label: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(label):
                return fn(*args, **kwargs)

        return traced

    def patch(self, owner, name: str, label: str) -> None:
        """Replace ``owner.name`` by a traced wrapper until ``unpatch``."""
        orig = getattr(owner, name)
        self._patches.append((owner, name, orig))
        setattr(owner, name, self.wrap(orig, label))

    def unpatch(self) -> None:
        while self._patches:
            owner, name, orig = self._patches.pop()
            setattr(owner, name, orig)

    def span_s(self, label: str) -> list[float]:
        """Per-iteration total seconds spent in ``label``."""
        return [sum(it.get(label, ())) for it in self.spans]


@dataclass
class Stage:
    label: str
    submitted_ms: float
    tasks: int = 0
    accums: dict = field(default_factory=lambda: defaultdict(float))


@dataclass
class Job:
    label: str
    submitted_ms: float
    completed_ms: float | None = None


def _label(props: dict, default: str) -> str:
    # a streaming query sets its own job group (the run id) on its thread
    if props.get(STREAM_KEY):
        return STREAM_LABEL
    return props.get(GROUP_KEY) or default


def _app_files(eventlog_dir: str) -> list[list[str]]:
    """Event-log files per application, in write order (rolling logs
    write one directory of numbered parts per application)."""
    apps = []
    for entry in sorted(glob.glob(os.path.join(eventlog_dir, "*"))):
        if os.path.isdir(entry):
            parts = glob.glob(os.path.join(entry, "events_*"))
            parts.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))
            apps.append(parts)
        elif not entry.endswith((".crc", ".inprogress")):
            apps.append([entry])
    return apps


def parse_event_log(eventlog_dir: str, default_label: str):
    """Jobs and stages of every application logged under ``eventlog_dir``."""
    jobs: list[Job] = []
    stages: list[Stage] = []
    for files in _app_files(eventlog_dir):
        app_jobs: dict[int, Job] = {}
        app_stages: dict[int, Stage] = {}
        for path in files:
            with open(path) as fh:
                for line in fh:
                    ev = json.loads(line)
                    kind = ev["Event"]
                    if kind == "SparkListenerJobStart":
                        app_jobs[ev["Job ID"]] = Job(
                            _label(ev.get("Properties") or {}, default_label),
                            ev["Submission Time"],
                        )
                    elif kind == "SparkListenerJobEnd":
                        if ev["Job ID"] in app_jobs:
                            app_jobs[ev["Job ID"]].completed_ms = ev["Completion Time"]
                    elif kind == "SparkListenerStageSubmitted":
                        info = ev["Stage Info"]
                        app_stages[info["Stage ID"]] = Stage(
                            _label(ev.get("Properties") or {}, default_label),
                            info.get("Submission Time") or 0,
                        )
                    elif kind == "SparkListenerTaskEnd":
                        st = app_stages.get(ev["Stage ID"])
                        if st is not None:
                            st.tasks += 1
                    elif kind == "SparkListenerStageCompleted":
                        info = ev["Stage Info"]
                        st = app_stages.get(info["Stage ID"])
                        if st is None:
                            continue
                        for acc in info.get("Accumulables", ()):
                            key = _STAGE_ACCUMS.get(acc.get("Name"))
                            if key is not None:
                                st.accums[key] += float(acc.get("Value") or 0)
        jobs.extend(app_jobs.values())
        stages.extend(app_stages.values())
    return jobs, stages


@dataclass
class IterationStats:
    """Event-log totals of one measured iteration, per label."""

    jobs: dict = field(default_factory=lambda: defaultdict(int))
    tasks: dict = field(default_factory=lambda: defaultdict(int))
    accums: dict = field(default_factory=lambda: defaultdict(lambda: defaultdict(float)))
    busy: list = field(default_factory=list)  # [(ms, ms)] while a job ran
    wall_ms: float = 0.0

    def total(self, key: str, labels=None) -> float:
        if key == "jobs":
            src = self.jobs
        elif key == "tasks":
            src = self.tasks
        else:
            src = {lab: acc.get(key, 0.0) for lab, acc in self.accums.items()}
        return float(sum(v for lab, v in src.items() if labels is None or lab in labels))

    @property
    def driver_gap_s(self) -> float:
        """Iteration wall time during which no Spark job was running."""
        return max(0.0, self.wall_ms - _covered_ms(self.busy)) / 1000.0

    def gap_s(self, windows) -> float:
        """Seconds of ``windows`` during which no Spark job was running."""
        clipped = [
            (max(s, ws), min(e, we))
            for ws, we in windows
            for s, e in self.busy
            if min(e, we) > max(s, ws)
        ]
        total = sum(we - ws for ws, we in windows)
        return max(0.0, total - _covered_ms(clipped)) / 1000.0


def _covered_ms(intervals: list[tuple[float, float]]) -> float:
    covered, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e <= end:
            continue
        covered += e - max(s, end)
        end = e
    return covered


def per_iteration(tracer: Tracer, eventlog_dir: str) -> list[IterationStats]:
    """Attribute the logged jobs and stages to the tracer's iterations."""
    jobs, stages = parse_event_log(eventlog_dir, tracer.default_label)
    out = []
    for start, end in tracer.iterations:
        it = IterationStats(wall_ms=end - start)
        for job in jobs:
            if start <= job.submitted_ms <= end:
                it.jobs[job.label] += 1
                it.busy.append((job.submitted_ms, min(end, job.completed_ms or end)))
        for st in stages:
            if start <= st.submitted_ms <= end:
                it.tasks[st.label] += st.tasks
                for k, v in st.accums.items():
                    it.accums[st.label][k] += v
        out.append(it)
    return out
