"""Spans around the benchmark's calls into library layers, and the Spark
counters read from outside the library.

A span records name, start, end, parent and run id. Untraced, that is all
it does, so the end-to-end timings and the per-layer spans come from one
code path. Traced, each span also

- sets a Spark job group of its own, so the jobs it fires can be listed
  through ``statusTracker`` and matched to the event log;
- can record the plan phases of the DataFrame it ran, from
  ``queryExecution().tracker()``.

After the run, ``attach_event_log`` adds per-span task counts, task CPU
time, Python-worker time, shuffle bytes and input rows from the Spark event
log, which ``spark_submit_args`` switches on for the traced run only.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager

PYTHON_RUN_METRIC = "time to run Python workers"


def spark_submit_args(tmp_dir: str, event_log_dir: str | None) -> str:
    """``PYSPARK_SUBMIT_ARGS`` for the benchmark's JVM: temporary files in
    the run's scratch directory and no ``hsperfdata`` file in the system
    temp directory, no console progress bar, and the event log
    (uncompressed, one file) only when tracing."""
    conf = [f"--driver-java-options '{jvm_options(tmp_dir)}'",
            "--conf spark.ui.showConsoleProgress=false"]
    if event_log_dir is not None:
        conf += ["--conf spark.eventLog.enabled=true",
                 f"--conf spark.eventLog.dir=file://{event_log_dir}",
                 "--conf spark.eventLog.rolling.enabled=false",
                 "--conf spark.eventLog.compress=false"]
    return " ".join(conf + ["pyspark-shell"])


def jvm_options(tmp_dir: str) -> str:
    return f"-Djava.io.tmpdir={tmp_dir} -XX:-UsePerfData"


class Span:
    __slots__ = ("id", "name", "parent", "start", "end", "attrs")

    def __init__(self, sid: int, name: str, parent: int | None, start: float):
        self.id, self.name, self.parent = sid, name, parent
        self.start, self.end = start, start
        self.attrs: dict = {}

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans in memory; ``traced`` switches on the Spark counters."""

    def __init__(self, run_id: str, traced: bool = False):
        self.run_id = run_id
        self.traced = traced
        self.spark = None
        self.spans: list[Span] = []
        self.bookkeeping_s = 0.0
        self._stack: list[Span] = []
        self._t0 = time.perf_counter()

    def group(self, span: Span) -> str:
        return f"{self.run_id}/{span.id}"

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name,
                 parent.id if parent else None, time.perf_counter() - self._t0)
        self.spans.append(s)
        self._stack.append(s)
        if self.traced:
            b = time.perf_counter()
            self.spark.sparkContext.setJobGroup(self.group(s), name)
            self.bookkeeping_s += time.perf_counter() - b
            s.start = time.perf_counter() - self._t0
        try:
            yield s
        finally:
            s.end = time.perf_counter() - self._t0
            self._stack.pop()
            if self.traced:
                b = time.perf_counter()
                sc = self.spark.sparkContext
                s.attrs["jobs"] = sorted(
                    sc.statusTracker().getJobIdsForGroup(self.group(s)))
                if parent is not None:
                    sc.setJobGroup(self.group(parent), parent.name)
                else:
                    sc._jsc.clearJobGroup()
                self.bookkeeping_s += time.perf_counter() - b

    def plan_phases(self, span: Span, df) -> None:
        """Record the analysis/optimization/planning milliseconds of the
        query ``df`` ran, once its action has returned."""
        if not self.traced:
            return
        b = time.perf_counter()
        phases = df._jdf.queryExecution().tracker().phases()
        ms = {}
        for name in ("analysis", "optimization", "planning"):
            opt = phases.get(name)
            if opt.isDefined():
                ms[name] = int(opt.get().durationMs())
        span.attrs["plan_ms"] = ms
        self.bookkeeping_s += time.perf_counter() - b

    def named(self, name: str, since: float = 0.0) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.start >= since]

    def to_json(self) -> list[dict]:
        return [{"id": s.id, "name": s.name, "parent": s.parent,
                 "run": self.run_id, "start": round(s.start, 6),
                 "end": round(s.end, 6), **s.attrs} for s in self.spans]


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def jvm_peak_rss_mb(pid: int) -> float:
    """``VmHWM`` of the JVM: the peak resident set since it started."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def jvm_gc_seconds(spark) -> float:
    """Total collection time of every JVM garbage collector so far."""
    beans = (spark.sparkContext._jvm.java.lang.management
             .ManagementFactory.getGarbageCollectorMXBeans())
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def _event_log_counters(path: str) -> dict[str, dict]:
    """Per job group: tasks, task CPU seconds, Python-worker seconds,
    shuffle bytes written and input records, summed from task-end events."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = ev.get("Properties", {}).get("spark.jobGroup.id")
                for st in ev.get("Stage IDs", []):
                    stage_group[st] = group
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                if group is None:
                    continue
                c = out.setdefault(group, {"tasks": 0, "cpu_s": 0.0,
                                           "python_s": 0.0,
                                           "shuffle_bytes": 0,
                                           "rows_read": 0})
                m = ev.get("Task Metrics") or {}
                c["tasks"] += 1
                c["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                c["shuffle_bytes"] += (m.get("Shuffle Write Metrics", {})
                                       .get("Shuffle Bytes Written", 0))
                c["rows_read"] += (m.get("Input Metrics", {})
                                   .get("Records Read", 0))
                for acc in ev["Task Info"].get("Accumulables", []):
                    if acc.get("Name") == PYTHON_RUN_METRIC:
                        c["python_s"] += float(acc.get("Update", 0)) / 1000.0
    return out


def attach_event_log(tracer: Tracer, event_log_dir: str, app_id: str) -> None:
    """Add the event-log counters of each span's own job group to the span.
    Call after the SparkContext has stopped, which closes the log."""
    paths = glob.glob(os.path.join(event_log_dir, app_id + "*"))
    if not paths:
        raise RuntimeError(f"no event log for {app_id} in {event_log_dir}")
    counters = _event_log_counters(paths[0])
    for s in tracer.spans:
        s.attrs.update(counters.get(tracer.group(s), {}))
