"""In-memory tracing for the traced benchmark run.

Everything here wraps the benchmark's own calls into the package, or reads
Spark's own recorders; nothing is patched into the package itself:

- :class:`Tracer` keeps spans ``(name, start, end, parent)`` of the main
  thread in memory and writes them out once, at exit;
- :class:`CatalystListener` is a py4j ``QueryExecutionListener`` the
  benchmark registers on each frame's own session; it sums
  ``qe.tracker().phases()`` (analysis, optimization, planning);
- :class:`Py4jCounter` counts JVM round trips by wrapping the py4j client;
- :func:`parse_event_log` reads Spark's event log (enabled for the traced
  run only) and attributes jobs, stages and task metrics to the
  benchmark's op windows by submission time;
- :func:`udf_profile_s` sums the Python-worker time Spark 4's UDF
  profiler (``spark.sql.pyspark.udf.profiler=perf``) collected.
"""

from __future__ import annotations

import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Main-thread span stack; durations and self times by span name."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self, root: int) -> dict[str, float]:
        """Self time by span name over the subtree rooted at span ``root``.
        Self times partition the root's duration exactly."""
        child_sum: dict[int, float] = defaultdict(float)
        inside = {root}
        for i, s in enumerate(self.spans):
            if s["parent"] in inside:
                inside.add(i)
                child_sum[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for i in inside:
            s = self.spans[i]
            out[s["name"]] += (s["end"] - s["start"]) - child_sum[i]
        return dict(out)

    def dump(self, path: str, meta: dict) -> None:
        with open(path, "w") as f:
            json.dump({"meta": meta, "spans": self.spans}, f)


class NullTracer(Tracer):
    """Untraced runs: same interface, records nothing."""

    @contextmanager
    def span(self, name: str, **attrs):
        yield None


class CatalystListener:
    """QueryExecutionListener summing Catalyst phase times per action."""

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.plan_ms = 0.0
        self.actions = 0

    def onSuccess(self, funcName, qe, durationNs):  # noqa: N802 (Java name)
        ms = phases_ms(qe)
        with self._lock:
            self.plan_ms += ms
            self.actions += 1

    def onFailure(self, funcName, qe, exception):  # noqa: N802
        return None

    def toString(self):
        return "perfbench.CatalystListener"

    def equals(self, other):
        return other is self

    def hashCode(self):
        return id(self)


def phases_ms(jqe) -> float:
    """Sum of the recorded Catalyst phase durations of a JVM QueryExecution."""
    it = jqe.tracker().phases().valuesIterator()
    total = 0.0
    while it.hasNext():
        total += it.next().durationMs()
    return total


class Py4jCounter:
    """Counts py4j commands sent to the JVM through one gateway client."""

    def __init__(self, gateway_client) -> None:
        self.calls = 0
        orig = gateway_client.send_command

        def counted(*args, **kwargs):
            self.calls += 1
            return orig(*args, **kwargs)

        gateway_client.send_command = counted


def udf_profile_s(spark) -> float:
    """Total Python-worker time recorded by the perf UDF profiler."""
    results = spark.profile.profiler_collector._perf_profile_results
    return sum(st.total_tt for st in results.values())


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


#: every metric :func:`parse_event_log` returns (0 when nothing ran)
EVENT_LOG_METRICS = (
    "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_s", "exec.task_cpu_s",
    "exec.gc_s", "exec.input_bytes", "exec.shuffle_read_bytes",
    "exec.shuffle_write_bytes", "exec.spill_bytes", "exec.idle_s",
    "operators.build_jobs", "audit.actions",
)


def parse_event_log(path: str, windows: list[dict]) -> dict[str, float]:
    """Attribute Spark jobs, stages and tasks to op windows.

    ``windows`` holds one dict per timed op with epoch-ms bounds
    ``b0 b1`` (builder call) and ``a0 a1`` (action). A job belongs to
    the window its submission time falls in; its stages and tasks follow
    it. Returns totals over all windows.
    """
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, tuple[float, float]] = {}
    tasks: dict[int, list[dict]] = defaultdict(list)
    sql_starts: list[float] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = ev
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = ev["Job ID"]
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if "Submission Time" in info and "Completion Time" in info:
                    stages[info["Stage ID"]] = (
                        info["Submission Time"], info["Completion Time"]
                    )
            elif kind == "SparkListenerTaskEnd":
                tasks[ev["Stage ID"]].append(ev.get("Task Metrics") or {})
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                if ev.get("rootExecutionId", ev["executionId"]) == ev["executionId"]:
                    sql_starts.append(ev["time"])

    out: dict[str, float] = dict.fromkeys(EVENT_LOG_METRICS, 0.0)

    def where(t: float) -> tuple[int, str] | None:
        for i, w in enumerate(windows):
            if w["b0"] <= t <= w["b1"]:
                return i, "build"
            if w["a0"] <= t <= w["a1"]:
                return i, "action"
        return None

    job_where = {jid: where(ev["Submission Time"]) for jid, ev in jobs.items()}
    busy: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for jid, loc in job_where.items():
        if loc is None:
            continue
        out["exec.jobs"] += 1
        if loc[1] == "build":
            out["operators.build_jobs"] += 1
    for sid, jid in stage_job.items():
        loc = job_where.get(jid)
        if loc is None or sid not in tasks:
            continue
        out["exec.stages"] += 1
        if sid in stages and loc[1] == "action":
            busy[loc[0]].append(stages[sid])
        for m in tasks[sid]:
            out["exec.tasks"] += 1
            out["exec.task_run_s"] += m.get("Executor Run Time", 0) / 1e3
            out["exec.task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            out["exec.gc_s"] += m.get("JVM GC Time", 0) / 1e3
            out["exec.input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            rd = m.get("Shuffle Read Metrics") or {}
            out["exec.shuffle_read_bytes"] += (
                rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            )
            wr = m.get("Shuffle Write Metrics") or {}
            out["exec.shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
            out["exec.spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
    for i, w in enumerate(windows):
        clipped = [
            (max(s, w["a0"]), min(e, w["a1"]))
            for s, e in busy.get(i, [])
            if e > w["a0"] and s < w["a1"]
        ]
        out["exec.idle_s"] += max(0.0, (w["a1"] - w["a0"]) - _union_ms(clipped)) / 1e3
    out["audit.actions"] = float(
        sum(1 for t in sql_starts if where(t) is not None)
    )
    return out
