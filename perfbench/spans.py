"""Spans around the benchmark's calls into the engine, and Spark counters
read back from the event log.

A span records name, layer, start, end, parent, pass and run id.  Spans are
kept in memory; :meth:`Tracer.self_times` turns them into per-layer self time
(span minus the time its children cover).  While a span is open its id is
set as the Spark local property ``perfbench.span``, so every Spark job
started inside it carries the id in the event log and its task counters can
be attributed to the layer call that was running.

The untraced run uses a disabled tracer: ``span`` is a no-op and no event
log is written.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
from collections import defaultdict
from pathlib import Path

SPAN_PROP = "perfbench.span"


class Tracer:
    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self.sc = None  # SparkContext, once the session exists
        self.pass_no: int | None = None  # warm-pass index; None outside warm passes
        self._stack: list[int] = []

    def span(self, name: str, layer: str):
        if not self.enabled:
            return contextlib.nullcontext()
        return self._span(name, layer)

    @contextlib.contextmanager
    def _span(self, name: str, layer: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": sid, "name": name, "layer": layer, "parent": parent,
            "pass": self.pass_no, "run": self.run_id,
            "start": time.perf_counter(), "wall_start": time.time(), "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        if self.sc is not None:
            self.sc.setLocalProperty(SPAN_PROP, str(sid))
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["wall_end"] = time.time()
            self._stack.pop()
            if self.sc is not None:
                self.sc.setLocalProperty(SPAN_PROP, str(parent) if parent is not None else None)

    def self_times(self, passes: set[int]) -> dict[str, float]:
        """Per-layer self time, summed over the spans of the given warm passes."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["end"] is None or s["pass"] not in passes:
                continue
            out[s["layer"]] += (s["end"] - s["start"]) - child[s["id"]]
        return dict(out)

    def total(self, name: str, passes: set[int]) -> float:
        """Summed duration of the spans called ``name`` in the given passes."""
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and s["end"] is not None and s["pass"] in passes
        )

    def dump(self, path: Path) -> None:
        path.write_text("\n".join(json.dumps(s) for s in self.spans) + "\n")


def _walk_plan(node: dict, names: dict[int, str], py_rows: set[int]) -> None:
    """Collect metric names by accumulator id, and the output-row metrics
    of Python exec nodes (those that also report data sent to Python)."""
    metrics = {m["name"]: m["accumulatorId"] for m in node.get("metrics", [])}
    for name, acc in metrics.items():
        names[acc] = name
    if "data sent to Python workers" in metrics and "number of output rows" in metrics:
        py_rows.add(metrics["number of output rows"])
    for c in node.get("children", []):
        _walk_plan(c, names, py_rows)


def read_event_log(path: Path, tracer: Tracer, passes: set[int]) -> dict:
    """Sum Spark counters over the jobs started inside warm-pass spans.

    Returns totals (not per-pass) keyed by the per-layer metric names, plus
    a ``by_layer`` breakdown of jobs and executor run time."""
    span_of_job: dict[int, int] = {}
    job_of_stage: dict[int, int] = {}
    tasks_by_stage: dict[int, list[float]] = defaultdict(list)
    acc_names: dict[int, str] = {}
    py_rows: set[int] = set()
    exec_windows: dict[int, float] = {}
    tot: dict[str, float] = defaultdict(float)
    by_layer: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    by_span = {s["id"]: s for s in tracer.spans}
    pass_windows = [
        (s["wall_start"], s["wall_end"])
        for s in tracer.spans
        if s["name"] == "pass" and s["pass"] in passes and s["end"] is not None
    ]

    def in_pass(stage: int) -> dict | None:
        job = job_of_stage.get(stage)
        sid = span_of_job.get(job) if job is not None else None
        s = by_span.get(sid) if sid is not None else None
        return s if s is not None and s["pass"] in passes else None

    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                sid = (ev.get("Properties") or {}).get(SPAN_PROP)
                if sid is None:
                    continue
                span_of_job[ev["Job ID"]] = int(sid)
                for st in ev["Stage IDs"]:
                    job_of_stage.setdefault(st, ev["Job ID"])
                s = by_span.get(int(sid))
                if s is not None and s["pass"] in passes:
                    tot["exec.jobs"] += 1
                    by_layer[s["layer"]]["jobs"] += 1
                    if s["name"] == "plan":
                        tot["registry.eager_jobs"] += 1
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if in_pass(info["Stage ID"]) is not None and "Completion Time" in info:
                    tot["exec.stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                s = in_pass(ev["Stage ID"])
                if s is None:
                    continue
                ti, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                tot["exec.tasks"] += 1
                if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                    tot["exec.task_failures"] += 1
                run_ms = tm.get("Executor Run Time", 0)
                tasks_by_stage[ev["Stage ID"]].append(run_ms)
                tot["exec.run_s"] += run_ms / 1e3
                by_layer[s["layer"]]["run_s"] += run_ms / 1e3
                tot["exec.cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                dur = ti["Finish Time"] - ti["Launch Time"]
                sched = dur - run_ms - tm.get("Executor Deserialize Time", 0) - tm.get(
                    "Result Serialization Time", 0)
                tot["exec.sched_delay_s"] += max(0, sched) / 1e3
                sw = tm.get("Shuffle Write Metrics") or {}
                tot["shuffle.write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                tot["shuffle.write_records"] += sw.get("Shuffle Records Written", 0)
                sr = tm.get("Shuffle Read Metrics") or {}
                tot["shuffle.read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                tot["shuffle.fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
                tot["spill.mem_bytes"] += tm.get("Memory Bytes Spilled", 0)
                tot["spill.disk_bytes"] += tm.get("Disk Bytes Spilled", 0)
                im = tm.get("Input Metrics") or {}
                tot["io.bytes_read"] += im.get("Bytes Read", 0)
                tot["io.rows_read"] += im.get("Records Read", 0)
                for acc in ti.get("Accumulables", []):
                    upd = acc.get("Update")
                    key = "python.rows_received" if acc.get("ID") in py_rows else _PY_ACCS.get(acc.get("Name"))
                    if key is not None and upd is not None:
                        tot[key] += float(upd)
            elif kind in (
                "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
                "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
            ):
                _walk_plan(ev.get("sparkPlanInfo") or {}, acc_names, py_rows)
                if "time" in ev:
                    exec_windows[ev["executionId"]] = ev["time"] / 1e3
            elif kind == "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates":
                t = exec_windows.get(ev["executionId"])
                if t is None or not any(a <= t <= b for a, b in pass_windows):
                    continue
                for acc_id, val in ev.get("accumUpdates", []):
                    if acc_names.get(acc_id) == "number of files read":
                        tot["io.files_read"] += val
    skews = [
        max(v) / statistics.median(v)
        for v in tasks_by_stage.values()
        if len(v) >= 2 and statistics.median(v) > 0
    ]
    tot["exec.task_skew"] = max(skews) if skews else 1.0
    return {"totals": dict(tot), "by_layer": {k: dict(v) for k, v in by_layer.items()}}


# SQL metrics of the Arrow / pandas exec nodes (PythonSQLMetrics)
_PY_ACCS = {
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}
