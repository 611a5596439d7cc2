"""Spans recorded around the benchmark's calls into geospark, and per-span
Spark metrics read back from the session's event log.

A span is (id, name, parent, start, end, rows_out). Spans are kept in memory
and written out once, at the end of the run. Spark jobs are attributed to the
innermost span whose [start, end] holds the job's submission time; a span's
Spark metrics are the sums over the tasks of its jobs' stages.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time


class Tracer:
    """Span recorder. Disabled, ``span`` yields None and records nothing, so
    the untraced passes run the same code path without the bookkeeping."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = dict(id=len(self.spans), name=name,
                   parent=self._stack[-1]["id"] if self._stack else None,
                   start=time.time(), end=None, rows_out=0)
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def add_rows(self, n: int) -> None:
        """Count ``n`` output rows to the innermost open span."""
        if self.enabled and self._stack:
            self._stack[-1]["rows_out"] += n

    def write(self, path: str) -> None:
        with open(path, "w") as fp:
            json.dump(self.spans, fp, indent=1)


def _python_metric_ids(plan: dict, out: set) -> None:
    """Accumulator ids of the output-row metric of every Python-evaluation
    node (ArrowEvalPython, BatchEvalPython, MapInPandas, ...) in a plan
    tree: the rows returned by Python workers, one per row sent for the
    scalar UDFs the engine uses."""
    if "Python" in plan.get("nodeName", "") or "InPandas" in plan.get("nodeName", ""):
        for m in plan.get("metrics", []):
            if m.get("name") == "number of output rows":
                out.add(m["accumulatorId"])
    for child in plan.get("children", []):
        _python_metric_ids(child, out)


def read_event_log(log_dir: str) -> dict:
    """Jobs (id, submit time, stage ids), stage run intervals and per-stage
    task sums from the single event log file in ``log_dir``. Times are epoch
    seconds."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
    jobs, stages, tasks = [], {}, {}
    py_ids: set = set()
    py_updates: list[tuple[int, dict]] = []  # (stage id, task accumulable update)
    with open(files[0]) as fp:
        for line in fp:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jobs.append(dict(id=ev["Job ID"], submit=ev["Submission Time"] / 1e3,
                                 stages=list(ev["Stage IDs"])))
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if "Submission Time" in info and "Completion Time" in info:
                    stages[info["Stage ID"]] = (info["Submission Time"] / 1e3,
                                                info["Completion Time"] / 1e3)
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                t = tasks.setdefault(sid, dict(task_cpu_s=0.0, spill_bytes=0,
                                               shuffle_write_bytes=0, task_retries=0))
                info = ev.get("Task Info", {})
                if info.get("Failed") or info.get("Killed"):
                    t["task_retries"] += 1
                m = ev.get("Task Metrics") or {}
                t["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                t["spill_bytes"] += m.get("Disk Bytes Spilled", 0) + m.get("Memory Bytes Spilled", 0)
                t["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                for a in info.get("Accumulables", []):
                    py_updates.append((sid, a))
            elif kind in ("org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
                          "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"):
                _python_metric_ids(ev.get("sparkPlanInfo", {}), py_ids)
    for sid, a in py_updates:
        if a.get("ID") in py_ids:
            tasks[sid]["python_rows"] = tasks[sid].get("python_rows", 0) + int(a.get("Update", 0))
    return dict(jobs=jobs, stages=stages, tasks=tasks)


SPARK_FIELDS = ("task_cpu_s", "driver_gap_s", "spill_bytes", "shuffle_write_bytes",
                "python_rows", "task_retries")


def span_spark_metrics(spans: list[dict], log: dict) -> dict[int, dict]:
    """span id -> Spark metric sums (SPARK_FIELDS) for spans that own jobs."""
    def depth(s):
        d = 0
        while s["parent"] is not None:
            s = spans[s["parent"]]
            d += 1
        return d

    out: dict[int, dict] = {}
    for job in log["jobs"]:
        owners = [s for s in spans if s["start"] <= job["submit"] <= s["end"]]
        if not owners:
            continue
        owner = max(owners, key=depth)
        acc = out.setdefault(owner["id"], dict.fromkeys(SPARK_FIELDS, 0))
        for sid in job["stages"]:
            t = log["tasks"].get(sid)
            if t is None:  # stage skipped (shuffle reuse)
                continue
            for k in ("task_cpu_s", "spill_bytes", "shuffle_write_bytes", "task_retries"):
                acc[k] += t[k]
            acc["python_rows"] += t.get("python_rows", 0)
    intervals = sorted(log["stages"].values())
    for span_id, acc in out.items():
        s = spans[span_id]
        acc["driver_gap_s"] = (s["end"] - s["start"]) - _covered(intervals, s["start"], s["end"])
    return out


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of sorted intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in intervals:
        a, b = max(a, lo), min(b, hi)
        if a >= b:
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
