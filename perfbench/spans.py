"""Spans around the engine's public calls, with Spark stage metrics.

A :class:`Tracer` is created per run.  When disabled, ``span`` is a
no-op context manager, so the untraced run pays nothing.  When enabled,
each span records name, start, end, parent span and op id, and puts the
jobs it starts under a job group of its own.  Spans are kept in memory;
:meth:`Tracer.collect` reads the stage metrics of every group from the
Spark UI REST API once, after the measured loop, and the caller writes
the result out at the end of the run.

Jobs belong to the innermost open span, so a span's Spark metrics are
already "self" metrics; its wall self time is its duration minus the
part covered by its child spans.
"""

from __future__ import annotations

import json
import statistics
import time
import urllib.parse
import urllib.request
from contextlib import contextmanager

# executorRunTime is in ms, executorCpuTime in ns in the REST payload
_STAGE_SUMS = (
    "numTasks",
    "executorRunTime",
    "executorCpuTime",
    "shuffleWriteBytes",
    "shuffleReadBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
    "inputBytes",
    "inputRecords",
    "outputBytes",
)


class Tracer:
    def __init__(self, spark, enabled: bool) -> None:
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op_id: int | None = None
        self.overhead_s = 0.0  # time spent in span bookkeeping itself
        self._stack: list[dict] = []
        self._next_id = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t_in = time.perf_counter()
        self._next_id += 1
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": self._next_id,
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": self.op_id,
            "group": f"perfbench-{self._next_id}",
        }
        self.sc.setJobGroup(rec["group"], name, False)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t_in
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"], False)
            else:
                self.sc.setJobGroup("", "", False)
            self.spans.append(rec)
            self.overhead_s += time.perf_counter() - rec["end"]

    # ---------------------------------------------------------- REST

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self._api}{path}", timeout=30) as resp:
            return json.load(resp)

    def collect(self, cores: int) -> None:
        """Attach Spark metrics to every recorded span (in place)."""
        if not self.enabled or not self.spans:
            return
        port = urllib.parse.urlparse(self.sc.uiWebUrl).port
        self._api = (
            f"http://127.0.0.1:{port}/api/v1/applications/{self.sc.applicationId}"
        )
        # the status store is fed asynchronously: wait for the last jobs
        for _ in range(50):
            jobs = self._get("/jobs")
            if not any(j["status"] == "RUNNING" for j in jobs):
                break
            time.sleep(0.1)
        stages_of: dict[str, list[int]] = {}
        for j in jobs:
            if j.get("jobGroup"):
                stages_of.setdefault(j["jobGroup"], []).extend(j["stageIds"])
        stages = {
            s["stageId"]: s
            for s in self._get("/stages")
            if s["status"] in ("COMPLETE", "FAILED")
        }
        for rec in self.spans:
            wall = rec["end"] - rec["start"]
            ids = sorted({i for i in stages_of.get(rec["group"], []) if i in stages})
            m = {k: sum(stages[i][k] for i in ids) for k in _STAGE_SUMS}
            heaviest = max(ids, key=lambda i: stages[i]["executorRunTime"], default=None)
            rec["metrics"] = {
                "jobs": sum(1 for j in jobs if j.get("jobGroup") == rec["group"]),
                "stages": len(ids),
                "tasks": m["numTasks"],
                "executor_run_s": m["executorRunTime"] / 1e3,
                "executor_cpu_s": m["executorCpuTime"] / 1e9,
                "shuffle_write_bytes": m["shuffleWriteBytes"],
                "shuffle_read_bytes": m["shuffleReadBytes"],
                "spill_bytes": m["memoryBytesSpilled"] + m["diskBytesSpilled"],
                "input_bytes": m["inputBytes"],
                "input_records": m["inputRecords"],
                "output_bytes": m["outputBytes"],
                "core_util": m["executorRunTime"] / 1e3 / max(wall * cores, 1e-9),
                "task_skew": self._task_skew(stages[heaviest]) if heaviest is not None else 1.0,
            }

    def _task_skew(self, stage: dict) -> float:
        """max / median task executorRunTime of one stage."""
        if stage["numTasks"] < 2:
            return 1.0
        summary = self._get(
            f"/stages/{stage['stageId']}/{stage['attemptId']}/taskSummary?quantiles=0.5,1.0"
        )
        med, top = summary["executorRunTime"]
        return top / max(med, 1.0)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> wall minus the union of its children's intervals
    (children of one span never overlap: the driver is one thread)."""
    child_s: dict[int, float] = {}
    for rec in spans:
        if rec["parent"] is not None:
            child_s[rec["parent"]] = child_s.get(rec["parent"], 0.0) + (
                rec["end"] - rec["start"]
            )
    return {r["id"]: r["end"] - r["start"] - child_s.get(r["id"], 0.0) for r in spans}


def summarize(spans: list[dict], cores: int) -> dict[str, float]:
    """Per span name: the median over ops of the per-op totals of the
    generic span set (wall, tasks, shuffle, spill, core_util, skew)."""
    selfs = self_times(spans)
    per_op: dict[str, dict[int, dict[str, float]]] = {}
    for rec in spans:
        acc = per_op.setdefault(rec["name"], {}).setdefault(rec["op"], {})
        m = rec.get("metrics", {})
        acc["s"] = acc.get("s", 0.0) + rec["end"] - rec["start"]
        acc["self_s"] = acc.get("self_s", 0.0) + selfs[rec["id"]]
        for k in ("tasks", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
                  "executor_run_s", "input_records"):
            acc[k] = acc.get(k, 0) + m.get(k, 0)
        acc["task_skew"] = max(acc.get("task_skew", 1.0), m.get("task_skew", 1.0))
    out: dict[str, float] = {}
    for name, ops in per_op.items():
        for k in next(iter(ops.values())):
            out[f"{name}_{k}"] = statistics.median(o[k] for o in ops.values())
        # core utilization over the span's own wall, pooled across ops
        wall = sum(o["s"] for o in ops.values())
        run = sum(o["executor_run_s"] for o in ops.values())
        out[f"{name}_core_util"] = run / max(wall * cores, 1e-9)
    return out
