"""Spans recorded around calls into each layer, and Spark stage metrics
read back by job group.

Spans live in memory and are written as JSON when the run ends. Each span
carries the run id, its parent's id and the Spark job group its stages were
tagged with; a span's self time is its duration minus the part of it that
its children cover.
"""

from __future__ import annotations

import json
import statistics
import time
import uuid
from contextlib import contextmanager

PYTHON_OPERATORS = ("InPandas", "InArrow", "EvalPython", "PythonUDTF")


class Tracer:
    """Span recorder. With ``enabled=False`` every call is a no-op apart from
    setting the Spark job group, so untraced runs tag their jobs the same
    way. ``sc`` is set once the Spark session exists."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.sc = None
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.bookkeeping_s = 0.0

    @contextmanager
    def span(self, name: str, layer: str, job_group: str | None = None, **attrs):
        if job_group is not None and self.sc is not None:
            self.sc.setJobGroup(job_group, f"perfbench {name}", interruptOnCancel=False)
        try:
            if not self.enabled:
                yield None
                return
            with self._record(name, layer, job_group, attrs) as rec:
                yield rec
        finally:
            if job_group is not None and self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def _record(self, name: str, layer: str, job_group: str | None, attrs: dict):
        t0 = time.perf_counter()
        rec = {
            "id": len(self.spans),
            "run_id": self.run_id,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "name": name,
            "layer": layer,
            "job_group": job_group,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        self.bookkeeping_s += rec["start"] - t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.bookkeeping_s += time.perf_counter() - rec["end"]

    def add_span(self, name: str, layer: str, start: float, end: float, parent: int, **attrs) -> None:
        """Record a span measured elsewhere (e.g. from a callback's
        timestamps) as a child of span ``parent``."""
        if self.enabled:
            self.spans.append({
                "id": len(self.spans),
                "run_id": self.run_id,
                "parent": parent,
                "name": name,
                "layer": layer,
                "job_group": self.spans[parent]["job_group"],
                "attrs": attrs,
                "start": start,
                "end": end,
            })

    def self_times(self) -> dict[str, float]:
        """Self time summed per layer."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_end = 0.0, s["start"]
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cur_end), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end"] - s["start"]) - covered
            s["self_s"] = (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str) -> None:
        self.self_times()
        t0 = min((s["start"] for s in self.spans), default=0.0)
        rows = [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0} for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": rows}, f, indent=1, sort_keys=True)


# ---------------------------------------------------------------------------
# Spark stage metrics of the jobs tagged with a job group
# ---------------------------------------------------------------------------


def _graph_names(store, stage_id: int) -> list[str]:
    out: list[str] = []

    def walk(cluster) -> None:
        kids = cluster.childClusters()
        for i in range(kids.size()):
            out.append(kids.apply(i).name())
            walk(kids.apply(i))

    walk(store.operationGraphForStage(stage_id).rootCluster())
    return out


def stage_metrics(sc, groups: list[str], settle_s: float = 5.0) -> list[dict]:
    """Completed stages of every job tagged with one of ``groups``. Each
    stage is classified ``python`` (it runs a Python map operator),
    ``exchange`` (other stages that write shuffle) or ``other``; times are in ms, bytes in bytes, and ``task_run_ms`` holds
    every task's executor run time."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    job_ids = sorted(j for g in groups for j in tracker.getJobIdsForGroup(g))
    deadline = time.monotonic() + settle_s
    while time.monotonic() < deadline:  # the listener bus delivers asynchronously
        infos = [tracker.getJobInfo(j) for j in job_ids]
        if all(i is not None and i.status in ("SUCCEEDED", "FAILED") for i in infos):
            break
        time.sleep(0.05)
    stage_ids = sorted({s for j in job_ids for s in (tracker.getJobInfo(j).stageIds or [])})
    out = []
    for sid in stage_ids:
        sd = store.lastStageAttempt(sid)
        if sd.status().toString() != "COMPLETE":
            continue  # skipped: its shuffle output was reused
        names = _graph_names(store, sid)
        python = any(p in n for n in names for p in PYTHON_OPERATORS)
        tasks = store.taskList(sid, sd.attemptId(), 100_000)
        run_ms = []
        for i in range(tasks.size()):
            m = tasks.apply(i).taskMetrics()
            if m.isDefined():
                run_ms.append(m.get().executorRunTime())
        out.append({
            "stage_id": sid,
            "kind": "python" if python else ("exchange" if sd.shuffleWriteBytes() > 0 else "other"),
            "operators": names,
            "num_tasks": sd.numTasks(),
            "run_ms": sd.executorRunTime(),
            "cpu_ms": sd.executorCpuTime() / 1e6,
            "gc_ms": sd.jvmGcTime(),
            "fetch_wait_ms": sd.shuffleFetchWaitTime(),
            "shuffle_write_ms": sd.shuffleWriteTime() / 1e6,
            "shuffle_write_bytes": sd.shuffleWriteBytes(),
            "shuffle_read_bytes": sd.shuffleReadBytes(),
            "input_bytes": sd.inputBytes(),
            "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
            "task_run_ms": run_ms,
        })
    return out


def summarize_stages(stages: list[dict]) -> dict:
    """Totals over a set of stages. Task skew is the median over stages of
    slowest task / median task; the Python residue is run time not spent in
    JVM CPU, GC, shuffle fetch waits or shuffle writes."""
    skews = [
        max(s["task_run_ms"]) / statistics.median(s["task_run_ms"])
        for s in stages
        if s["task_run_ms"] and statistics.median(s["task_run_ms"]) > 0
    ]
    run = sum(s["run_ms"] for s in stages)
    cpu = sum(s["cpu_ms"] for s in stages)
    gc = sum(s["gc_ms"] for s in stages)
    fetch = sum(s["fetch_wait_ms"] for s in stages)
    swrite = sum(s["shuffle_write_ms"] for s in stages)
    return {
        "stages": len(stages),
        "stage_run_ms": run,
        "jvm_cpu_ms": cpu,
        "gc_ms": gc,
        "fetch_wait_ms": fetch,
        "shuffle_write_ms": swrite,
        "shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in stages),
        "shuffle_read_bytes": sum(s["shuffle_read_bytes"] for s in stages),
        "spill_bytes": sum(s["spill_bytes"] for s in stages),
        "python_residue_ms": max(0.0, run - cpu - gc - fetch - swrite),
        "task_skew": statistics.median(skews) if skews else 0.0,
    }
