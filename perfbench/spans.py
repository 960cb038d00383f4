"""Traced-run recorder: in-memory spans around calls into the program's
modules, one Spark job group per span, and the Spark event log folded into
per-layer counts.

Spans are recorded from the benchmark's side only: `Tracer.install` swaps a
public function for a timing wrapper in the namespace that imports it (for
example `diepy_spark.context.read_untyped_csv`), so the program itself is
unchanged. A span's self time is its duration minus the time its child
spans cover.
"""

from __future__ import annotations

import functools
import glob
import itertools
import json
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark import SparkContext


class Tracer:
    """Spans (id, name, parent, run, item, repetition, start, end) kept in
    memory, plus counts taken at the same boundaries."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[dict] = []
        self._ids = itertools.count(1)
        self._patched: list[tuple[object, str, object]] = []
        self.item, self.rep = "", 0  # the workload item and repetition running

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": f"{self.run_id}:{next(self._ids)}", "name": name,
               "parent": parent["id"] if parent else None, "run": self.run_id,
               "item": self.item, "rep": self.rep,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec["id"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent:
                self._set_group(parent["id"], parent["name"])
            else:
                self._set_group(None, None)

    @staticmethod
    def _set_group(gid: str | None, name: str | None) -> None:
        sc = SparkContext._active_spark_context
        if sc is None:
            return
        if gid is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(gid, name)

    def install(self, owner, attr: str, name: str, after=None) -> None:
        """Wrap `owner.attr` in a span called `name`. `after(tracer, result,
        args, kwargs)` runs outside the span and may add counts."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name):
                out = orig(*args, **kwargs)
            if after is not None:
                after(self, out, args, kwargs)
            return out

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def layer_times(self) -> dict[str, dict[str, float]]:
        """Per span name: calls, inclusive seconds, self seconds."""
        child_time: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            d = out.setdefault(s["name"], {"calls": 0, "total_s": 0.0, "self_s": 0.0})
            dur = s["end"] - s["start"]
            d["calls"] += 1
            d["total_s"] += dur
            d["self_s"] += dur - child_time[s["id"]]
        return out


def read_event_logs(log_dir: str, span_names: dict[str, str]) -> dict:
    """Fold Spark event logs into totals over the jobs whose job group is
    one of the run's spans (`span_names`: span id -> span name), plus
    per-span-name job and task counts."""
    jobs_of_span: dict[str, int] = defaultdict(int)
    tasks_of_span: dict[str, int] = defaultdict(int)
    tasks_of_id: dict[str, int] = defaultdict(int)
    scan_tasks_of_span: dict[str, int] = defaultdict(int)
    scan_stages_of_span: dict[str, int] = defaultdict(int)
    tot = defaultdict(float)
    for path in sorted(glob.glob(f"{log_dir}/*")):
        stage_span: dict[int, str] = {}
        stage_id: dict[int, str] = {}
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    gid = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    if gid not in span_names:
                        continue
                    name = span_names[gid]
                    jobs_of_span[name] += 1
                    tot["jobs"] += 1
                    for sid in e["Stage IDs"]:
                        stage_span.setdefault(sid, name)
                        stage_id.setdefault(sid, gid)
                elif kind == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    name = stage_span.get(si["Stage ID"])
                    if name is None or "Completion Time" not in si:
                        continue
                    n = si["Number of Tasks"]
                    tot["stages"] += 1
                    tasks_of_span[name] += n
                    tasks_of_id[stage_id[si["Stage ID"]]] += n
                    if any(r["Name"] == "FileScanRDD" for r in si["RDD Info"]):
                        scan_tasks_of_span[name] += n
                        scan_stages_of_span[name] += 1
                    if n == 1:
                        tot["serial_stage_s"] += (si["Completion Time"] - si["Submission Time"]) / 1e3
                elif kind == "SparkListenerTaskEnd":
                    if e["Stage ID"] not in stage_span or not e.get("Task Metrics"):
                        continue
                    m = e["Task Metrics"]
                    tot["tasks"] += 1
                    tot["executor_run_s"] += m["Executor Run Time"] / 1e3
                    tot["executor_cpu_s"] += m["Executor CPU Time"] / 1e9
                    tot["gc_s"] += m["JVM GC Time"] / 1e3
                    sr = m["Shuffle Read Metrics"]
                    tot["shuffle_read_bytes"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
                    tot["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    tot["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                    tot["input_bytes"] += m["Input Metrics"]["Bytes Read"]
                    tot["output_bytes"] += m["Output Metrics"]["Bytes Written"]
    return {"totals": dict(tot), "jobs": dict(jobs_of_span), "tasks": dict(tasks_of_span),
            "tasks_by_span_id": dict(tasks_of_id), "scan_tasks": dict(scan_tasks_of_span),
            "scan_stages": dict(scan_stages_of_span)}
