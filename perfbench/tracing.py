"""Measurement helpers for the benchmark: spans, Spark event-log parsing,
the Python UDF profiler and peak RSS from /proc.

Everything here observes the engine from outside: a span wraps one call
into a layer's public function and tags the Spark jobs it launches with a
job group, so the event log can be split per call afterwards.
"""

from __future__ import annotations

import glob
import json
import os
import pstats
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """In-memory spans. When off, span() only runs the body (and yields
    None), so timed runs pay nothing for it; when on, it yields the span
    record and makes the span the Spark job group of every job launched
    inside it."""

    def __init__(self, sc, on: bool):
        self.sc = sc
        self.on = on
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.on:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid, "name": name,
            "parent": self._stack[-1] if self._stack else None, **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(f"span-{sid}", name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]
                self.sc.setJobGroup(f"span-{parent['id']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def seconds(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def descendants(self, root: int) -> set[int]:
        out = {root}
        for s in self.spans:  # parents precede children
            if s["parent"] in out:
                out.add(s["id"])
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def read_event_log(log_dir: str) -> dict[int, dict]:
    """Per span id: jobs, tasks and task metrics, from the one Spark event
    log under log_dir (call after the session has stopped, so the log is
    complete)."""
    files = glob.glob(os.path.join(log_dir, "*"))
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, got {files}")
    stage_span: dict[int, int] = {}
    out: dict[int, dict] = defaultdict(
        lambda: {"jobs": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
                 "records_read": 0, "tasks_failed": 0, "task_s": []}
    )
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if not group or not group.startswith("span-"):
                    continue
                span = int(group[len("span-"):])
                out[span]["jobs"] += 1
                for st in ev["Stage IDs"]:
                    stage_span[st] = span
            elif kind == "SparkListenerTaskEnd":
                span = stage_span.get(ev["Stage ID"])
                if span is None:
                    continue
                rec = out[span]
                if ev["Task End Reason"]["Reason"] != "Success":
                    rec["tasks_failed"] += 1
                m = ev.get("Task Metrics") or {}
                rec["task_s"].append(m.get("Executor Run Time", 0) / 1000.0)
                rec["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                rec["shuffle_write_bytes"] += (
                    m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                )
                rec["records_read"] += (
                    m.get("Input Metrics", {}).get("Records Read", 0)
                )
    return out


def merge_spans(per_span: dict[int, dict], spans: set[int]) -> dict:
    """Sum the event-log records of a set of spans; task-time quantiles
    over all their tasks."""
    tot = {"jobs": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
           "records_read": 0, "tasks_failed": 0}
    task_s: list[float] = []
    for s in spans:
        rec = per_span.get(s)
        if rec is None:
            continue
        for k in tot:
            tot[k] += rec[k]
        task_s += rec["task_s"]
    tot["task_s_p50"] = statistics.median(task_s) if task_s else 0.0
    tot["task_s_max"] = max(task_s, default=0.0)
    return tot


def profiler_seconds(spark, dump_dir: str) -> float:
    """Total Python-worker time the UDF profiler collected since the last
    clear (spark.sql.pyspark.udf.profiler=perf), then clear it."""
    os.makedirs(dump_dir, exist_ok=True)
    for p in glob.glob(os.path.join(dump_dir, "*")):
        os.unlink(p)
    spark.profile.dump(dump_dir, type="perf")
    total = sum(
        pstats.Stats(p).total_tt for p in glob.glob(os.path.join(dump_dir, "*"))
    )
    spark.profile.clear(type="perf")
    return total


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of each process's peak resident set (VmHWM) in MiB."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0
