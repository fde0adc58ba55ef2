"""Spans recorded around the benchmark's calls into each layer, and the
per-job task metrics Spark writes to its event log.

A span is (id, parent, trace, name, start, end).  Spans stay in memory
and are written once, at the end of the run.  While a span is open, the
Spark jobs it submits carry the span's name as their job description, so
the event log's task metrics can be summed per span name.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext

_OFF = nullcontext()


class Tracer:
    """Records spans when enabled; a disabled tracer's spans cost one
    method call and record nothing."""

    def __init__(self, spark=None, enabled: bool = True):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[dict] = []
        self._trace = 0

    def span(self, name: str, new_trace: bool = False):
        return self._span(name, new_trace) if self.enabled else _OFF

    @contextmanager
    def _span(self, name: str, new_trace: bool):
        if new_trace or not self._stack:
            self._trace += 1
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "parent": parent and parent["id"],
               "trace": self._trace, "name": name,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec)
        self._describe(name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._describe(self._stack[-1]["name"] if self._stack else None)

    def _describe(self, name) -> None:
        if self.spark is not None:
            self.spark.sparkContext.setLocalProperty("spark.job.description",
                                                     name)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its children cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - child[s["id"]]
                for s in self.spans}

    def write(self, path: str) -> None:
        own = self.self_times()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([dict(s, self=own[s["id"]]) for s in self.spans], f)


# -- event log -----------------------------------------------------------------

# SQL metric names of the Python-worker operators (MapInPandas,
# ArrowEvalPython); their accumulator updates ride on every task end
PY_TIME = "time to run Python workers"   # milliseconds
PY_SENT = "data sent to Python workers"


def read_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Task metrics summed per job description.  Needs an uncompressed
    log, which Spark has flushed once its context stopped."""
    per: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    stage_tag: dict[int, str] = {}
    # Spark 4 writes each application's log as rolled files in an
    # eventlog_v2_<app> directory
    files = sorted(glob.glob(os.path.join(log_dir, "**", "events_*"),
                             recursive=True))
    for path in files:
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    tag = (ev.get("Properties") or {}).get(
                        "spark.job.description")
                    for sid in ev.get("Stage IDs", []):
                        stage_tag[sid] = tag
                elif kind == "SparkListenerTaskEnd":
                    tag = stage_tag.get(ev.get("Stage ID"))
                    if tag is None:
                        continue
                    _add_task(per[tag], ev)
    return {k: dict(v) for k, v in per.items()}


def _add_task(acc: dict, ev: dict) -> None:
    m = ev.get("Task Metrics") or {}
    acc["tasks"] += 1
    acc["run_ms"] += m.get("Executor Run Time", 0)
    acc["cpu_ns"] += m.get("Executor CPU Time", 0)
    acc["gc_ms"] += m.get("JVM GC Time", 0)
    acc["disk_spill"] += m.get("Disk Bytes Spilled", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    acc["fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
    sw = m.get("Shuffle Write Metrics") or {}
    acc["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
    inp = m.get("Input Metrics") or {}
    acc["records_read"] += inp.get("Records Read", 0)
    for a in (ev.get("Task Info") or {}).get("Accumulables", []):
        name = a.get("Name")
        if name == PY_TIME:
            acc["python_ms"] += _num(a.get("Update"))
        elif name == PY_SENT:
            acc["python_sent"] += _num(a.get("Update"))


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0
