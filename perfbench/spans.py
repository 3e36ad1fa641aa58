"""In-memory spans around the benchmark's calls into the program.

A span records its name, start, end and parent.  While a span is open its
id is the Spark job group of the calling thread, so every Spark job the
call launches is attributed to it; after the run the Spark event log
(enabled only in traced runs) gives jobs, stages, tasks, executor run
time, GC time, shuffle writes and spills per job group.  Spans stay in
memory and are written out once, at the end of the run.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict
from collections.abc import Callable, Iterator
from contextlib import contextmanager

#: per-job-group counters taken from the event log
COUNTERS = (
    "jobs", "stages", "tasks", "single_task_stages",
    "executor_run_s", "gc_s", "shuffle_write_mb", "spill_mb",
)


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        #: time spent in the tracer's own bookkeeping (job-group calls)
        self.bookkeeping_s = 0.0

    @staticmethod
    def _set_group(span: dict | None) -> None:
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is None:
            return
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(f"pb-span-{span['id']}", span["name"])

    @contextmanager
    def span(self, name: str) -> Iterator[dict | None]:
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        rec["start"] = time.perf_counter()
        self.bookkeeping_s += rec["start"] - t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self.bookkeeping_s += time.perf_counter() - rec["end"]

    def wrap(self, name: str, fn: Callable) -> Callable:
        """``fn`` with a span around every call (``fn`` itself when off)."""
        if not self.enabled:
            return fn

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    # --- after the run ----------------------------------------------------

    def attach_event_log(self, event_dir: str) -> None:
        """Fold per-job-group counters from every event log under
        ``event_dir`` into the spans (own jobs only; see ``inclusive``)."""
        per_group: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0.0))
        for path in sorted(glob.glob(os.path.join(event_dir, "**"), recursive=True)):
            if not os.path.isfile(path) or os.path.basename(path).startswith("appstatus"):
                continue
            stage_group: dict[int, str] = {}
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                        if group:
                            per_group[group]["jobs"] += 1
                            for sid in ev.get("Stage IDs", []):
                                stage_group[sid] = group
                    elif kind == "SparkListenerStageCompleted":
                        info = ev["Stage Info"]
                        group = stage_group.get(info["Stage ID"])
                        if group:
                            per_group[group]["stages"] += 1
                            if info.get("Number of Tasks") == 1:
                                per_group[group]["single_task_stages"] += 1
                    elif kind == "SparkListenerTaskEnd":
                        group = stage_group.get(ev.get("Stage ID"))
                        m = ev.get("Task Metrics") or {}
                        if group:
                            c = per_group[group]
                            c["tasks"] += 1
                            c["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                            c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                            sw = m.get("Shuffle Write Metrics") or {}
                            c["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
                            c["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 2**20
        for s in self.spans:
            s["own"] = dict(per_group.get(f"pb-span-{s['id']}", dict.fromkeys(COUNTERS, 0.0)))

    def inclusive(self) -> None:
        """Per span: self time (duration minus its children's) and counters
        summed over the span and all its descendants."""
        children: dict[int, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s)
        for s in reversed(self.spans):  # children always follow their parent
            kids = children[s["id"]]
            s["wall_s"] = s["end"] - s["start"]
            s["self_s"] = s["wall_s"] - sum(k["wall_s"] for k in kids)
            own = s.get("own") or dict.fromkeys(COUNTERS, 0.0)
            s["incl"] = {c: own[c] + sum(k["incl"][c] for k in kids) for c in COUNTERS}

    def median(self, name: str, field: str = "wall_s") -> float:
        """Median ``wall_s`` or ``self_s`` of the spans called ``name``."""
        vals = [s[field] for s in self.spans if s["name"] == name]
        return statistics.median(vals) if vals else 0.0

    def mean_counter(self, name: str, counter: str) -> float:
        """Mean inclusive ``counter`` per span called ``name``."""
        vals = [s["incl"][counter] for s in self.spans if s["name"] == name]
        return sum(vals) / len(vals) if vals else 0.0

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"bookkeeping_s": self.bookkeeping_s, "spans": self.spans}, f)
