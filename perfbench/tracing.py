"""Tracing done entirely from the benchmark's side of the API.

* ``Tracer.span(name)`` records (name, start, end, parent, run id) in
  memory around a public engine call and labels the Spark jobs it
  submits with ``setJobGroup``. Spans are written out by ``dump``.
* ``fold_event_log`` reads Spark's own event log (enabled through
  ``get_spark(extra_conf=...)``) and sums the task metrics of every job
  per span label. Jobs that carry no job group — ``write_index`` submits
  from its own thread pool, and job groups are thread-local — are given
  the innermost span open at their submission time, which is exact here
  because the benchmark drives the engine from one thread.
* ``CacheCounters`` reads ``LocalSearcher``'s two LRU counters before
  and after each call and keeps the deltas.

With tracing off every span is a no-op and no counter is read.
"""

from __future__ import annotations

import contextlib
import glob
import json
import statistics
import time
from collections import defaultdict


class Tracer:
    def __init__(self, spark, run_id: str, enabled: bool):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = spark.sparkContext

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
        }
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        self._label(name)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._label(self.spans[self._stack[-1]]["name"] if self._stack else None)

    @contextlib.contextmanager
    def paused(self):
        """Engine calls made only to check results: no spans, no job
        group, so their Spark work is attributed to no layer."""
        if not self.enabled:
            yield
            return
        saved, self.enabled = self._stack, False
        self._stack = []
        self._label(None)
        try:
            yield
        finally:
            self.enabled, self._stack = True, saved
            self._label(self.spans[saved[-1]]["name"] if saved else None)

    def _label(self, name: str | None) -> None:
        """Label the Spark jobs submitted from here on (None: no label)."""
        if self._sc is None:
            return
        if name is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(name, name)

    def detach(self) -> None:
        """The Spark session is stopping: label no more jobs."""
        self._sc = None

    def durations(self, name: str) -> list[float]:
        """Wall seconds of every closed span called ``name``."""
        return [
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and s["end"] is not None
        ]

    def label_at(self, t: float) -> str | None:
        """Innermost span open at epoch second ``t``."""
        best = None
        for s in self.spans:
            if s["start"] <= t and (s["end"] is None or t <= s["end"]):
                if best is None or s["start"] >= best["start"]:
                    best = s
        return best["name"] if best else None

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def spark_trace_conf(event_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + event_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


_ZERO = {
    "jobs": 0,
    "tasks": 0,
    "executor_cpu_s": 0.0,
    "executor_run_s": 0.0,
    "shuffle_read_bytes": 0,
    "shuffle_write_bytes": 0,
    "spill_bytes": 0,
}


def fold_event_log(event_dir: str, tracer: Tracer) -> dict[str, dict]:
    """label → summed task metrics over every job of that label. Read
    after ``spark.stop()``, which closes the log."""
    by_label: dict[str, dict] = defaultdict(lambda: dict(_ZERO))
    stage_label: dict[int, str] = {}
    for path in glob.glob(f"{event_dir}/*"):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    label = props.get("spark.jobGroup.id") or tracer.label_at(
                        ev["Submission Time"] / 1000.0
                    )
                    if label is None:
                        continue
                    by_label[label]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_label.setdefault(sid, label)
                elif kind == "SparkListenerTaskEnd":
                    label = stage_label.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if label is None or not m:
                        continue
                    acc = by_label[label]
                    acc["tasks"] += 1
                    acc["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    acc["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    rd = m.get("Shuffle Read Metrics") or {}
                    acc["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                        "Local Bytes Read", 0
                    )
                    wr = m.get("Shuffle Write Metrics") or {}
                    acc["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
                    acc["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    return dict(by_label)


class CacheCounters:
    """Hit/miss deltas of ``LocalSearcher._list_cache`` (decoded lists)
    and ``_term_blocks`` (raw term blocks), taken around each call."""

    def __init__(self):
        self.totals = {
            "decoded_cache_hits": 0,
            "decoded_cache_misses": 0,
            "block_cache_hits": 0,
            "block_cache_misses": 0,
        }

    @staticmethod
    def _read(ls) -> tuple[int, int, int, int]:
        return (
            ls._list_cache.hits,
            ls._list_cache.misses,
            ls._term_blocks.hits,
            ls._term_blocks.misses,
        )

    @contextlib.contextmanager
    def around(self, ls, enabled: bool):
        if not enabled:
            yield
            return
        before = self._read(ls)
        try:
            yield
        finally:
            after = self._read(ls)
            for key, b, a in zip(self.totals, before, after):
                self.totals[key] += a - b

    def metrics(self) -> dict[str, float]:
        t = self.totals
        out = dict(t)
        for kind in ("decoded", "block"):
            base = t[f"{kind}_cache_hits"] + t[f"{kind}_cache_misses"]
            out[f"{kind}_cache_hit_ratio"] = (
                t[f"{kind}_cache_hits"] / base if base else 0.0
            )
        return out


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0
