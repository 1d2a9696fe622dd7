"""Span tracing for the traced benchmark run.

Spans are recorded around the benchmark's own calls into the program's
public functions; the program itself is not instrumented. Each span keeps
name, start, end, parent and run id in memory; :meth:`Tracer.dump` writes
them out once, at the end of the run.

Spark work is attributed to spans through job groups: entering a span sets
the Spark job group to the span id, leaving it restores the parent's. The
traced run enables Spark's event log (see :func:`event_log_conf`); after the
session stops, :meth:`Tracer.attribute` reads the log and sums, per span,
the task run time, GC time, shuffle read/write bytes, spilled bytes and the
number of Spark jobs and stages whose job group is that span.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager

TASK_FIELDS = ("task_s", "gc_s", "shuffle_read_b", "shuffle_write_b", "spill_b")
COUNT_FIELDS = ("jobs", "stages")


def event_log_conf(log_dir: str) -> dict:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class Tracer:
    """In-memory span recorder. A disabled tracer records nothing and
    touches no Spark state, so the same workload code runs traced and
    untraced."""

    def __init__(self, run_id: str, enabled: bool = True):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.sc = None  # set once a SparkContext exists

    def _set_group(self, sid: int | None) -> None:
        if self.sc is None:
            return
        if sid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(self.group_id(sid), self.spans[sid]["name"])

    def group_id(self, sid: int) -> str:
        return f"{self.run_id}:{sid}"

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield {}
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    # -- analysis ---------------------------------------------------------

    def self_times(self) -> None:
        """Set ``dur_s`` and ``self_s`` on every span: self time is the
        duration minus the part of it that child spans cover."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        for s in self.spans:
            s["dur_s"] = s["end"] - s["start"]
            covered, reach = 0.0, s["start"]
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], reach), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    reach = hi
            s["self_s"] = s["dur_s"] - covered

    def attribute(self, log_dir: str) -> None:
        """Add Spark task metrics from the event logs in ``log_dir`` to the
        spans (own jobs only, as ``spark``; see :meth:`total` for the sum
        over a span's subtree)."""
        by_group = {self.group_id(s["id"]): s for s in self.spans}
        for s in self.spans:
            s["spark"] = dict.fromkeys(TASK_FIELDS + COUNT_FIELDS, 0)
        stage_span: dict[int, dict] = {}
        for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
            stage_span.clear()  # stage ids restart with each application
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        span = by_group.get(
                            (ev.get("Properties") or {}).get("spark.jobGroup.id")
                        )
                        if span is not None:
                            span["spark"]["jobs"] += 1
                    elif kind == "SparkListenerStageSubmitted":
                        span = by_group.get(
                            (ev.get("Properties") or {}).get("spark.jobGroup.id")
                        )
                        if span is not None:
                            stage_span[ev["Stage Info"]["Stage ID"]] = span
                            span["spark"]["stages"] += 1
                    elif kind == "SparkListenerTaskEnd":
                        span = stage_span.get(ev["Stage ID"])
                        m = ev.get("Task Metrics")
                        if span is None or not m:
                            continue
                        agg = span["spark"]
                        agg["task_s"] += m["Executor Run Time"] / 1000
                        agg["gc_s"] += m["JVM GC Time"] / 1000
                        rd = m["Shuffle Read Metrics"]
                        agg["shuffle_read_b"] += (
                            rd["Remote Bytes Read"] + rd["Local Bytes Read"]
                        )
                        agg["shuffle_write_b"] += m["Shuffle Write Metrics"][
                            "Shuffle Bytes Written"
                        ]
                        agg["spill_b"] += m["Disk Bytes Spilled"]

    def total(self, name: str, field: str, since: int = 0) -> float:
        """Sum of ``field`` (a span key such as ``dur_s``, or a Spark
        metric) over the spans called ``name`` with id >= ``since``; Spark
        metrics include the span's descendants."""
        kids: dict[int, list[int]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s["id"])

        def subtree(sid: int) -> float:
            own = self.spans[sid].get("spark", {}).get(field, 0)
            return own + sum(subtree(k) for k in kids.get(sid, []))

        out = 0.0
        for s in self.spans[since:]:
            if s["name"] == name:
                out += s[field] if field in s else subtree(s["id"])
        return out

    def durations(self, name: str, since: int = 0) -> list[float]:
        return [
            s["end"] - s["start"] for s in self.spans[since:] if s["name"] == name
        ]

    def table(self) -> str:
        """Per-span-name summary: calls, total and self seconds, Spark
        task seconds, shuffle bytes written and jobs."""
        rows: dict[str, list[float]] = {}
        for s in self.spans:
            r = rows.setdefault(s["name"], [0, 0.0, 0.0, 0.0, 0.0, 0.0])
            sp = s.get("spark", {})
            r[0] += 1
            r[1] += s["dur_s"]
            r[2] += s["self_s"]
            r[3] += sp.get("task_s", 0)
            r[4] += sp.get("shuffle_write_b", 0)
            r[5] += sp.get("jobs", 0)
        head = f"{'span':34} {'n':>3} {'total_s':>9} {'self_s':>9} {'task_s':>9} {'shuf_w_MB':>9} {'jobs':>5}"
        lines = [head]
        for name, r in rows.items():
            lines.append(
                f"{name:34} {r[0]:>3} {r[1]:>9.3f} {r[2]:>9.3f} {r[3]:>9.3f}"
                f" {r[4] / 1e6:>9.3f} {int(r[5]):>5}"
            )
        return "\n".join(lines)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)
