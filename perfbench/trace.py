"""Spans around the benchmark's calls into engine layers.

A span records name, start, end, parent span and a trace id (one per
backfill batch, realtime object group or hunting query), plus counts
taken at the same boundary. Spark work is attributed with the span's own
job group (`setJobGroup`) and counted through `statusTracker`; streaming
queries run their jobs under the query's run id, which a span adopts with
`adopt_group`. Everything stays in memory until `dump`.

Disabled, `span` yields None and records nothing, so the untraced run
pays only a context-manager call per layer boundary.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager

WARMUP = "warm"  # trace id of set-up work, kept in the file, left out of medians


class Tracer:
    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next = 0

    @contextmanager
    def span(self, name: str, trace: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": self._next,
            "name": name,
            "parent": parent["id"] if parent else None,
            "trace": trace if trace is not None else (parent["trace"] if parent else None),
            "groups": [f"perfbench-{self._next}"],
            "counts": {},
            "child_s": 0.0,
        }
        self._next += 1
        self._stack.append(rec)
        self._set_group(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            self._count_tasks(rec)
            if parent is not None:
                parent["child_s"] += rec["end"] - rec["start"]
            self.spans.append(rec)

    def adopt_group(self, rec: dict | None, group: str) -> None:
        """Attribute the jobs of another job group (a streaming query's
        run id) to span `rec`."""
        if rec is not None:
            rec["groups"].append(group)

    def count(self, rec: dict | None, name: str, value: float) -> None:
        if rec is not None:
            rec["counts"][name] = rec["counts"].get(name, 0) + value

    def _set_group(self, rec: dict | None) -> None:
        if self.sc is None:
            return
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(rec["groups"][0], rec["name"])

    def _count_tasks(self, rec: dict) -> None:
        if self.sc is None:
            return
        st = self.sc.statusTracker()
        jobs = tasks = failed = 0
        for g in rec["groups"]:
            for jid in st.getJobIdsForGroup(g):
                info = st.getJobInfo(jid)
                if info is None:
                    continue
                jobs += 1
                for sid in info.stageIds:
                    stage = st.getStageInfo(sid)
                    if stage is not None:
                        tasks += stage.numCompletedTasks + stage.numFailedTasks
                        failed += stage.numFailedTasks
        rec["counts"].update(
            {"spark.jobs": jobs, "spark.tasks": tasks, "spark.failed_tasks": failed}
        )

    # -- reading the trace ---------------------------------------------

    def named(self, name: str) -> list[dict]:
        """Spans called `name`, leaving out warm-up spans (trace WARMUP)."""
        return [s for s in self.spans if s["name"] == name and s["trace"] != WARMUP]

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.named(name)]

    def self_times(self, name: str) -> list[float]:
        return [max(0.0, s["end"] - s["start"] - s["child_s"]) for s in self.named(name)]

    def median(self, name: str) -> float:
        xs = self.durations(name)
        return statistics.median(xs) if xs else 0.0

    def counts(self, name: str, key: str) -> list[float]:
        return [s["counts"].get(key, 0) for s in self.named(name)]

    def total(self, key: str) -> float:
        """Sum of a count over every span (spark.* counts are per own
        job group, so summing over spans counts each job once)."""
        return sum(s["counts"].get(key, 0) for s in self.spans)

    def dump(self, path: str, extra: dict) -> None:
        summary = {}
        for name in sorted({s["name"] for s in self.spans}):
            d, st = self.durations(name), self.self_times(name)
            if not d:
                continue
            summary[name] = {
                "n": len(d),
                "total_s": sum(d),
                "self_s": sum(st),
                "median_s": statistics.median(d),
                "median_self_s": statistics.median(st),
            }
        spans = [{k: v for k, v in s.items() if k != "child_s"} for s in self.spans]
        with open(path, "w") as fh:
            json.dump({"summary": summary, "spans": spans, **extra}, fh, indent=1)
