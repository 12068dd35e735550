"""Spans around calls into the product, with Spark stage attribution.

A span records its name, start, end and the span that caused it. Spans
are kept in memory and written out when the run ends. Every span runs
its Spark jobs under a job group of its own, so after the operation
finishes (outside the timed region) the stages those jobs ran are read
back from Spark's status store: executor run time, shuffle bytes
written, spill and records written.

Spans are recorded only from the benchmark's own files, by wrapping
module attributes the product looks up at call time
(`catalog.write_table`, `materialize._write_metrics`, `sparql.parse`,
`sparql.evaluate`, `cli._emit`). The product code itself is unchanged.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time

from py4j.protocol import Py4JJavaError


class Tracer:
    """Collects spans; a disabled tracer records nothing and sets no
    job groups, so untraced runs pay no attribution cost."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)
        # a stage reused by a later job is attributed to the first span
        # that ran it, never counted twice
        self._claimed: set[int] = set()
        # time spent opening and closing spans: the tracer's own cost
        # inside the timed region
        self.cost_s = 0.0

    def begin(self, name: str, **attrs) -> dict | None:
        """Open a span; its Spark jobs run under its own job group until
        it ends or a child span opens."""
        if not self.enabled:
            return None
        t0 = time.perf_counter()
        sid = next(self._ids)
        rec = {
            "id": sid,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "name": name,
            "group": f"kgbench-span-{sid}",
            **attrs,
        }
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        self.cost_s += rec["start"] - t0
        return rec

    def end(self, rec: dict | None) -> None:
        """Close the innermost open span `rec`."""
        if rec is None:
            return
        rec["end"] = time.perf_counter()
        rec["wall_ms"] = (rec["end"] - rec["start"]) * 1000.0
        if self._stack.pop() is not rec:
            raise RuntimeError(f"span {rec['name']} closed out of order")
        if self._stack:
            self.sc.setJobGroup(self._stack[-1]["group"], self._stack[-1]["name"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        self.spans.append(rec)
        self.cost_s += time.perf_counter() - rec["end"]

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = self.begin(name, **attrs)
        try:
            yield rec
        finally:
            self.end(rec)

    def attribute(self, spans: list[dict]) -> None:
        """Add Spark job/stage totals to each span (in start order).
        Call after the traced operation has finished."""
        if not spans:
            return
        jsc = self.sc._jsc.sc()
        # stage metrics reach the status store through the listener bus
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for rec in sorted(spans, key=lambda r: r["start"]):
            tot = dict(jobs=0, stages=0, task_ms=0, shuffle_write_bytes=0,
                       spill_bytes=0, rows_out=0, failed_tasks=0)
            for job_id in tracker.getJobIdsForGroup(rec["group"]):
                info = tracker.getJobInfo(job_id)
                tot["jobs"] += 1
                for stage_id in (info.stageIds if info else []):
                    if stage_id in self._claimed:
                        continue
                    try:
                        sd = store.lastStageAttempt(stage_id)
                    except Py4JJavaError:
                        continue  # skipped: planned but never run
                    if str(sd.status()) == "SKIPPED":
                        continue
                    self._claimed.add(stage_id)
                    tot["stages"] += 1
                    tot["task_ms"] += sd.executorRunTime()
                    tot["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    tot["spill_bytes"] += sd.diskBytesSpilled()
                    tot["rows_out"] += sd.outputRecords()
                    tot["failed_tasks"] += sd.numFailedTasks()
            rec.update(tot)

    def self_ms(self, rec: dict) -> float:
        """The span's duration minus the part its child spans cover."""
        kids = [s for s in self.spans if s["parent"] == rec["id"]]
        return rec["wall_ms"] - sum(k["wall_ms"] for k in kids)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1, default=str)


@contextlib.contextmanager
def patched(module, name: str, wrapper_factory, enabled: bool = True):
    """Temporarily replace `module.name` with wrapper_factory(original).
    A name the product no longer has is left alone: its layer then
    reports no spans."""
    orig = getattr(module, name, None)
    if not enabled or orig is None:
        yield
        return
    setattr(module, name, wrapper_factory(orig))
    try:
        yield
    finally:
        setattr(module, name, orig)
