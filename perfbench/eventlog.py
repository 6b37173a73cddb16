"""Per-span Spark metrics from an uncompressed, non-rolling event log.

A span is a named interval the benchmark opened around one public call
(``Spans``). Each Spark job is attributed to a span by its
``spark.jobGroup.id`` property, which the benchmark sets to the span name
around the call. Jobs that Spark launches under a group of its own (the
streaming engine uses the query's run id) fall back to the span whose
wall-clock interval contains the job's submission time; the benchmark is
a single closed-loop client, so spans never overlap.

Tasks are attributed through their stage to the first job that lists the
stage: a stage reused by a later job is skipped there, its tasks ran once.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

SPAN_UNITS = {"wall_s": "s", "jobs": "count", "task_s": "s",
              "task_max_s": "s", "shuffle_write_mb": "MB", "spill_mb": "MB"}
_MB = 1024 * 1024


class Spans:
    """Named wall-clock intervals, each labelled on Spark as a job group."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self.intervals: list[tuple[str, float, float]] = []

    @contextmanager
    def span(self, name: str):
        self._sc.setJobGroup(name, name)
        t0 = time.time()
        try:
            yield
        finally:
            self.intervals.append((name, t0, time.time()))
            # jobs after the span (the counts) belong to no span
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)


def span_metrics(event_log: str,
                 intervals: list[tuple[str, float, float]]) -> dict:
    """``{span: {metric: value}}`` for every span in ``intervals``."""
    names = {name for name, _, _ in intervals}
    out = {name: dict.fromkeys(SPAN_UNITS, 0) for name in names}
    for name, t0, t1 in intervals:
        out[name]["wall_s"] += t1 - t0

    def span_of(group: str | None, submitted_ms: int) -> str | None:
        if group in names:
            return group
        for name, t0, t1 in intervals:
            if t0 * 1000 <= submitted_ms <= t1 * 1000:
                return name
        return None

    stage_span: dict[int, str | None] = {}
    with open(event_log) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                span = span_of(ev.get("Properties", {}).get("spark.jobGroup.id"),
                               ev["Submission Time"])
                for sid in ev["Stage IDs"]:
                    stage_span.setdefault(sid, span)
                if span is not None:
                    out[span]["jobs"] += 1
            elif kind == "SparkListenerTaskEnd":
                span = stage_span.get(ev["Stage ID"])
                tm = ev.get("Task Metrics")
                if span is None or tm is None:
                    continue
                m = out[span]
                run_s = tm["Executor Run Time"] / 1000.0
                m["task_s"] += run_s
                m["task_max_s"] = max(m["task_max_s"], run_s)
                m["shuffle_write_mb"] += (
                    tm["Shuffle Write Metrics"]["Shuffle Bytes Written"] / _MB
                )
                m["spill_mb"] += (tm["Memory Bytes Spilled"]
                                  + tm["Disk Bytes Spilled"]) / _MB
    return out
