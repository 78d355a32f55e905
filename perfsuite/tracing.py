"""Traced mode: spans around the public calls of one job, and Spark
counters read back from the session's event log.

A span opens around one call into a library layer, tags the Spark jobs it
launches with ``setJobDescription("<job tag>|<span name>")``, and persists
and counts the DataFrame the call returns. Its duration is then that
layer's work alone: later spans read the cached result instead of
recomputing it. Spans of one job are siblings under the job, so a span's
self time is its duration, and the job's self time is what no span covers.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame


class Tracer:
    """Spans and row counts of one traced job."""

    def __init__(self, spark, tag: str):
        self.sc = spark.sparkContext
        self.tag = tag
        self.spans: dict[str, float] = {}  # name -> summed seconds
        self.counts: dict[str, float] = {}
        self._cached: list[DataFrame] = []
        self.sc.setJobDescription(f"{tag}|job")

    @contextmanager
    def span(self, name: str):
        self.sc.setJobDescription(f"{self.tag}|{name}")
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans[name] = self.spans.get(name, 0.0) + time.perf_counter() - t0
            self.sc.setJobDescription(f"{self.tag}|job")

    def materialize(self, name: str, make) -> tuple[DataFrame, int]:
        """Span ``name`` around ``make()``; persist and count its result."""
        with self.span(name):
            df = make().persist()
            rows = df.count()
        self._cached.append(df)
        return df, rows

    def add(self, counter: str, value: float) -> None:
        self.counts[counter] = self.counts.get(counter, 0.0) + value

    def close(self) -> None:
        for df in self._cached:
            df.unpersist()
        self.sc.setJobDescription(None)


# Spark counters reported per traced job. Task metrics come from each
# SparkListenerTaskEnd; the Python-boundary figures are SQL metrics, which
# the event log carries as task accumulables under these names.
_PY_ACCUMS = {
    "data sent to Python workers": "spark.python_sent_mb",
    "data returned from Python workers": "spark.python_returned_mb",
    "time to run Python workers": "spark.python_run_s",
    "time to start Python workers": "spark.python_start_s",
    "time to initialize Python workers": "spark.python_init_s",
}
_PY_SCALE = {
    "spark.python_sent_mb": 1e-6,
    "spark.python_returned_mb": 1e-6,
    "spark.python_run_s": 1e-3,
    "spark.python_start_s": 1e-3,
    "spark.python_init_s": 1e-3,
}
SPARK_COUNTERS = [
    "spark.jobs", "spark.stages", "spark.tasks", "spark.task_wait_s",
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.input_mb",
    "spark.shuffle_write_mb", "spark.shuffle_records",
    "spark.python_sent_mb", "spark.python_returned_mb",
    "spark.python_run_s", "spark.python_start_s", "spark.python_init_s",
    "spark.gc_s", "spark.spill_mb",
]


def event_log_counters(log_dir: str) -> dict[str, dict[str, float]]:
    """job tag -> Spark counters summed over the Spark jobs carrying that
    tag. Reads the one application log in ``log_dir`` (the session must be
    stopped first, so the log is complete)."""
    (name,) = os.listdir(log_dir)
    tag_of_stage: dict[int, str] = {}
    submitted: dict[tuple[int, int], int] = {}
    out: dict[str, dict[str, float]] = {}

    def bucket(tag: str) -> dict[str, float]:
        return out.setdefault(tag, dict.fromkeys(SPARK_COUNTERS, 0.0))

    with open(os.path.join(log_dir, name)) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                if "|" not in desc:
                    continue
                tag = desc.split("|", 1)[0]
                bucket(tag)["spark.jobs"] += 1
                for sid in ev["Stage IDs"]:
                    tag_of_stage.setdefault(sid, tag)
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                key = (info["Stage ID"], info["Stage Attempt ID"])
                submitted[key] = info.get("Submission Time", 0)
                if info["Stage ID"] in tag_of_stage:
                    bucket(tag_of_stage[info["Stage ID"]])["spark.stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                tag = tag_of_stage.get(ev["Stage ID"])
                if tag is None:
                    continue
                b = bucket(tag)
                info = ev["Task Info"]
                m = ev.get("Task Metrics") or {}
                b["spark.tasks"] += 1
                sub = submitted.get((ev["Stage ID"], ev["Stage Attempt ID"]))
                if sub:
                    b["spark.task_wait_s"] += max(0, info["Launch Time"] - sub) / 1e3
                b["spark.executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                b["spark.executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                b["spark.gc_s"] += m.get("JVM GC Time", 0) / 1e3
                b["spark.input_mb"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / 1e6
                sw = m.get("Shuffle Write Metrics") or {}
                b["spark.shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
                b["spark.shuffle_records"] += sw.get("Shuffle Records Written", 0)
                b["spark.spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
                for acc in info.get("Accumulables", ()):
                    key = _PY_ACCUMS.get(acc.get("Name"))
                    if key is not None and acc.get("Update") is not None:
                        b[key] += float(acc["Update"]) * _PY_SCALE[key]
    return out


def median_by_key(rows: list[dict[str, float]], keys) -> dict[str, float]:
    return {k: statistics.median(r.get(k, 0.0) for r in rows) for k in keys}
