"""Executor-side metrics from a Spark event log.

The traced run starts Spark with ``spark.eventLog.enabled`` (uncompressed,
not rolled) in the run's scratch directory; after the session stops, this
module folds every ``SparkListenerTaskEnd`` record whose task launched
inside one of the measured passes into the ``spark.*`` metrics.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

SPARK_METRICS = (
    "spark.executor_run_s",
    "spark.executor_cpu_s",
    "spark.jvm_gc_s",
    "spark.scan_bytes",
    "spark.shuffle_write_bytes",
    "spark.shuffle_read_bytes",
    "spark.fetch_wait_s",
    "spark.spill_bytes",
    "spark.result_bytes",
    "spark.task_skew",
    "spark.failed_tasks",
    "spark.tasks",
)


def _in_windows(ms: int, windows: list[tuple[float, float]] | None) -> bool:
    return windows is None or any(a <= ms <= b for a, b in windows)


def task_metrics(lines, windows: list[tuple[float, float]] | None = None) -> dict:
    """Sum task metrics over the ``SparkListenerTaskEnd`` events in
    ``lines`` (JSON strings). ``windows`` is a list of (start, end) epoch
    milliseconds; a task counts when its launch time falls in one of
    them (None counts every task).

    ``spark.task_skew`` is the median, over stages with at least two
    counted tasks, of the slowest task's duration over the stage's median
    task duration."""
    out = dict.fromkeys(SPARK_METRICS, 0.0)
    durations: dict[tuple[int, int], list[int]] = defaultdict(list)
    for line in lines:
        line = line.strip()
        if not line or '"SparkListenerTaskEnd"' not in line:
            continue
        ev = json.loads(line)
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        info = ev.get("Task Info", {})
        launch = info.get("Launch Time", 0)
        if not _in_windows(launch, windows):
            continue
        out["spark.tasks"] += 1
        reason = ev.get("Task End Reason", {}).get("Reason")
        if info.get("Failed") or reason not in (None, "Success"):
            out["spark.failed_tasks"] += 1
        finish = info.get("Finish Time", launch)
        durations[(ev.get("Stage ID", -1), ev.get("Stage Attempt ID", 0))].append(
            max(finish - launch, 0)
        )
        m = ev.get("Task Metrics") or {}
        out["spark.executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
        out["spark.executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        out["spark.jvm_gc_s"] += m.get("JVM GC Time", 0) / 1e3
        out["spark.result_bytes"] += m.get("Result Size", 0)
        out["spark.spill_bytes"] += m.get("Disk Bytes Spilled", 0)
        out["spark.scan_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        sw = m.get("Shuffle Write Metrics") or {}
        out["spark.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        out["spark.shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
            "Local Bytes Read", 0
        )
        out["spark.fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
    skews = []
    for ds in durations.values():
        mid = statistics.median(ds)
        if len(ds) >= 2 and mid > 0:
            skews.append(max(ds) / mid)
    out["spark.task_skew"] = statistics.median(skews) if skews else 1.0
    return out


def read_dir(path: str, windows: list[tuple[float, float]] | None = None) -> dict:
    """``task_metrics`` over every event-log file under ``path``."""

    def lines():
        for base, _, files in os.walk(path):
            for name in sorted(files):
                if name.startswith("."):
                    continue
                with open(os.path.join(base, name), errors="replace") as f:
                    yield from f

    return task_metrics(lines(), windows)
