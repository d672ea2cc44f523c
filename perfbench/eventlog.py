"""Reader for Spark's JSON event log (``spark.eventLog.compress=false``).

Jobs are mapped to spans by their job group (``spark.jobGroup.id``,
which the benchmark sets around each span's actions), stages to jobs by
``SparkListenerJobStart``, and every finished task to the span of its
stage. Per span it sums the task metrics (executor CPU, shuffle write,
spill) and the per-operator SQL accumulators that Spark reports with
each task: the Python-worker counters of ``ArrowEvalPython`` /
``MapInPandas`` / ``FlatMapGroupsInPandas`` nodes arrive as task
accumulables named after the metric, so summing them by name over a
span's tasks attributes them to that span.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict

PYTHON_ACCUMS = {
    "data sent to Python workers": "python_sent_bytes",
    "data returned from Python workers": "python_recv_bytes",
    "time to run Python workers": "python_run_ms",
    "time to start Python workers": "python_start_ms",
    "time to initialize Python workers": "python_init_ms",
}
TASK_METRICS = {
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_mem_bytes",
    "internal.metrics.diskBytesSpilled": "spill_disk_bytes",
}


class SpanStats:
    """Sums for one job group."""

    def __init__(self) -> None:
        self.jobs = 0
        self.sums: dict[str, float] = defaultdict(float)
        self.stage_tasks: dict[int, list[float]] = defaultdict(list)
        self.stage_wall: dict[int, float] = {}

    def task_skew(self) -> float:
        """max ÷ median task duration of the span's longest stage."""
        if not self.stage_wall:
            return 1.0
        stage = max(self.stage_wall, key=self.stage_wall.get)
        durs = self.stage_tasks.get(stage) or [0.0]
        med = statistics.median(durs)
        return max(durs) / med if med > 0 else 1.0


def event_files(log_dir: str) -> list[str]:
    """Event-log files under ``log_dir`` (plain or rolling layout)."""
    files = [
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith((".", "appstatus"))
    ]
    return sorted(files)


def read_spans(log_dir: str) -> dict[str, SpanStats]:
    """job group → :class:`SpanStats` over every event file in ``log_dir``."""
    stage_group: dict[int, str] = {}
    spans: dict[str, SpanStats] = defaultdict(SpanStats)
    for path in event_files(log_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    spans[group].jobs += 1
                    for sid in ev["Stage IDs"]:
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    if group is None:
                        continue
                    span = spans[group]
                    info = ev["Task Info"]
                    span.stage_tasks[ev["Stage ID"]].append(
                        info["Finish Time"] - info["Launch Time"]
                    )
                    for acc in info.get("Accumulables", []):
                        key = TASK_METRICS.get(acc["Name"]) or PYTHON_ACCUMS.get(acc["Name"])
                        if key is not None:
                            span.sums[key] += float(acc.get("Update") or 0)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    group = stage_group.get(info["Stage ID"])
                    if group is not None and "Completion Time" in info:
                        spans[group].stage_wall[info["Stage ID"]] = (
                            info["Completion Time"] - info.get("Submission Time", info["Completion Time"])
                        )
    return dict(spans)
