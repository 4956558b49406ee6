"""Tracing for the benchmark's traced run, recorded from outside the
pipeline:

- spans (name, start, end, parent) around the snapshot store's
  `get_or_compute` and `write`, whose stage names are `run_linkage`'s
  stages; each span runs its Spark jobs under its own job group;
- job, task and failed-task counts per job group, from the status tracker
  (which works with the UI off);
- task metrics per job group, summed from Spark's uncompressed event log;
- rows, bytes and files per stage, read from the committed store's
  parquet footers.

Spans are kept in memory and turned into metrics after the run.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

from biomedical_el_spark.sources.snapshots import SnapshotStore

GROUP_PREFIX = "linkbench:"


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index into the tracer's span list


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per span name: duration minus the part of it that child spans
    cover, summed over spans of that name."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    out: dict[str, float] = defaultdict(float)
    for i, s in enumerate(spans):
        out[s.name] += (s.end - s.start) - _covered(children[i])
    return dict(out)


def root_self_time(start: float, end: float, spans: list[Span]) -> float:
    """Wall of [start, end] not covered by any top-level span."""
    return (end - start) - _covered(
        [(s.start, s.end) for s in spans if s.parent is None]
    )


class Tracer:
    """Records spans; each open span sets its own Spark job group and
    restores the enclosing one on exit."""

    def __init__(self, spark, root_group: str):
        self.sc = spark.sparkContext
        self.root_group = root_group
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def _set_group(self, name: str) -> None:
        self.sc.setJobGroup(GROUP_PREFIX + name, name)

    @contextmanager
    def run(self):
        """The traced unit: jobs outside every span go to `root_group`."""
        self._set_group(self.root_group)
        try:
            yield self
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def span(self, name: str):
        if self._stack and self.spans[self._stack[-1]].name == name:
            yield  # get_or_compute's own write: same stage, no new span
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), float("nan"), parent))
        self._stack.append(idx)
        self._set_group(name)
        try:
            yield
        finally:
            self.spans[idx].end = time.perf_counter()
            self._stack.pop()
            self._set_group(
                self.spans[self._stack[-1]].name if self._stack else self.root_group
            )

    def groups(self) -> list[str]:
        return [self.root_group] + sorted({s.name for s in self.spans})


class TracingStore(SnapshotStore):
    """A SnapshotStore whose stage reads and writes are traced spans."""

    def __init__(self, root: str, tracer: Tracer):
        super().__init__(root)
        self.tracer = tracer

    def write(self, df, stage, fp, partition_by=None):
        with self.tracer.span(stage):
            super().write(df, stage, fp, partition_by)

    def get_or_compute(self, spark, stage, fp, compute, partition_by=None):
        with self.tracer.span(stage):
            return super().get_or_compute(spark, stage, fp, compute, partition_by)


def group_job_stats(spark, group: str) -> dict[str, int]:
    """Jobs, tasks run and failed task attempts of one job group, from
    the status tracker.  Stages shared by several jobs count once."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(GROUP_PREFIX + group)
    stage_ids: set[int] = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    tasks = failed = 0
    for s in stage_ids:
        info = st.getStageInfo(s)
        if info is not None:
            tasks += info.numCompletedTasks
            failed += info.numFailedTasks
    return {"spark_jobs": len(jobs), "tasks": tasks, "failed_tasks": failed}


# task metrics summed per job group: name -> (path into "Task Metrics", scale)
_TASK_METRICS = {
    "executor_run_s": (("Executor Run Time",), 1e-3),
    "executor_cpu_s": (("Executor CPU Time",), 1e-9),
    "gc_s": (("JVM GC Time",), 1e-3),
    "shuffle_read_mb": (
        (("Shuffle Read Metrics", "Remote Bytes Read"),
         ("Shuffle Read Metrics", "Local Bytes Read")),
        2.0**-20,
    ),
    "shuffle_write_mb": (("Shuffle Write Metrics", "Shuffle Bytes Written"), 2.0**-20),
    "spill_mb": ((("Memory Bytes Spilled",), ("Disk Bytes Spilled",)), 2.0**-20),
}
EVENT_METRICS = tuple(_TASK_METRICS)


def _dig(d: dict, path: tuple[str, ...]) -> float:
    for k in path:
        d = d.get(k, {}) if isinstance(d, dict) else {}
    return float(d) if isinstance(d, (int, float)) else 0.0


def _metric(tm: dict, paths) -> float:
    if isinstance(paths[0], str):
        return _dig(tm, paths)
    return sum(_dig(tm, p) for p in paths)


def event_log_files(log_dir: str) -> list[str]:
    """Event log files under `log_dir`: one file per application, or
    (rolling logs) a directory of `events_*` files per application."""
    files = []
    for entry in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(entry):
            files.extend(sorted(glob.glob(os.path.join(entry, "events_*"))))
        else:
            files.append(entry)
    return files


def read_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group (prefix stripped): `spark_jobs` plus the sums of
    EVENT_METRICS over every task attempt of the group's jobs.  Only job
    start and task end events are decoded; the log must be uncompressed
    (`spark.eventLog.compress=false`)."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    task_lines: list[str] = []
    for path in event_log_files(log_dir):
        with open(path) as f:
            for line in f:
                if line.startswith('{"Event":"SparkListenerTaskEnd"'):
                    task_lines.append(line)
                elif line.startswith('{"Event":"SparkListenerJobStart"'):
                    ev = json.loads(line)
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if not group or not group.startswith(GROUP_PREFIX):
                        continue
                    group = group[len(GROUP_PREFIX):]
                    out[group]["spark_jobs"] += 1
                    for s in ev["Stage IDs"]:
                        stage_group[s] = group
    for line in task_lines:
        ev = json.loads(line)
        group = stage_group.get(ev["Stage ID"])
        if group is None:
            continue
        tm = ev.get("Task Metrics") or {}
        acc = out[group]
        for name, (paths, scale) in _TASK_METRICS.items():
            acc[name] += _metric(tm, paths) * scale
    return {g: dict(v) for g, v in out.items()}


def store_footprint(path: str) -> dict[str, float]:
    """Rows (parquet footers), MB and file count of the parquet data
    under `path` (a stage's committed directory)."""
    import pyarrow.parquet as pq

    rows, size, files = 0, 0, 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(dirpath, n)
                rows += pq.ParquetFile(p).metadata.num_rows
                size += os.path.getsize(p)
                files += 1
    return {"rows_out": rows, "bytes_written_mb": size / 2**20, "files_written": files}
