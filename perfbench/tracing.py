"""Traced-run instruments: timing spans around program functions, Spark
job tags per op, and an event-log reader.

Nothing here is active in an end-to-end run. In a traced run the
benchmark installs wrappers on module attributes (so calls the program
makes between its own modules are timed too), tags every Spark job an op
submits with `pb-op-<n>` (and `pb-op-<n>-<query>` inside a query-suite
pass), and writes an uncompressed event log that `read_event_log` folds
into per-tag totals after the session stops. Jobs of streaming triggers
run on the stream's own thread; they inherit the tags of the thread that
started the query, so they are attributed the same way.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from collections import defaultdict

# SQL metrics that every Python-evaluating plan node (MapInPandas among
# them) reports, as named in the event log, with the scale to seconds or
# bytes applied to their summed updates.
PYTHON_METRICS = {
    "time to initialize Python workers": ("python_init_s", 1e-3),
    "time to run Python workers": ("python_run_s", 1e-3),
    "data sent to Python workers": ("python_sent_bytes", 1),
    "data returned from Python workers": ("python_returned_bytes", 1),
}


SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_AQE_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
SQL_DRIVER_ACCUMS = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"
SCAN_BYTES = "size of files read"


class Tracer:
    """Collects spans `(name, op, start, end)` for one run."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple[str, int | None, float, float]] = []
        self.op: int | None = None
        self._active: set[str] = set()

    def wrap(self, module, name: str, label: str | None = None,
             unless_inside: tuple[str, ...] = ()) -> None:
        """Replace `module.name` by a wrapper that records a span, unless a
        span named in `unless_inside` is already open (nested calls)."""
        if not self.enabled:
            return
        orig = getattr(module, name)
        label = label or name

        @functools.wraps(orig)
        def timed(*args, **kwargs):
            if self._active.intersection(unless_inside):
                return orig(*args, **kwargs)
            self._active.add(label)
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                self._active.discard(label)
                self.spans.append((label, self.op, t0, time.perf_counter()))

        setattr(module, name, timed)

    def span_total(self, label: str, op: int) -> float:
        return sum(e - s for n, o, s, e in self.spans if n == label and o == op)

    def tag(self, spark, tag: str):
        """Context manager tagging the Spark jobs submitted inside it."""
        return _JobTag(spark, tag if self.enabled else None)


class _JobTag:
    def __init__(self, spark, tag):
        self.sc, self.tag = spark.sparkContext, tag

    def __enter__(self):
        if self.tag:
            self.sc.addJobTag(self.tag)

    def __exit__(self, *exc):
        if self.tag:
            self.sc.removeJobTag(self.tag)


def _zero():
    return {
        "jobs": 0, "stages": set(), "tasks": 0, "executor_run_s": 0.0,
        "executor_cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0,
        "spill_bytes": 0, "input_bytes": 0, "output_bytes": 0,
        **{k: 0 for k, _ in PYTHON_METRICS.values()},
    }


def event_files(log_dir: str) -> list[str]:
    """Event-log files of the one application in `log_dir`, in order: the
    log is a directory of numbered `events_<n>_<app>` files."""
    return sorted(glob.glob(os.path.join(log_dir, "*", "events_*")),
                  key=lambda p: int(os.path.basename(p).split("_")[1]))


def _scan_metric_ids(plan: dict, out: dict) -> None:
    for m in plan.get("metrics", []):
        if m.get("name") == SCAN_BYTES:
            out[m["accumulatorId"]] = SCAN_BYTES
    for child in plan.get("children", []):
        _scan_metric_ids(child, out)


def read_event_log(lines) -> dict[str, dict]:
    """Fold event-log lines into totals per job tag.

    A task counts toward every tag of the job that first listed its
    stage. `stages` is returned as a count of stages that ran tasks.
    `input_bytes` is the size of the files the tag's SQL scans read, as
    the scan nodes report it: the tasks' own input-bytes metric misses
    parquet reads that Hadoop serves from its vectored-read threads."""
    stage_tags: dict[int, tuple[str, ...]] = {}
    totals: dict[str, dict] = defaultdict(_zero)
    scan_ids: dict[int, str] = {}
    exec_tags: dict[str, tuple[str, ...]] = {}
    scan_bytes: dict[tuple[str, int], float] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind in (SQL_START, SQL_AQE_UPDATE):
            _scan_metric_ids(ev.get("sparkPlanInfo") or {}, scan_ids)
            if kind == SQL_START:
                exec_tags[ev["executionId"]] = tuple(
                    t for t in ev.get("jobTags") or () if t.startswith("pb-"))
        elif kind == SQL_DRIVER_ACCUMS:
            for acc_id, value in ev.get("accumUpdates", []):
                if acc_id in scan_ids:
                    scan_bytes[(ev["executionId"], acc_id)] = value
        elif kind == "SparkListenerJobStart":
            raw = (ev.get("Properties") or {}).get("spark.job.tags") or ""
            tags = tuple(t for t in raw.split(",") if t.startswith("pb-"))
            for t in tags:
                totals[t]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_tags.setdefault(sid, tags)
        elif kind == "SparkListenerTaskEnd":
            tags = stage_tags.get(ev.get("Stage ID"), ())
            if not tags:
                continue
            m = ev.get("Task Metrics") or {}
            add = {
                "tasks": 1,
                "executor_run_s": m.get("Executor Run Time", 0) / 1e3,
                "executor_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "gc_s": m.get("JVM GC Time", 0) / 1e3,
                "shuffle_write_bytes": (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0),
                "spill_bytes": m.get("Memory Bytes Spilled", 0)
                + m.get("Disk Bytes Spilled", 0),
                "output_bytes": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
            }
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                spec = PYTHON_METRICS.get(acc.get("Name"))
                if spec and acc.get("Update") is not None:
                    add[spec[0]] = add.get(spec[0], 0) + float(acc["Update"]) * spec[1]
            for t in tags:
                tot = totals[t]
                tot["stages"].add(ev["Stage ID"])
                for k, v in add.items():
                    tot[k] += v
    for (exec_id, _), value in scan_bytes.items():
        for t in exec_tags.get(exec_id, ()):
            totals[t]["input_bytes"] += value
    for tot in totals.values():
        tot["stages"] = len(tot["stages"])
    return dict(totals)


def load_event_log(log_dir: str) -> dict[str, dict]:
    def lines():
        for path in event_files(log_dir):
            with open(path) as f:
                yield from f
    return read_event_log(lines())


def peak_rss_mb(pids) -> float:
    """Sum of the peak resident set sizes (VmHWM) of the given processes."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0
