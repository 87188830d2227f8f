"""Per-layer metrics of a traced run, and the end-to-end metrics of any run.

An op is one call the benchmark times (a `run_extract`, an ingest, a
merge, a reextract or a query-suite pass). A unit is what `op_p50_s`
reports on: one op, except on extract_incremental where a unit is one
ingest -> merge -> reextract rotation, because a median over a mix of
three op kinds of different sizes would be the median of whichever kind
happens to sit in the middle.

Counts (jobs, bytes, files, buckets) are taken from the first measured
op or unit, so they repeat exactly between runs with the same seed;
times are medians over all measured ops or units. A layer that a
workload does not exercise reports 0.
"""

from __future__ import annotations

import statistics

from perfbench.workloads import SUITE

SPARK_COUNTS = ("jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes",
                "input_bytes", "output_bytes")
SPARK_TIMES = ("executor_run_s", "executor_cpu_s", "gc_s")

PER_LAYER = [
    "session.start_s", "session.peak_rss_mb", "sources.gen_s", "host.steal_pct",
    "trace.op_p50_s", "ref_ops.turns_per_s",
    "extract.map_s", "extract.parallel_eff", "extract.python_init_s",
    "extract.python_run_s", "extract.python_sent_bytes",
    "extract.python_returned_bytes",
    "pipeline.overhead_s", "pipeline.jobs_per_run", "pipeline.input_read_amp",
    "merge.buckets_touched", "merge.write_amp", "merge.jobs",
    "lineage.read_s", "lineage.append_s", "lineage.files",
    "stream.trigger_s", "stream.add_batch_s", "stream.wal_commit_s",
    "stream.commit_offsets_s", "stream.latest_offset_s", "stream.start_stop_s",
    "incremental.ingest_p50_s", "incremental.merge_p50_s",
    "incremental.reextract_p50_s",
    *[f"spark.{k}" for k in SPARK_COUNTS + SPARK_TIMES],
    "query.build_s", "query.exec_s",
    *[f"query.{q}.{k}" for q in SUITE for k in ("build_s", "exec_s", "jobs")],
]

E2E_UNITS = {"setup_s": "s", "op_p50_s": "s", "throughput_per_s": "1/s",
             "turns_per_s": "1/s"}

UNITS = {
    "session.peak_rss_mb": "MB", "host.steal_pct": "%",
    "ref_ops.turns_per_s": "1/s", "extract.parallel_eff": "ratio",
    "pipeline.input_read_amp": "ratio", "merge.write_amp": "ratio",
}


def unit_of(name: str) -> str:
    if name in UNITS:
        return UNITS[name]
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    return "count"


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def tail(xs) -> dict:
    """Median, the highest percentile with at least ten samples beyond it
    (None below 11 samples), and the sample count."""
    xs = sorted(xs)
    n = len(xs)
    out = {"n": n, "p50": median(xs), "tail_pct": None, "tail": None}
    if n >= 11:
        pct = 100.0 * (n - 10) / n
        out["tail_pct"] = round(pct, 1)
        out["tail"] = xs[n - 11]
    return out


def units_of(ops: list, unit_ops: int) -> list[list]:
    """Group measured ops (index, Op) into whole units of `unit_ops` ops."""
    return [ops[k:k + unit_ops] for k in range(0, len(ops) - unit_ops + 1, unit_ops)]


def end_to_end(ops: list, unit_ops: int, setup_s: float) -> dict:
    busy = sum(op.latency_s for _, op in ops) or float("inf")
    units = units_of(ops, unit_ops)
    done = sum(len(op.info.get("queries", ())) or 1 for _, op in ops)
    return {
        "setup_s": setup_s,
        "op_p50_s": median(sum(op.latency_s for _, op in u) for u in units),
        "throughput_per_s": done / busy,
        "turns_per_s": sum(op.turns for _, op in ops) / busy,
    }


def per_layer(ops: list, unit_ops: int, tracer, events: dict, extra: dict) -> dict:
    """Every PER_LAYER metric for one traced run. `events` maps job tags to
    event-log totals; `extra` carries what the run measured besides ops."""
    m = dict.fromkeys(PER_LAYER, 0.0)
    for k in ("session.start_s", "session.peak_rss_mb", "sources.gen_s",
              "host.steal_pct", "ref_ops.turns_per_s", "extract.map_s"):
        m[k] = extra[k]
    m["trace.op_p50_s"] = end_to_end(ops, unit_ops, 0.0)["op_p50_s"]
    zero = {k: 0 for k in SPARK_COUNTS + SPARK_TIMES}

    def ev(i, suffix=""):
        return events.get(f"pb-op-{i}{suffix}", zero)

    def unit_total(unit, key):
        return sum(ev(i).get(key, 0) for i, _ in unit)

    units = units_of(ops, unit_ops)
    if units:
        for k in SPARK_COUNTS:
            m[f"spark.{k}"] = unit_total(units[0], k)
        for k in SPARK_TIMES:
            m[f"spark.{k}"] = median(unit_total(u, k) for u in units)
        m["extract.python_init_s"] = median(unit_total(u, "python_init_s") for u in units)
        m["extract.python_run_s"] = median(unit_total(u, "python_run_s") for u in units)
        m["extract.python_sent_bytes"] = unit_total(units[0], "python_sent_bytes")
        m["extract.python_returned_bytes"] = unit_total(units[0], "python_returned_bytes")

    if extra["map_turns"] and m["extract.map_s"]:
        m["extract.parallel_eff"] = (extra["map_turns"] / m["extract.map_s"]) / (
            extra["cores"] * m["ref_ops.turns_per_s"])

    by_kind: dict[str, list] = {}
    for i, op in ops:
        by_kind.setdefault(op.kind, []).append((i, op))

    runs = by_kind.get("extract") or by_kind.get("reextract") or []
    if runs:
        first = runs[0][0]
        m["pipeline.overhead_s"] = median(op.latency_s for _, op in runs) - m["extract.map_s"]
        m["pipeline.jobs_per_run"] = ev(first)["jobs"]
        m["pipeline.input_read_amp"] = ev(first)["input_bytes"] / extra["input_bytes"]
        m["lineage.read_s"] = median(tracer.span_total("lineage.read", i) for i, _ in runs)
        m["lineage.append_s"] = median(tracer.span_total("lineage.append", i) for i, _ in runs)
        m["lineage.files"] = runs[0][1].info["lineage_files"]

    merges = by_kind.get("merge", [])
    if merges:
        i, op = merges[0]
        m["merge.buckets_touched"] = op.info["buckets_touched"]
        m["merge.write_amp"] = ev(i)["output_bytes"] / op.info["corrected_bytes"]
        m["merge.jobs"] = ev(i)["jobs"]

    ingests = by_kind.get("ingest", [])
    if ingests:
        def stream_s(op, key):
            return sum(p.get(key, 0) for p in op.info["progress"]) / 1e3
        for name, key in (("trigger_s", "triggerExecution"), ("add_batch_s", "addBatch"),
                          ("wal_commit_s", "walCommit"),
                          ("commit_offsets_s", "commitOffsets"),
                          ("latest_offset_s", "latestOffset")):
            m[f"stream.{name}"] = median(stream_s(op, key) for _, op in ingests)
        m["stream.start_stop_s"] = median(
            op.latency_s - stream_s(op, "triggerExecution") for _, op in ingests)

    for kind in ("ingest", "merge", "reextract"):
        if kind in by_kind:
            m[f"incremental.{kind}_p50_s"] = median(op.latency_s for _, op in by_kind[kind])

    passes = by_kind.get("pass", [])
    if passes:
        for q in SUITE:
            m[f"query.{q}.build_s"] = median(op.info["queries"][q][0] for _, op in passes)
            m[f"query.{q}.exec_s"] = median(op.info["queries"][q][1] for _, op in passes)
            m[f"query.{q}.jobs"] = ev(passes[0][0], f"-{q}")["jobs"]
        m["query.build_s"] = median(sum(b for b, _ in op.info["queries"].values())
                                    for _, op in passes)
        m["query.exec_s"] = median(sum(e for _, e in op.info["queries"].values())
                                   for _, op in passes)
    return m
