"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload (see perfbench/workloads.py) in a closed loop with one
client against Spark local[4] from the root of a source checkout, and
prints, as the last line of stdout, one JSON object
`{"correct", "attempted", "failed", "metrics"}`: the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1`. The line
before it is a JSON detail record (latency distributions per op kind,
warm-up times, host steal). Spark logs go to stderr.

All state lives in a per-run directory under `.perfbench_run/` of the
checkout (inputs, tables, Spark local dirs, warehouse, TMPDIR, event log)
and is deleted before exit, together with the Spark JVM.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = 4
KERNEL_SAMPLE_CONVS = 150  # conversations in the single-core ref_ops sample
WALL_LIMIT_S = 150         # stop starting ops after this much wall time


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(scratch: str) -> dict:
    """Point every temporary-file location at the run's scratch dir and
    put the checkout on the Python workers' import path."""
    dirs = {k: os.path.join(scratch, k) for k in ("tmp", "local", "warehouse", "events", "data")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    tempfile.tempdir = None
    return dirs


def start_spark(dirs: dict, trace: bool):
    from marie_ai_spark.session import get_spark

    conf = {
        "spark.local.dir": dirs["local"],
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['tmp']}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": dirs["events"],
            "spark.eventLog.compress": "false",
        })
    return get_spark("perfbench", master=f"local[{CORES}]",
                     shuffle_partitions=2 * CORES, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def install_tracing(tracer) -> None:
    """Timing wrappers around the lineage functions `run_extract` calls
    (traced runs only). The module attributes `run_extract` looks up are
    replaced, so its own calls are timed. The public entry points are timed
    by the ops themselves, `extract_transcripts` by `map_seconds`,
    `ref_ops.extract_turn` by `kernel_turns_per_s` and the query builders
    by the suite's per-query build times."""
    from marie_ai_spark.plans import lineage, pipeline

    tracer.wrap(pipeline, "done_partitions", "lineage.read")
    tracer.wrap(lineage, "read_lineage", "lineage.read", unless_inside=("lineage.read",))
    tracer.wrap(pipeline, "append_lineage", "lineage.append")


def kernel_turns_per_s(seed: int) -> float:
    """Single-core ref_ops.extract_turn throughput over a fixed turn
    sample, no Spark; best of three passes."""
    from marie_ai_spark import ref_ops
    from marie_ai_spark.sources.transcripts import gen_pandas

    texts = list(gen_pandas(KERNEL_SAMPLE_CONVS, seed).text)
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        for t in texts:
            ref_ops.extract_turn(t)
        best = min(best, time.perf_counter() - t0)
    return len(texts) / best


def map_seconds(wl) -> tuple[float, int]:
    """`extract_transcripts` over the workload's extraction input into the
    noop sink: median of three."""
    from marie_ai_spark.operators.extract import extract_transcripts

    df, turns = wl.map_input()
    if df is None:
        return 0.0, 0
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        extract_transcripts(df).write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
    return sorted(times)[1], turns


def measure(wl, seconds: float, t_start: float, log):
    """Warm-up ops, then ops until `seconds` of timed op latency have
    accumulated, in whole units (see layers.py). Returns the
    warm-up ops and the measured ops as lists of (index, Op), and the
    clock reading at which the first measured op started: set-up time
    runs from process start to there (session bring-up, input generation
    and landing, warm-up)."""
    warm, ops = [], []
    i = 0
    for _ in range(wl.warmup_ops):
        warm.append((i, run_op(wl, i, log)))
        i += 1
    busy = 0.0
    first_op_t = time.perf_counter()
    while (busy < seconds or len(ops) % wl.unit_ops) and (
            time.perf_counter() - t_start < WALL_LIMIT_S):
        op = run_op(wl, i, log)
        ops.append((i, op))
        busy += op.latency_s
        i += 1
    return warm, ops, first_op_t


def run_op(wl, i: int, log):
    from perfbench.workloads import Op

    t0 = time.perf_counter()
    try:
        op = wl.op(i)
    except Exception as e:  # an op that raises counts as failed
        log(f"op {i} raised: {e!r}")
        return Op("error", time.perf_counter() - t0, 0, [repr(e)[:300]])
    for p in op.problems:
        log(f"op {i} ({op.kind}) check failed: {p}")
    return op


def tally(setup_problems: list, warm: list, ops: list) -> tuple[int, int, list]:
    """Attempted and failed ops of a run, and their problems. The set-up
    (whose base build or oracle pass is checked) counts as one op, and
    warm-up ops count like measured ones: an op whose check fails or that
    raises is failed wherever it ran."""
    checked = [setup_problems] + [op.problems for _, op in warm + ops]
    return (len(checked), sum(1 for p in checked if p),
            [p for problems in checked for p in problems])


def run(args, scratch: str, t_start: float) -> tuple[dict, dict]:
    from bench import _steal_pct, cpu_snap
    from perfbench import layers, tracing, workloads

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; "
                         f"choose from {sorted(workloads.WORKLOADS)}")
    dirs = isolate(scratch)

    def log(msg):
        print(f"[perfbench] {msg}", file=sys.stderr, flush=True)

    cpu0 = cpu_snap()
    tracer = tracing.Tracer(bool(args.trace))
    install_tracing(tracer)
    t0 = time.perf_counter()
    spark = start_spark(dirs, bool(args.trace))
    session_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        wl = workloads.WORKLOADS[args.workload](spark, dirs["data"], args.seed, tracer)
        wl.setup()
        setup_problems = wl.problems
        for p in setup_problems:
            log(f"setup check failed: {p}")
        warm, ops, first_op_t = measure(wl, args.seconds, t_start, log)
        setup_s = first_op_t - t_start
        extra = {}
        if args.trace:
            extra = {
                "session.start_s": session_s,
                "sources.gen_s": wl.gen_s,
                "ref_ops.turns_per_s": kernel_turns_per_s(args.seed),
                "cores": CORES,
                "input_bytes": wl.input_bytes,
            }
            extra["extract.map_s"], extra["map_turns"] = map_seconds(wl)
            jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
            extra["session.peak_rss_mb"] = tracing.peak_rss_mb([os.getpid(), jvm_pid])
    finally:
        stop_spark(spark)
    steal = _steal_pct(cpu0, cpu_snap())

    measured = [op for op in ops if op[1].kind != "error"]
    attempted, failed, problems = tally(setup_problems, warm, ops)
    if args.trace:
        extra["host.steal_pct"] = steal
        events = tracing.load_event_log(dirs["events"])
        metrics = layers.per_layer(measured, wl.unit_ops, tracer, events, extra)
        units = {k: layers.unit_of(k) for k in metrics}
    else:
        metrics = layers.end_to_end(measured, wl.unit_ops, setup_s)
        units = layers.E2E_UNITS
    result = {
        "correct": failed == 0 and bool(measured),
        "attempted": attempted,
        "failed": failed if measured else attempted,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    by_kind: dict[str, list] = {}
    for _, op in measured:
        by_kind.setdefault(op.kind, []).append(op.latency_s)
    detail = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace,
        "session_start_s": session_s, "gen_s": wl.gen_s,
        "warmup_latency_s": [op.latency_s for _, op in warm],
        "latency_s": {k: layers.tail(v) for k, v in by_kind.items()},
        "op_latency_s": [op.latency_s for _, op in measured],
        "op_turns": [op.turns for _, op in measured],
        "steal_pct": steal,
        "problems": problems[:20],
    }
    return result, detail


def main(argv=None) -> int:
    args = parse_args(argv)
    t_start = time.perf_counter()
    sys.path.insert(0, ROOT)
    # fail fast, before any output, when the program is not next to us
    import bench  # noqa: F401
    import marie_ai_spark  # noqa: F401

    scratch = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    try:
        result, detail = run(args, scratch, t_start)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(scratch))
        except OSError:
            pass
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
