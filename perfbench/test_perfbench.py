"""The benchmark's own tests: every correctness check rejects a
deliberately corrupted output, the event-log reader attributes work to
the right op and never goes negative, and BENCHMARK.json names exactly
the metrics the harness reports.

    python3 -m pytest perfbench -q

No Spark session is started.
"""

from __future__ import annotations

import copy
import json
import os
import sys

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from marie_ai_spark import ref_ops  # noqa: E402
from marie_ai_spark.sources.transcripts import gen_pandas  # noqa: E402
from perfbench import checks, layers, run, tracing, workloads  # noqa: E402


def extracted_rows(n_convs=4, seed=3) -> pd.DataFrame:
    """What a correct extraction writes for a few generated turns."""
    df = gen_pandas(n_convs, seed)
    out = [ref_ops.extract_turn(t) for t in df.text]
    return pd.DataFrame({
        "conv_id": df.conv_id,
        "turn_idx": df.turn_idx,
        "clean_text": [o["clean_text"] for o in out],
        "spans": [[{"start": s, "end": e, "label": lb, "action": a}
                   for s, e, lb, a in o["spans"]] for o in out],
    })


@pytest.fixture
def run_output():
    rows = extracted_rows()
    sample = {(r.conv_id, int(r.turn_idx)): ref_ops.extract_turn(t)
              for r, t in zip(rows.itertuples(), gen_pandas(4, 3).text)}
    lineage = pd.DataFrame({"partition_id": [0, 1], "status": ["done", "done"],
                            "checksum": ["123", "-45"]})
    return {"result": {"rows_out": len(rows)}, "n_input_turns": len(rows),
            "lineage": lineage, "expected_checksums": {0: "123", 1: "-45"},
            "sample_rows": rows, "expected_sample": sample}


def test_extract_run_accepts_correct_output(run_output):
    assert checks.extract_run(**run_output) == []


@pytest.mark.parametrize("corrupt", [
    lambda o: o["result"].update(rows_out=o["n_input_turns"] - 1),
    lambda o: o["lineage"].loc.__setitem__((1, "checksum"), "-46"),
    lambda o: o["lineage"].loc.__setitem__((0, "status"), "failed"),
    lambda o: o["sample_rows"].loc.__setitem__((0, "clean_text"), "tampered"),
    lambda o: o["sample_rows"].at.__setitem__(
        (int(o["sample_rows"].spans.map(len).idxmax()), "spans"), []),
    lambda o: o.__setitem__("sample_rows", o["sample_rows"].iloc[1:]),
])
def test_extract_run_rejects_corruption(run_output, corrupt):
    out = copy.deepcopy(run_output)
    corrupt(out)
    assert checks.extract_run(**out)


def test_sink_exactly_once():
    landed = {0: {"turns": 3, "convs": {"a", "b"}}, 3: {"turns": 2, "convs": {"c"}}}
    good = ["a", "a", "b", "c", "c"]
    assert checks.sink_exactly_once(good, landed) == []
    assert checks.sink_exactly_once(good + ["c", "c"], landed)   # delta twice
    assert checks.sink_exactly_once(good[:3], landed)            # delta lost
    assert checks.sink_exactly_once(good + ["z"], landed)        # foreign rows


def test_merged_values():
    fixed = pd.DataFrame({"conv_id": ["a", "b"], "turn_idx": [0, 2],
                          "clean_text": ["x [corrected 1]", "y [corrected 1]"]})
    assert checks.merged_values(fixed, fixed) == []
    stale = fixed.assign(clean_text=["x", "y [corrected 1]"])
    assert checks.merged_values(stale, fixed)
    assert checks.merged_values(pd.concat([fixed, fixed]), fixed)  # duplicated key
    assert checks.merged_values(fixed.iloc[:1], fixed)              # lost key


def test_bucket_counts():
    assert checks.bucket_counts({2: 500, 3: 500}, {2: 500, 3: 500}) == []
    assert checks.bucket_counts({2: 500, 3: 499}, {2: 500, 3: 500})
    assert checks.bucket_counts({2: 500}, {2: 500, 3: 500})


def test_query_checks():
    assert checks.query_result("q", "h", "h", 4, 4) == []
    assert checks.query_result("q", "h", "g", 4, 4)
    assert checks.query_result("q", "h", "h", 4, 5)
    digest = {"rows": 4, "hash": "-77"}
    assert checks.same_digest("q", dict(digest), digest) == []
    assert checks.same_digest("q", {"rows": 4, "hash": "-78"}, digest)
    assert checks.same_digest("q", {"rows": 3, "hash": "-77"}, digest)


def _event(kind, **kw):
    return json.dumps({"Event": kind, **kw})


def _task(stage, run_ms=10, out_bytes=0, accums=()):
    return _event("SparkListenerTaskEnd", **{
        "Stage ID": stage,
        "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": 5e6,
                         "JVM GC Time": 1, "Memory Bytes Spilled": 0,
                         "Disk Bytes Spilled": 0,
                         "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
                         "Output Metrics": {"Bytes Written": out_bytes}},
        "Task Info": {"Accumulables": [{"Name": n, "Update": v} for n, v in accums]},
    })


def test_event_log_attribution():
    plan = {"nodeName": "Scan parquet", "children": [],
            "metrics": [{"name": "size of files read", "accumulatorId": 9}]}
    lines = [
        _event("SparkListenerJobStart", **{"Job ID": 0, "Stage IDs": [0],
               "Properties": {"spark.job.tags": "spark-session-x"}}),
        _task(0),
        _event(tracing.SQL_START, executionId=1, sparkPlanInfo=plan,
               jobTags=["pb-op-4", "spark-session-x"]),
        _event(tracing.SQL_DRIVER_ACCUMS, executionId=1, accumUpdates=[[9, 1000]]),
        _event("SparkListenerJobStart", **{"Job ID": 1, "Stage IDs": [1, 2],
               "Properties": {"spark.job.tags": "pb-op-4,spark-session-x"}}),
        _task(1, out_bytes=50), _task(1), _task(2, accums=[
            ("time to run Python workers", 250), ("data sent to Python workers", 64)]),
        # a later job that lists stage 1 again (skipped) belongs to op 5 but
        # must not take op 4's tasks
        _event("SparkListenerJobStart", **{"Job ID": 2, "Stage IDs": [1, 3],
               "Properties": {"spark.job.tags": "pb-op-5"}}),
        _task(3),
    ]
    t = tracing.read_event_log(lines)
    assert set(t) == {"pb-op-4", "pb-op-5"}
    op4, op5 = t["pb-op-4"], t["pb-op-5"]
    assert (op4["jobs"], op4["stages"], op4["tasks"]) == (1, 2, 3)
    assert (op5["jobs"], op5["stages"], op5["tasks"]) == (1, 1, 1)
    assert op4["output_bytes"] == 50 and op4["input_bytes"] == 1000
    assert op4["python_run_s"] == pytest.approx(0.25)
    assert op4["python_sent_bytes"] == 64
    assert all(v >= 0 for tot in t.values() for v in tot.values())


def test_tail_percentile():
    assert layers.tail([1.0] * 10)["tail"] is None
    t = layers.tail(list(range(1, 21)))
    assert (t["n"], t["tail_pct"], t["tail"]) == (20, 50.0, 10)


def test_units_group_whole_rotations():
    ops = [(i, workloads.Op(k, 1.0, 1)) for i, k in enumerate(
        ["ingest", "merge", "reextract"] * 2 + ["ingest"])]
    assert [len(u) for u in layers.units_of(ops, 3)] == [3, 3]
    assert len(layers.units_of(ops, 1)) == len(ops)


def test_tally_counts_setup_and_warmup_failures():
    def op(problems=()):
        return workloads.Op("merge", 1.0, 1, list(problems))

    warm = [(0, op()), (1, op(["merge: stale value"]))]
    ops = [(2, op()), (3, workloads.Op("error", 0.1, 0, ["RuntimeError()"]))]
    attempted, failed, problems = run.tally(["setup: rows_out 9 != 10"], warm, ops)
    assert (attempted, failed) == (5, 3)
    assert problems == ["setup: rows_out 9 != 10", "merge: stale value", "RuntimeError()"]
    assert run.tally([], [(0, op())], [(1, op())]) == (3, 0, [])


def test_benchmark_json_names_match_harness():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    e2e = layers.end_to_end([(0, workloads.Op("pass", 1.0, 1))], 1, 1.0)
    assert [m["name"] for m in spec["end_to_end"]] == list(e2e)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == layers.E2E_UNITS
    assert [m["name"] for m in spec["per_layer"]] == layers.PER_LAYER
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {
        k: layers.unit_of(k) for k in layers.PER_LAYER}
