"""Correctness checks applied to every benchmark op.

Each check takes plain Python/pandas values that the workload read back
from the op's output and returns a list of problems; an empty list means
the output is correct. Keeping the checks free of Spark lets the
benchmark's own tests feed them deliberately corrupted outputs.
"""

from __future__ import annotations

from collections.abc import Iterable, Mapping

import pandas as pd


def _spans(value) -> list[tuple]:
    return [
        (int(s["start"]), int(s["end"]), s["label"], s["action"])
        for s in (value if value is not None else [])
    ]


def extract_run(
    result: Mapping,
    n_input_turns: int,
    lineage: pd.DataFrame,
    expected_checksums: Mapping[int, str],
    sample_rows: pd.DataFrame,
    expected_sample: Mapping[tuple[str, int], Mapping],
) -> list[str]:
    """One `run_extract`: every input turn of its buckets is written, the
    run's lineage rows carry the key checksum of exactly the input keys of
    each bucket, and a fixed sample of turns equals the pure-Python
    kernel's output."""
    problems = []
    if result.get("rows_out") != n_input_turns:
        problems.append(f"rows_out {result.get('rows_out')} != input turns {n_input_turns}")
    done = lineage[lineage["status"] == "done"]
    got = {int(b): str(c) for b, c in zip(done["partition_id"], done["checksum"])}
    if got != {int(b): str(c) for b, c in expected_checksums.items()}:
        bad = sorted(set(got.items()) ^ set(expected_checksums.items()))
        problems.append(f"lineage checksums differ from input keys: {bad[:4]}")
    problems += sample_matches(sample_rows, expected_sample)
    return problems


def sample_matches(
    rows: pd.DataFrame, expected: Mapping[tuple[str, int], Mapping]
) -> list[str]:
    """`clean_text` and `spans` of each sampled turn equal the kernel's."""
    problems = []
    seen = set()
    for r in rows.itertuples(index=False):
        key = (r.conv_id, int(r.turn_idx))
        if key not in expected:
            continue
        seen.add(key)
        exp = expected[key]
        if r.clean_text != exp["clean_text"]:
            problems.append(f"clean_text differs for {key}")
        elif _spans(r.spans) != [tuple(s) for s in exp["spans"]]:
            problems.append(f"spans differ for {key}")
    missing = set(expected) - seen
    if missing:
        problems.append(f"{len(missing)} sampled turns missing, e.g. {sorted(missing)[0]}")
    return problems


def sink_exactly_once(sink_conv_ids: Iterable[str], landed: Mapping[int, dict]) -> list[str]:
    """The streaming sink holds every turn of every landed delta exactly
    once and nothing else. `landed` maps delta number -> its turn count
    and conversation ids as {"turns": n, "convs": {...}}."""
    counts = pd.Series(list(sink_conv_ids), dtype="object").value_counts()
    problems = []
    expected_total = 0
    for d, spec in landed.items():
        n = int(counts.reindex(list(spec["convs"])).fillna(0).sum())
        expected_total += spec["turns"]
        if n != spec["turns"]:
            problems.append(f"delta {d}: {n} turns in sink, landed {spec['turns']}")
    if int(counts.sum()) != expected_total:
        problems.append(f"sink holds {int(counts.sum())} turns, landed {expected_total}")
    return problems


def merged_values(read_back: pd.DataFrame, corrections: pd.DataFrame) -> list[str]:
    """Every corrected key reads back once, with the corrected text."""
    problems = []
    got = read_back.groupby(["conv_id", "turn_idx"])["clean_text"].agg(list)
    for r in corrections.itertuples(index=False):
        vals = got.get((r.conv_id, int(r.turn_idx)))
        if vals is None:
            problems.append(f"corrected key {(r.conv_id, r.turn_idx)} missing")
        elif vals != [r.clean_text]:
            problems.append(f"corrected key {(r.conv_id, r.turn_idx)} reads {vals[:2]}")
    return problems


def bucket_counts(got: Mapping[int, int], expected: Mapping[int, int]) -> list[str]:
    """Re-extracted buckets keep their row counts."""
    return [
        f"bucket {b}: {got.get(b, 0)} rows, expected {n}"
        for b, n in sorted(expected.items())
        if got.get(b, 0) != n
    ]


def query_result(name: str, spark_hash: str, oracle_hash: str,
                 spark_rows: int, oracle_rows: int) -> list[str]:
    """A query's order-insensitive value hash equals its DuckDB oracle's."""
    problems = []
    if spark_rows != oracle_rows:
        problems.append(f"{name}: {spark_rows} rows, oracle {oracle_rows}")
    if spark_hash != oracle_hash:
        problems.append(f"{name}: value hash differs from oracle")
    return problems


def same_digest(name: str, got: Mapping, reference: Mapping) -> list[str]:
    """A pass's observed (row count, row-hash sum) equals the digest of the
    oracle-checked result."""
    if dict(got) != dict(reference):
        return [f"{name}: pass digest {dict(got)} != checked digest {dict(reference)}"]
    return []
