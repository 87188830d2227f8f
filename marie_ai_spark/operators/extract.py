"""The extraction operator: transcripts -> extracted, as one Arrow-batched
`mapInPandas` stage.

Dataflow shape mirrors the reference pipeline (SURVEY.md §3.1 step 5-6:
clean -> detect -> parse -> span-select -> reassemble) collapsed into a single
narrow (shuffle-free) map over turns — every turn is independent, so the
100 TB plan is: parquet/Iceberg scan -> mapInPandas -> write, with NO exchange
in between. Column pruning keeps the scan to the columns we consume.

Per-row semantics live in marie_ai_spark.ref_ops (shared with the test
oracle). All transport is Arrow; Python work is batched per Arrow batch
(bounded by spark.sql.execution.arrow.maxRecordsPerBatch), never per-row
pickled rows — the "UDFs are the slow path" rule from the design notes.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..ref_ops import DEFAULT_RULES, extract_turn

EXTRACTED_SCHEMA = (
    "conv_id string, turn_idx int, role string, ts timestamp, "
    "doc_kind string, clean_text string, "
    "spans array<struct<start:int,end:int,label:string,action:string>>, "
    "n_lines int"
)


def extracted_frame(pdf: pd.DataFrame, results: list) -> pd.DataFrame:
    """The EXTRACTED_SCHEMA batch for input batch `pdf` and its per-turn
    extraction results (ref_ops dicts, one per row, in row order)."""
    return pd.DataFrame(
        {
            "conv_id": pdf["conv_id"].values,
            "turn_idx": pdf["turn_idx"].astype("int32").values,
            "role": pdf["role"].values,
            "ts": pdf["ts"].values,
            "doc_kind": [r["doc_kind"] for r in results],
            "clean_text": [r["clean_text"] for r in results],
            "spans": [
                [
                    {"start": s, "end": e, "label": lb, "action": ac}
                    for (s, e, lb, ac) in r["spans"]
                ]
                for r in results
            ],
            "n_lines": pd.Series(
                [r["n_lines"] for r in results], dtype="int32"
            ),
        }
    )


def _extract_batches(rules, pdf_mode="compact"):
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield extracted_frame(
                pdf, [extract_turn(t, rules, pdf_mode) for t in pdf["text"]]
            )

    return fn


def extract_transcripts(
    transcripts: DataFrame, rules=DEFAULT_RULES, pdf_mode: str = "compact"
) -> DataFrame:
    """transcripts(conv_id, turn_idx, role, text, tool, ts) -> extracted.

    Narrow transformation: no shuffle. Input column pruning is explicit so
    the parquet scan reads only what the operator consumes.
    """
    pruned = transcripts.select("conv_id", "turn_idx", "role", "ts", "text")
    return pruned.mapInPandas(
        _extract_batches(rules, pdf_mode), schema=EXTRACTED_SCHEMA
    )


def ordered_extracted(extracted: DataFrame) -> DataFrame:
    """Stable global (conv_id, turn_idx) ordering for output/consumption —
    the reference's reading-order invariant (SURVEY.md §2.5 W5).

    Uses a range partitioning so the sort is cluster-wide mergeable: each
    output partition holds a contiguous key range, sorted within.

    The input is materialized once (a lazy localCheckpoint) before the
    range exchange: RangePartitioning derives its boundaries from a
    SEPARATE sampling job over the child, so an un-materialized
    extraction subtree — a pandas-UDF stage — would execute end to end
    TWICE, once for the sample and once for the real pass (guide §3.3:
    truncate expensive plans before operators that re-run them;
    measured q_extract_continuation 3.4s -> 2.1s at sf0.1). The
    checkpoint is not eager: building the plan submits no job, and the
    first action's sampling job fills the checkpoint blocks that the
    exchange then reads (tested: the UDF runs once per input row). At
    scale this is the standard stage-then-sort layout: the extraction
    output lands in executor-local storage exactly once and both the
    sampler and the exchange read those blocks."""
    ext = extracted.localCheckpoint(eager=False)
    return ext.repartitionByRange(
        F.col("conv_id"), F.col("turn_idx")
    ).sortWithinPartitions("conv_id", "turn_idx")
