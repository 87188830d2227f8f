"""Cross-turn section continuation — the conversation-level extraction.

The reference extends cutpoint sections across page breaks with a
continuation strategy (marie/extract/continuation/default_continuation.py,
invoked at marie/extract/engine/cutpoint_visitor.py:94-96). Here the analog
is a section that stays open across TURN boundaries: a `continuation`
NEGATION rule whose start is unmatched keeps dropping lines into following
turns until its stop appears.

That makes extraction stateful along (conv_id, turn_idx) — the one place
the pipeline cannot be a pure per-turn map. The scalable plan is three
passes, none of which materializes per-conversation text in one place:

  A. narrow map: per-turn continuation EVENT summary (marker line
     positions only — cheap: markers can only occur in line-kind turns,
     so the html/pdf parsers never run here)
  B. per-conversation state scan over the tiny event rows (one Arrow
     map over conv_id-partitioned, turn-sorted events; rows are a few
     bytes per turn, so even a 10^6-turn conversation's run is small),
     emitting entry-state rows ONLY for turns where some section is open
  C. narrow map: stateful extraction with the entry state joined in
     (equi-join on the full turn key — uniform, skew-free)

Exactness: the state transition used in pass B (`evolve_open_state`) is
property-tested to agree with the stateful rule application used in pass C
(tests/test_continuation.py), and the end-to-end result is equality-tested
against the driver-side conversation oracle (ref_ops.extract_conversation).
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame

from ..ref_ops import (
    DEFAULT_RULES,
    evolve_open_state,
    extract_turn_stateful,
    turn_events_for_text,
)
from .extract import EXTRACTED_SCHEMA, extracted_frame

_EVENTS_SCHEMA = "conv_id string, turn_idx int, events string"
_ENTRY_SCHEMA = "conv_id string, turn_idx int, entry_open array<string>"


def _events_stage(rules):
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "conv_id": pdf["conv_id"].values,
                    "turn_idx": pdf["turn_idx"].astype("int32").values,
                    "events": [
                        json.dumps(turn_events_for_text(t, rules))
                        for t in pdf["text"]
                    ],
                }
            )

    return fn


def _state_scan(rules):
    """Per-conversation entry-state scan as ONE mapInPandas over
    conv_id-partitioned, (conv_id, turn_idx)-sorted event rows: walking
    contiguous conversation runs inside each Arrow batch costs one
    Python invocation per batch instead of one per conversation
    (groupBy().applyInPandas built a pandas frame per tiny group —
    the boxes._per_page lesson). A conversation straddling two batches
    is carried over, so results are identical for any batch size."""

    def fn(batches):
        pend = None
        for pdf in batches:
            if pend is not None and len(pend):
                pdf = pd.concat([pend, pdf], ignore_index=True)
            if not len(pdf):
                pend = None
                continue
            last_cid = pdf["conv_id"].iat[-1]
            tail = 0
            for i in range(len(pdf) - 1, -1, -1):
                if pdf["conv_id"].iat[i] == last_cid:
                    tail += 1
                else:
                    break
            body = pdf.iloc[: len(pdf) - tail]
            pend = pdf.iloc[len(pdf) - tail:]
            if len(body):
                yield _scan_runs(body, rules)
        if pend is not None and len(pend):
            yield _scan_runs(pend, rules)

    return fn


def _scan_runs(pdf: pd.DataFrame, rules) -> pd.DataFrame:
    rows = []
    for _cid, grp in pdf.groupby("conv_id", sort=False):
        state = frozenset()
        for cid, tix, ev in zip(
            grp["conv_id"], grp["turn_idx"], grp["events"]
        ):
            if state:
                rows.append((cid, int(tix), sorted(state)))
            state = evolve_open_state(state, json.loads(ev), rules)
    return pd.DataFrame(rows, columns=["conv_id", "turn_idx", "entry_open"])


def _stateful_extract(rules, pdf_mode):
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            results = []
            for text, entry in zip(pdf["text"], pdf["entry_open"]):
                entry_open = frozenset(entry) if entry is not None else frozenset()
                r, _exit = extract_turn_stateful(text, rules, entry_open, pdf_mode)
                results.append(r)
            yield extracted_frame(pdf, results)

    return fn


def extract_with_continuation(
    transcripts: DataFrame, rules=DEFAULT_RULES, pdf_mode: str = "compact"
) -> DataFrame:
    """Conversation-aware extraction: identical to extract_transcripts
    except that `continuation` rules keep sections open across turns."""
    pruned = transcripts.select("conv_id", "turn_idx", "role", "ts", "text")

    events = pruned.select("conv_id", "turn_idx", "text").mapInPandas(
        _events_stage(rules), schema=_EVENTS_SCHEMA
    )
    entry = (
        events.repartition("conv_id")
        .sortWithinPartitions("conv_id", "turn_idx")
        .mapInPandas(_state_scan(rules), schema=_ENTRY_SCHEMA)
    )
    joined = pruned.join(entry, ["conv_id", "turn_idx"], "left")
    return joined.mapInPandas(
        _stateful_extract(rules, pdf_mode), schema=EXTRACTED_SCHEMA
    )
