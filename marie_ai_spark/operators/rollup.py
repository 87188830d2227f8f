"""Per-conversation rollups with explicit skew salting.

Conversation lengths are heavy-tailed (Zipf-ish), so a naive
groupBy(conv_id) funnels the longest conversations into single tasks. The
north rule requires explicit salting: aggregate in two phases —
  phase 1: groupBy(conv_id, salt) partial aggregate  (salt spreads hot keys)
  phase 2: groupBy(conv_id) final combine            (tiny input, skew gone)
AQE skew handling covers joins but does NOT salt aggregations, hence the
hand-rolled two-phase pattern (SURVEY.md §4 custom-work item 1).

This is the Spark analog of the reference's page->document metadata rollup
(marie/pipe/extract_pipeline.py:315-322; marie/pipe/base_pipeline.py:67-128).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_SALT = 16


def _single_phase_text(extracted: DataFrame) -> DataFrame:
    """Plain ordered concat — optimal when no group is large enough to
    bottleneck one reducer (the extra shuffle+sort of the chunk-salted plan
    measured ~70% overhead at 4M uniform rows, BENCH/skew.json)."""
    turn_key = F.struct(F.col("turn_idx"), F.col("clean_text"))
    return extracted.groupBy("conv_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(turn_key)),
                lambda s: s["clean_text"],
            ),
            "\n\n",
        ).alias("conversation_text"),
        F.count(F.lit(1)).cast("int").alias("n_turns"),
    )


def conversation_text(
    extracted: DataFrame,
    chunk_turns: int = 64,
    adaptive_threshold: int | None = None,
) -> DataFrame:
    """Reassemble each conversation's cleaned text in (turn_idx) order —
    the conversation-level analog of the page->document text rollup.

    This is the holistic aggregation where conv_id skew actually bites
    (a 10^6-turn conversation would funnel into one reducer), so it runs
    two-phase with an ORDER-PRESERVING salt: the salt key is the turn-range
    chunk `turn_idx // chunk_turns`, so phase 1 concatenates each chunk's
    turns in order (bounded state per group), and phase 2 concatenates the
    chunks in chunk order. Result is identical to a single ordered
    concatenation; no group ever exceeds `chunk_turns` turns in phase 1.

    `adaptive_threshold`: when set, a cheap key-count pre-pass (reads only
    conv_id — column pruning keeps it far cheaper than the reassembly)
    picks the single-phase plan if the LARGEST group is at or below the
    threshold. BENCH/skew.json records the crossover: below it the salt's
    extra exchange is pure overhead; above it the single reducer is the
    wall. At 100 TB run with a threshold around 10^5 turns.
    """
    if adaptive_threshold is not None:
        mx_row = (
            extracted.groupBy("conv_id")
            .agg(F.count(F.lit(1)).alias("c"))
            .agg(F.max("c"))
            .first()
        )
        if (mx_row[0] or 0) <= adaptive_threshold:
            return _single_phase_text(extracted)
    chunked = extracted.withColumn(
        "_chunk", (F.col("turn_idx") / F.lit(chunk_turns)).cast("long")
    )
    turn_key = F.struct(F.col("turn_idx"), F.col("clean_text"))
    partial = chunked.groupBy("conv_id", "_chunk").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(turn_key)),
                lambda s: s["clean_text"],
            ),
            "\n\n",
        ).alias("chunk_text"),
        F.count(F.lit(1)).alias("chunk_turns"),
    )
    chunk_key = F.struct(F.col("_chunk"), F.col("chunk_text"))
    return partial.groupBy("conv_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(chunk_key)),
                lambda s: s["chunk_text"],
            ),
            "\n\n",
        ).alias("conversation_text"),
        F.sum("chunk_turns").cast("int").alias("n_turns"),
    )


def conversation_stats(extracted: DataFrame) -> DataFrame:
    """Document-level rollup: per conv_id turn/line/char counts and per-kind
    turn counts, salted two-phase."""
    salted = extracted.withColumn(
        "_salt", F.pmod(F.col("turn_idx"), F.lit(DEFAULT_SALT))
    )
    partial = salted.groupBy("conv_id", "_salt").agg(
        F.count(F.lit(1)).alias("p_turns"),
        F.sum("n_lines").alias("p_lines"),
        F.sum(F.length("clean_text")).alias("p_chars"),
        F.sum(F.when(F.col("doc_kind") == "html", 1).otherwise(0)).alias("p_html"),
        F.sum(F.when(F.col("doc_kind") == "pdf_words", 1).otherwise(0)).alias("p_pdf"),
        F.max("turn_idx").alias("p_max_turn"),
    )
    return partial.groupBy("conv_id").agg(
        F.sum("p_turns").alias("n_turns"),
        F.sum("p_lines").alias("n_lines"),
        F.sum("p_chars").alias("n_clean_chars"),
        F.sum("p_html").alias("n_html_turns"),
        F.sum("p_pdf").alias("n_pdf_turns"),
        (F.max("p_max_turn") + 1).alias("max_turn_idx_plus1"),
    )
