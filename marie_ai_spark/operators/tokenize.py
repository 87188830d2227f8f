"""Batch tokenization of cleaned text into deterministic token-id sequences.

The reference's analog is TrOCR batch recognition — fragments batched by
free memory, decoded by a tokenizer (marie/document/trocr_ocr_processor.py:
251-300) — and LMDX token-budget chunking (marie/extract/lmdx/pipeline.py:
111-181). Here the model is replaced (per the north star) by a
deterministic, vocabulary-free scheme so tests are hermetic:

  - BPE-ish pretokenization regex (word / number / punctuation pieces,
    leading-space aware — the GPT-2 pattern family, public knowledge)
  - token id = stable 32-bit bucket of the piece's md5 (vocab-free hashing
    trick, as in hashing vectorizers)

Runs as one Arrow-batched mapInPandas stage; chunking is a JVM-side
posexplode of slices — no Python in the chunk fan-out.
"""

from __future__ import annotations

import hashlib
import re
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# GPT-2-style pretokenizer, simplified to stdlib `re`
_PRETOK = re.compile(
    r" ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+|\s+(?!\S)|\s+"
)

VOCAB_BITS = 32


def encode_text(text: str) -> list[int]:
    """Deterministic token ids for one document (shared with tests)."""
    if not text:
        return []
    out = []
    for piece in _PRETOK.findall(text):
        h = hashlib.md5(piece.encode("utf-8", "surrogatepass")).digest()
        out.append(int.from_bytes(h[:4], "big"))
    return out


TOKENIZED_SCHEMA = (
    "conv_id string, turn_idx int, token_ids array<long>, n_tokens int"
)


def tokenize_extracted(extracted: DataFrame) -> DataFrame:
    """extracted(conv_id, turn_idx, clean_text, ...) -> token id arrays.
    Narrow Arrow-batched map; batch size bounded by
    spark.sql.execution.arrow.maxRecordsPerBatch."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = [encode_text(t) for t in pdf["clean_text"]]
            yield pd.DataFrame(
                {
                    "conv_id": pdf["conv_id"].values,
                    "turn_idx": pdf["turn_idx"].astype("int32").values,
                    "token_ids": ids,
                    "n_tokens": pd.Series(
                        [len(x) for x in ids], dtype="int32"
                    ),
                }
            )

    return extracted.select("conv_id", "turn_idx", "clean_text").mapInPandas(
        fn, schema=TOKENIZED_SCHEMA
    )


def chunk_tokens(
    tokenized: DataFrame, max_len: int = 512, overlap: int = 64
) -> DataFrame:
    """Split token arrays into fixed-budget chunks with overlap (the LMDX
    chunking semantics), JVM-side: sequence + transform + posexplode."""
    stride = max_len - overlap
    # a start is only useful while it adds uncovered tokens: start+overlap
    # must lie inside the doc, else the trailing chunk is wholly contained
    # in the previous one (duplicate training content)
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.size("token_ids") - overlap - 1, F.lit(0)),
        F.lit(stride),
    )
    chunks = F.transform(
        starts, lambda s: F.slice(F.col("token_ids"), s + 1, max_len)
    )
    return (
        tokenized.filter(F.size("token_ids") > 0)
        .select(
            "conv_id",
            "turn_idx",
            F.posexplode(chunks).alias("chunk_idx", "chunk"),
        )
        .withColumn("chunk_len", F.size("chunk"))
    )


def pack_sequences(
    df: DataFrame,
    key_col: str,
    token_col: str,
    seq_len: int = 512,
) -> DataFrame:
    """GPT-style training-sequence packing: items are concatenated in a
    deterministic global order — (md5(key), key), the same engine-portable
    priority as the sampling operators — and the token stream is split
    into fixed seq_len windows. Emits one row per (item, sequence) span:
    (key, seq_id, start_in_item, start_in_seq, span_len); an item whose
    tokens cross a boundary contributes one row per sequence it touches
    (the concat-then-split packing every causal-LM data loader performs).

    Scale shape: a GLOBAL running offset cannot run as one window (the
    whole corpus in one partition). Same two-phase plan as
    token_budget_sample, without the source dimension: bucket by the
    3-hex md5-priority prefix (bucket order is a prefix of the global
    order), aggregate token sums per bucket (<= 4096 rows TOTAL), take
    the exclusive bucket prefix over that bounded aggregate, then run
    each bucket's exact per-item window over ~1/4096 of the corpus with
    the bucket prefix as its base offset. Row-identical to one global
    running-offset window (the DuckDB oracle's shape, test-asserted).
    """
    pr = F.md5(F.col(key_col).cast("string"))
    base = (
        df.filter(F.col(token_col) > 0)
        .withColumn("_pk_pr", pr)
        .withColumn(
            "_pk_bucket",
            F.conv(F.substring("_pk_pr", 1, 3), 16, 10).cast("int"),
        )
    )
    agg = base.groupBy("_pk_bucket").agg(F.sum(token_col).alias("_pk_bsum"))
    # the bucket aggregate is <= 4096 rows TOTAL — the single-partition
    # window below runs over bounded metadata, not corpus data
    wpre = Window.orderBy("_pk_bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    prefix = agg.withColumn(
        "_pk_prefix", F.coalesce(F.sum("_pk_bsum").over(wpre), F.lit(0))
    ).select("_pk_bucket", "_pk_prefix")
    win = (
        Window.partitionBy("_pk_bucket")
        .orderBy("_pk_pr", key_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = F.col("_pk_prefix") + F.coalesce(
        F.sum(token_col).over(win), F.lit(0)
    )
    with_off = base.join(prefix, "_pk_bucket").withColumn("_pk_off", off)
    return _explode_spans(with_off, key_col, token_col, seq_len)


def _explode_spans(with_off: DataFrame, key_col: str, token_col: str,
                   seq_len: int) -> DataFrame:
    """(rows with _pk_off) -> one row per sequence the item's token range
    [_pk_off, _pk_off + tok) intersects."""
    tok = F.col(token_col).cast("long")
    off = F.col("_pk_off").cast("long")
    first = F.floor(off / seq_len)
    last = F.floor((off + tok - 1) / seq_len)
    spans = F.transform(
        F.sequence(first, last),
        lambda s: F.struct(
            s.alias("seq_id"),
            (F.greatest(s * seq_len, off) - off).cast("int").alias(
                "start_in_item"
            ),
            (F.greatest(s * seq_len, off) - s * seq_len).cast("int").alias(
                "start_in_seq"
            ),
            (
                F.least((s + 1) * seq_len, off + tok)
                - F.greatest(s * seq_len, off)
            ).cast("int").alias("span_len"),
        ),
    )
    return (
        with_off.select(key_col, F.explode(spans).alias("c"))
        .select(
            key_col,
            F.col("c.seq_id").alias("seq_id"),
            F.col("c.start_in_item").alias("start_in_item"),
            F.col("c.start_in_seq").alias("start_in_seq"),
            F.col("c.span_len").alias("span_len"),
        )
    )
