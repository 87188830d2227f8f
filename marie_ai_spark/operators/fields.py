"""Field-region routing (E6): named fields pulled from KV regions by
annotation selectors, with first-match-wins dedup and typed value
transforms — the `process_fields` / `_process_region_as_kv` analog
(marie/extract/engine/match_section_extract_visitor.py:441-520 selector
matching + populated_fields dedup, :1275-1360 layer fields;
marie/extract/engine/transform.py:106-175 field-type transforms).

Spark shape: the KV long table joins a broadcast selector spec (tiny);
dedup is one row_number window per (conv_id, field_name); transforms are
pure column expressions (regexp chains + decimal cast — whole-stage
codegen, no Python). The money/alnum semantics are pinned against
ref_ops/table_ops.py's python twins by pytest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .regions import markdown_kv_pairs

# (field_name, annotation selectors tried in order, field type)
DEFAULT_FIELD_SPECS = [
    ("amount_due", ["amount"], "MONEY"),
    ("doc_subject", ["customer", "section"], "ALPHA"),
    ("ref_code", ["key", "word"], "ALPHA_NUMERIC"),
]


def money_expr(v):
    """convert_to_decimal_money as a column expression (transform.py:40-75):
    sign from parens/minus, spaces-between-digits -> decimal point, strip
    currency noise, 2-decimal result. Canonical string output ('0.00' for
    empty/invalid, '-123.45' for negatives)."""
    v = F.coalesce(v, F.lit(""))
    neg = (v.contains("(") & v.contains(")")) | v.contains("-")
    s = F.regexp_replace(v, r"[()\-]", "")
    s = F.regexp_replace(s, r"(\d)\s+(\d)", r"$1.$2")
    s = F.regexp_replace(s, r"[$, ]", "")
    s = F.regexp_replace(s, r"[^0-9.]", "")
    # keep only the LAST dot (transform.py:57-59 removes all but one);
    # lookahead is fine here — this expression runs on the JVM (java.util.regex)
    s = F.regexp_replace(s, r"\.(?=[^.]*\.)", "")
    num = s.try_cast("decimal(18,4)")
    mag = F.round(num, 2).cast("decimal(18,2)")
    out = F.when(
        (F.trim(v) == "") | num.isNull(), F.lit("0.00")
    ).otherwise(
        F.when(neg, -mag).otherwise(mag).cast("string")
    )
    return out


def alphanumeric_expr(v):
    """convert_to_alphanumeric (transform.py:339-350): commas survive as
    delimiters, everything non-alphanumeric else is removed."""
    return F.regexp_replace(
        F.regexp_replace(v, r"\s*,\s*", ","), r"[^a-zA-Z0-9,]", ""
    )


def entity_majority_vote(
    responses: DataFrame, doc_key: str, entity: str, value: str
) -> DataFrame:
    """A6 LMDX entity majority vote (marie/extract/lmdx/pipeline.py:227-248):
    per (document, entity), the most frequent NON-NULL value across sampled
    responses; documents whose every sample is null keep a null value. The
    reference breaks frequency ties by insertion order — here by value asc
    so the distributed run is deterministic.

    Two-stage count-then-argmax — the same skew-safe shape as the OCR vote.
    """
    counted = (
        responses.filter(F.col(value).isNotNull())
        .groupBy(doc_key, entity, value)
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    w = Window.partitionBy(doc_key, entity).orderBy(
        F.desc("votes"), F.asc(value)
    )
    winners = (
        counted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(doc_key, entity, value, "votes")
    )
    all_null = (
        responses.groupBy(doc_key, entity)
        .agg(F.max(value).alias("any_val"))
        .filter(F.col("any_val").isNull())
        .select(
            doc_key,
            entity,
            F.lit(None).cast("string").alias(value),
            F.lit(0).cast("bigint").alias("votes"),
        )
    )
    return winners.unionByName(all_null)


def field_entity_votes(
    transcripts: DataFrame, specs: list[tuple] | None = None
) -> DataFrame:
    """Entity-vote view of the field route: every selector match is a
    sampled response; the winner per (conv_id, field_name) is the majority
    transformed value. (region_fields keeps the FIRST match; this is the
    A6 most-frequent semantics over repeated mentions.)"""
    specs = specs if specs is not None else DEFAULT_FIELD_SPECS
    spark = transcripts.sparkSession
    spec_rows = [
        (fname, sel.lower(), ftype)
        for fname, selectors, ftype in specs
        for sel in selectors
    ]
    spec_df = spark.createDataFrame(
        spec_rows, "field_name string, selector string, field_type string"
    )
    kv = markdown_kv_pairs(transcripts)
    matched = kv.join(
        F.broadcast(spec_df), F.lower(kv.key) == spec_df.selector, "inner"
    )
    responses = matched.select(
        "conv_id",
        "field_name",
        F.when(F.col("field_type") == "MONEY", money_expr(F.col("value")))
        .when(
            F.col("field_type") == "ALPHA_NUMERIC",
            alphanumeric_expr(F.col("value")),
        )
        .otherwise(F.trim(F.col("value")))
        .alias("value"),
    )
    return entity_majority_vote(responses, "conv_id", "field_name", "value")


def region_fields(
    transcripts: DataFrame, specs: list[tuple] | None = None
) -> DataFrame:
    """Extract named fields from KV regions. For each (conversation, field)
    the FIRST match in document order wins — the populated_fields semantics
    (visitor :404, :628) lifted to document scope; selector priority breaks
    same-position ties.

    Columns: conv_id, field_name, field_type, turn_idx, kv_idx,
    value_original, value (transformed canonical string).
    """
    specs = specs if specs is not None else DEFAULT_FIELD_SPECS
    spark = transcripts.sparkSession
    spec_rows = [
        (fname, sel.lower(), rank, ftype)
        for fname, selectors, ftype in specs
        for rank, sel in enumerate(selectors)
    ]
    spec_df = spark.createDataFrame(
        spec_rows, "field_name string, selector string, sel_rank int, field_type string"
    )
    kv = markdown_kv_pairs(transcripts)
    matched = kv.join(
        F.broadcast(spec_df), F.lower(kv.key) == spec_df.selector, "inner"
    )
    w = Window.partitionBy("conv_id", "field_name").orderBy(
        "turn_idx", "kv_idx", "sel_rank"
    )
    first = matched.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    value = (
        F.when(F.col("field_type") == "MONEY", money_expr(F.col("value")))
        .when(
            F.col("field_type") == "ALPHA_NUMERIC",
            alphanumeric_expr(F.col("value")),
        )
        .otherwise(F.trim(F.col("value")))
    )
    return first.select(
        "conv_id",
        "field_name",
        "field_type",
        "turn_idx",
        "kv_idx",
        F.col("value").alias("value_original"),
        value.alias("value"),
    )
