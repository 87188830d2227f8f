"""End-to-end: Spark extraction vs the driver-side oracle.

The binding contract (BASELINE.json): per-turn text equality under stable
(conv_id, turn_idx) ordering, verified by pytest. The oracle applies the
shared ref_ops semantics row-by-row in plain pandas on the driver; the
engine runs the same semantics distributed through Arrow batches.
"""

import pandas as pd
import pytest

from marie_ai_spark.operators.extract import extract_transcripts, ordered_extracted
from marie_ai_spark.operators.rollup import conversation_stats
from marie_ai_spark.ref_ops import extract_turn
from marie_ai_spark.sources.transcripts import gen_pandas, gen_spark

N_CONVS = 200  # t1 smoke scale (FIXTURES.md §5)


@pytest.fixture(scope="module")
def local_df():
    return gen_pandas(N_CONVS, seed=42)


@pytest.fixture(scope="module")
def oracle(local_df):
    recs = []
    for row in local_df.itertuples():
        r = extract_turn(row.text)
        recs.append(
            {
                "conv_id": row.conv_id,
                "turn_idx": row.turn_idx,
                "doc_kind": r["doc_kind"],
                "clean_text": r["clean_text"],
                "spans": [tuple(s) for s in r["spans"]],
                "n_lines": r["n_lines"],
            }
        )
    return (
        pd.DataFrame(recs)
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )


@pytest.fixture(scope="module")
def engine_out(spark, local_df):
    sdf = spark.createDataFrame(local_df)
    out = ordered_extracted(extract_transcripts(sdf)).toPandas()
    out["spans"] = out["spans"].apply(
        lambda sl: [(s["start"], s["end"], s["label"], s["action"]) for s in sl]
    )
    return out.reset_index(drop=True)


def test_ordered_extracted_builds_lazily_and_extracts_once(spark, local_df):
    """Building the ordered plan submits no Spark job (its checkpoint is
    lazy), and materializing it runs the extraction subtree once per
    input row, although the range exchange samples its input in a
    separate job first. Rows are counted by an accumulator in a
    pass-through stage under the extraction UDF."""
    sc = spark.sparkContext
    seen = sc.accumulator(0)

    def count(batches):
        for pdf in batches:
            seen.add(len(pdf))
            yield pdf

    sdf = spark.createDataFrame(local_df)
    counted = sdf.mapInPandas(count, sdf.schema)
    group = "ordered-extracted-build"
    sc.setJobGroup(group, "build the ordered extraction plan")
    try:
        out = ordered_extracted(extract_transcripts(counted))
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert seen.value == 0
    rows = out.collect()
    assert len(rows) == len(local_df)
    assert seen.value == len(local_df)


def test_spark_generator_matches_local(spark, local_df):
    sdf = gen_spark(spark, N_CONVS, seed=42).toPandas()
    sdf = sdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    loc = local_df.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(sdf, loc, check_dtype=False)


def test_row_count_and_ordering(engine_out, oracle):
    assert len(engine_out) == len(oracle)
    # engine output arrives already in stable (conv_id, turn_idx) order
    keys = list(zip(engine_out.conv_id, engine_out.turn_idx))
    assert keys == sorted(keys)


def test_per_turn_text_equality(engine_out, oracle):
    assert list(engine_out.conv_id) == list(oracle.conv_id)
    assert list(engine_out.turn_idx) == list(oracle.turn_idx)
    mismatch = engine_out.clean_text.values != oracle.clean_text.values
    assert not mismatch.any(), (
        f"{mismatch.sum()} turns differ; first: "
        f"{engine_out[mismatch].head(1).to_dict('records')} vs "
        f"{oracle[mismatch].head(1).to_dict('records')}"
    )


def test_doc_kind_spans_nlines_equality(engine_out, oracle):
    assert list(engine_out.doc_kind) == list(oracle.doc_kind)
    assert list(engine_out.n_lines) == list(oracle.n_lines)
    for got, want in zip(engine_out.spans, oracle.spans):
        assert got == want


def test_conversation_rollup_salted(spark, local_df, oracle):
    sdf = spark.createDataFrame(local_df)
    stats = conversation_stats(extract_transcripts(sdf)).toPandas()
    want = (
        oracle.groupby("conv_id")
        .agg(
            n_turns=("turn_idx", "size"),
            n_lines=("n_lines", "sum"),
            n_clean_chars=("clean_text", lambda s: sum(len(x) for x in s)),
        )
        .reset_index()
    )
    got = stats.sort_values("conv_id").reset_index(drop=True)
    merged = got.merge(want, on="conv_id", suffixes=("", "_want"))
    assert len(merged) == len(want)
    assert (merged.n_turns == merged.n_turns_want).all()
    assert (merged.n_lines == merged.n_lines_want).all()
    assert (merged.n_clean_chars == merged.n_clean_chars_want).all()


def test_conversation_text_two_phase_order(spark, local_df, oracle):
    """Two-phase chunked reassembly must equal a driver-side ordered join."""
    from marie_ai_spark.operators.rollup import conversation_text

    sdf = spark.createDataFrame(local_df)
    got = {
        r.conv_id: (r.conversation_text, r.n_turns)
        for r in conversation_text(
            extract_transcripts(sdf), chunk_turns=7
        ).collect()
    }
    want = (
        oracle.sort_values(["conv_id", "turn_idx"])
        .groupby("conv_id")["clean_text"]
        .apply(lambda s: "\n\n".join(s))
    )
    counts = oracle.groupby("conv_id").size()
    assert set(got) == set(want.index)
    for cid, text in want.items():
        assert got[cid] == (text, counts[cid]), cid
