"""E6 table/field routing: Spark operators vs the ref_ops python twins,
plus handcrafted cases for the row strategies and footer rules."""

import pandas as pd
import pytest

from marie_ai_spark.operators.fields import region_fields
from marie_ai_spark.operators.tables import (
    COMPOSITE_FIXED,
    PRIMARY_COLUMN_FIXED,
    region_table_rows,
    region_tables_struct,
)
from marie_ai_spark.ref_ops.table_ops import (
    alphanumeric_value,
    money_value,
    parse_md_tables,
)
from marie_ai_spark.sources.transcripts import gen_pandas

N_CONVS = 150


@pytest.fixture(scope="module")
def corpus():
    return gen_pandas(N_CONVS, seed=42)


@pytest.fixture(scope="module")
def corpus_sdf(spark, corpus):
    return spark.createDataFrame(corpus)


def _oracle_tables(corpus, **kw):
    want = {}
    for row in corpus.itertuples():
        for t in parse_md_tables(row.text, **kw):
            want[(row.conv_id, row.turn_idx, t["table_idx"])] = (
                t["headers"],
                t["rows"],
                t["footer"],
            )
    return want


def test_struct_tables_match_oracle(spark, corpus, corpus_sdf):
    got = {
        (r.conv_id, r.turn_idx, r.table_idx): (
            list(r.headers),
            [list(x) for x in r.rows],
            list(r.footer) if r.footer is not None else None,
        )
        for r in region_tables_struct(corpus_sdf).collect()
    }
    want = _oracle_tables(corpus)
    assert len(want) > 20, "fixture too small to be meaningful"
    assert got == want


def test_fixed_strategy_matches_oracle(spark, corpus, corpus_sdf):
    got = {
        (r.conv_id, r.turn_idx, r.table_idx): [list(x) for x in r.rows]
        for r in region_tables_struct(
            corpus_sdf, strategy=PRIMARY_COLUMN_FIXED, fixed_rows=2
        ).collect()
    }
    want = {
        k: v[1]
        for k, v in _oracle_tables(
            corpus, strategy=PRIMARY_COLUMN_FIXED, fixed_rows=2
        ).items()
    }
    assert got == want


def test_long_form_consistent_with_struct(spark, corpus_sdf, corpus):
    rows = region_table_rows(corpus_sdf).collect()
    want = _oracle_tables(corpus)
    by_record = {}
    for r in rows:
        by_record.setdefault(
            (r.conv_id, r.turn_idx, r.table_idx, r.row_idx), {}
        )[r.col_idx] = (r.col_name, r.value)
    for (cid, tix, tbl, ridx), cols in by_record.items():
        headers, recs, _ = want[(cid, tix, tbl)]
        rec = recs[ridx]
        assert [cols[i][1] for i in sorted(cols)] == rec
        assert [cols[i][0] for i in sorted(cols)] == headers


# ------------------------------------------------- handcrafted semantics

MD = "\n".join(
    [
        "prose before",
        "| h1 | h2 | h3 |",
        "|---|---|---|",
        "| a | b | c |",
        "|  | b2 | c2 |",
        "| d |  | f |",
        "| TOTAL: |  | 9.50 |",
        "",
        "| x | y | z |",
        "|---|---|---|",
        "| 1 | 2 | 0 |",
        "| 3 | 4 | 0 |",
        "|  |  | 9 |",
    ]
)


def test_variable_strategy_and_footers():
    t1, t2 = parse_md_tables(MD)
    assert t1["headers"] == ["h1", "h2", "h3"]
    # continuation line merges cell-wise into the open record
    assert t1["rows"] == [["a", "b b2", "c c2"], ["d", "", "f"]]
    assert t1["footer"] == ["TOTAL:", "", "9.50"]
    # empty-leading-cells footer rule on the second table
    assert t2["rows"] == [["1", "2", "0"], ["3", "4", "0"]]
    assert t2["footer"] == ["", "", "9"]


def test_composite_fixed_groups_ordinals():
    (t1, t2) = parse_md_tables(MD, strategy=COMPOSITE_FIXED, fixed_rows=3)
    assert t1["rows"] == [["a d", "b b2", "c c2 f"]]
    assert t2["rows"] == [["1 3", "2 4", "0 0"]]


def test_header_only_table_survives():
    (t,) = parse_md_tables("| a | b |\n|---|---|")
    assert t["headers"] == ["a", "b"] and t["rows"] == [] and t["footer"] is None


def test_spark_handcrafted_matches(spark):
    sdf = spark.createDataFrame(
        [("c", 0, MD)], "conv_id string, turn_idx int, text string"
    )
    got = {
        r.table_idx: (
            list(r.headers),
            [list(x) for x in r.rows],
            list(r.footer) if r.footer is not None else None,
        )
        for r in region_tables_struct(sdf).collect()
    }
    want = {
        t["table_idx"]: (t["headers"], t["rows"], t["footer"])
        for t in parse_md_tables(MD)
    }
    assert got == want


# a stray separator-only run between two real tables, plus a run that
# OPENS with separators: neither may claim a table_idx / desync numbering
ADVERSARIAL_MD = "\n".join(
    [
        "| h1 | h2 |",
        "|----|----|",
        "| a  | b  |",
        "",
        "|---|",          # separator-only run: NOT a table
        "",
        "|----|----|",    # run opening with separators, then content
        "| x1 | x2 |",
        "|----|----|",
        "| c  | d  |",
        "",
        "|---|---|",      # trailing separator-only run at EOF
    ]
)


def test_separator_only_runs_do_not_desync(spark):
    from marie_ai_spark.operators.tables import table_extents

    sdf = spark.createDataFrame(
        [("c", 0, ADVERSARIAL_MD)], "conv_id string, turn_idx int, text string"
    )
    got = {
        r.table_idx: (
            list(r.headers),
            [list(x) for x in r.rows],
            list(r.footer) if r.footer is not None else None,
        )
        for r in region_tables_struct(sdf).collect()
    }
    want = {
        t["table_idx"]: (t["headers"], t["rows"], t["footer"])
        for t in parse_md_tables(ADVERSARIAL_MD)
    }
    assert sorted(want) == [0, 1], "twin should see exactly two tables"
    assert got == want
    extents = {
        r.table_idx: (r.first_line, r.last_line)
        for r in table_extents(sdf).collect()
    }
    want_ext = {
        t["table_idx"]: (t["first_line"], t["last_line"])
        for t in parse_md_tables(ADVERSARIAL_MD)
    }
    assert extents == want_ext


# ------------------------------------------------------ field transforms


@pytest.mark.parametrize(
    "raw",
    [
        "$1,234.56",
        "(1,234.56)",
        "-42",
        "1 234 56",
        "",
        "   ",
        "no digits here",
        "7467.21",
        "$0.005",
        "(0.00)",        # negative zero: canonical '0.00', never '-0.00'
        "-0",
        "1.234.56",      # multi-dot: keep only the last dot
        "1.2.3.4",
    ],
)
def test_money_expr_matches_python_twin(spark, raw):
    from marie_ai_spark.operators.fields import money_expr
    from pyspark.sql import functions as F

    got = (
        spark.createDataFrame([(raw,)], "v string")
        .select(money_expr(F.col("v")).alias("m"))
        .first()["m"]
    )
    assert got == money_value(raw), raw


def test_alnum_expr_matches_python_twin(spark):
    from marie_ai_spark.operators.fields import alphanumeric_expr
    from pyspark.sql import functions as F

    raw = "ab-c 1, 2 ,3 x!y"
    got = (
        spark.createDataFrame([(raw,)], "v string")
        .select(alphanumeric_expr(F.col("v")).alias("m"))
        .first()["m"]
    )
    assert got == alphanumeric_value(raw)


def test_region_fields_first_match_wins(spark):
    md = "\n".join(
        [
            "- **Amount:** $10.00",
            "- **Amount:** $99.99",
            "- **Customer:** alice",
        ]
    )
    md2 = "- **Section:** intro"
    sdf = spark.createDataFrame(
        [("c1", 0, md), ("c1", 1, md2)],
        "conv_id string, turn_idx int, text string",
    )
    got = {
        (r.conv_id, r.field_name): (r.value, r.turn_idx, r.kv_idx)
        for r in region_fields(sdf).collect()
    }
    # first Amount wins (populated_fields dedup); customer beats section
    # because it appears earlier in document order
    assert got[("c1", "amount_due")] == ("10.00", 0, 0)
    assert got[("c1", "doc_subject")] == ("alice", 0, 2)


# ------------------------------------------------------ multiline matcher


def test_multiline_spark_matches_twin(spark, corpus, corpus_sdf):
    from marie_ai_spark.operators.multiline import (
        multiline_blocks,
        multiline_candidates,
    )
    from marie_ai_spark.ref_ops.multiline import (
        DEFAULT_REFERENCE_BLOCKS,
        DEFAULT_THRESHOLD,
        match_blocks,
        match_candidates,
    )

    key = lambda r: (r.conv_id, r.turn_idx, r.label, r.start_line, r.end_line)
    got_c = {key(r): r.score for r in multiline_candidates(corpus_sdf).collect()}
    got_b = {key(r): r.score for r in multiline_blocks(corpus_sdf).collect()}
    want_c, want_b = {}, {}
    for row in corpus.itertuples():
        for c in match_candidates(
            row.text, DEFAULT_REFERENCE_BLOCKS, threshold=DEFAULT_THRESHOLD
        ):
            want_c[(row.conv_id, row.turn_idx, c["label"], c["start_line"], c["end_line"])] = c["score"]
        for c in match_blocks(
            row.text, DEFAULT_REFERENCE_BLOCKS, threshold=DEFAULT_THRESHOLD
        ):
            want_b[(row.conv_id, row.turn_idx, c["label"], c["start_line"], c["end_line"])] = c["score"]
    assert got_c == want_c and len(got_c) > 20
    assert got_b == want_b and len(got_b) > 5


def test_suppression_greedy_semantics():
    from marie_ai_spark.ref_ops.multiline import suppress_overlapping_blocks

    blocks = [
        {"label": "a", "start_line": 0, "end_line": 2, "window_size": 3, "score": 0.9},
        {"label": "b", "start_line": 1, "end_line": 3, "window_size": 3, "score": 0.8},
        {"label": "c", "start_line": 3, "end_line": 4, "window_size": 2, "score": 0.7},
        {"label": "d", "start_line": 5, "end_line": 6, "window_size": 2, "score": 0.6},
    ]
    kept = suppress_overlapping_blocks(blocks)
    # 0.9 claims 0-2; 0.8 overlaps -> dropped; 0.7 claims 3-4; 0.6 claims 5-6
    assert [b["label"] for b in kept] == ["a", "c", "d"]


# ------------------------------------------------------- hybrid annotator


def test_hybrid_spark_matches_twin(spark, corpus, corpus_sdf):
    from marie_ai_spark.operators.hybrid import hybrid_annotate
    from marie_ai_spark.ref_ops.hybrid import annotate_text, dedup_extractions

    got = {
        (r.conv_id, r.label): (
            r.strategy, r.score, r.value, r.turn_idx, r.line_no,
            r.tok_start, r.ngram_size,
        )
        for r in hybrid_annotate(corpus_sdf).collect()
    }
    rows = []
    for row in corpus.itertuples():
        rows.extend(annotate_text(row.conv_id, int(row.turn_idx), row.text))
    want = {
        (r["conv_id"], r["label"]): (
            r["strategy"], r["score"], r["value"], r["turn_idx"],
            r["line_no"], r["tok_start"], r["ngram_size"],
        )
        for r in dedup_extractions(rows)
    }
    assert len(want) > 50
    assert got == want


def test_hybrid_fuzzy_direct_beats_embedding(spark):
    """An exact label mention must match via fuzzy-direct with score 1."""
    from marie_ai_spark.operators.hybrid import hybrid_annotate

    sdf = spark.createDataFrame(
        [("c1", 0, "please review the customer order today")],
        "conv_id string, turn_idx int, text string",
    )
    rows = {r.label: r for r in hybrid_annotate(sdf).collect()}
    r = rows["customer order"]
    assert r.strategy == "fuzzy-direct" and r.score == 1.0
    assert r.value == "customer order"


def test_entity_majority_vote_null_semantics(spark):
    from marie_ai_spark.operators.fields import entity_majority_vote

    rows = [
        ("d1", "total", "10"), ("d1", "total", "10"), ("d1", "total", "12"),
        ("d1", "name", None),
        ("d2", "total", None), ("d2", "total", "7"),
        # frequency tie -> value asc wins
        ("d3", "total", "b"), ("d3", "total", "a"),
    ]
    df = spark.createDataFrame(rows, "doc string, entity string, value string")
    out = {
        (r.doc, r.entity): (r.value, r.votes)
        for r in entity_majority_vote(df, "doc", "entity", "value").collect()
    }
    assert out[("d1", "total")] == ("10", 2)
    assert out[("d1", "name")] == (None, 0)  # all-null keeps null
    assert out[("d2", "total")] == ("7", 1)  # nulls skipped
    assert out[("d3", "total")] == ("a", 1)


# ------------------------------------------------- adversarial table parse


from hypothesis import given, settings
from hypothesis import strategies as st

_cell = st.text(
    alphabet="ab |-:$.",  # includes pipe/dash/colon to stress separators
    max_size=6,
).map(lambda s: s.replace("|", " ").strip())  # cells may not contain pipes

_row = st.lists(_cell, min_size=1, max_size=4).map(
    lambda cs: "| " + " | ".join(cs) + " |"
)
_block = st.lists(
    st.one_of(_row, st.just("|---|---|"), st.just("prose"), st.just("")),
    max_size=10,
)


@given(_block)
@settings(max_examples=200, deadline=None)
def test_parse_md_tables_total_and_consistent(lines):
    """The parser must never crash, and every record must be exactly
    header-width with non-None cells."""
    text = "\n".join(lines)
    for t in parse_md_tables(text):
        n = len(t["headers"])
        assert n >= 1
        for rec in t["rows"]:
            assert len(rec) == n
            assert all(isinstance(c, str) for c in rec)
        if t["footer"] is not None:
            assert len(t["footer"]) == n


# ------------------------------------------------- E6 span-range collection

SEC_MD = "\n".join([
    "intro line",
    "| h1 | h2 |",        # table 0: OUTSIDE any section -> excluded
    "|---|---|",
    "| a | b |",
    "BEGIN DETAILS",       # section 0
    "prose",
    "| h3 | h4 |",        # table 1: inside section 0
    "|---|---|",
    "| c | d |",
    "| e | f |",
    "prose",
    "END DETAILS",
    "| h5 | h6 |",        # table 2: after the close -> excluded
    "|---|---|",
    "| g | h |",
    "BEGIN DETAILS",       # section 1: dangling, runs to end-of-context
    "| h7 | h8 |",        # table 3: inside section 1
    "|---|---|",
    "| i | j |",
])


def test_section_tables_strict_containment(spark):
    from marie_ai_spark.operators.tables import section_tables

    sdf = spark.createDataFrame(
        [("c1", 0, SEC_MD)], "conv_id string, turn_idx int, text string"
    )
    out = section_tables(
        sdf, "^BEGIN DETAILS$", "^END DETAILS$"
    ).collect()
    got = {(r.section_idx, r.table_idx, r.row_idx, r.col_idx, r.value)
           for r in out}
    # only tables 1 (section 0) and 3 (dangling section 1) are collected
    assert {t for _, t, *_ in got} == {1, 3}
    assert got == {
        (0, 1, 0, 0, "c"), (0, 1, 0, 1, "d"),
        (0, 1, 1, 0, "e"), (0, 1, 1, 1, "f"),
        (1, 3, 0, 0, "i"), (1, 3, 0, 1, "j"),
    }
    # twin agrees cell-for-cell
    from marie_ai_spark.ref_ops.table_ops import section_tables_py

    twin = {
        (r["section_idx"], r["table_idx"], r["row_idx"], r["col_idx"], r["value"])
        for r in section_tables_py(SEC_MD, "^BEGIN DETAILS$", "^END DETAILS$")
    }
    assert twin == got


def test_section_tables_spark_matches_twin_corpus(spark):
    """Full-corpus equality on the dedicated section-doc generator (the
    q_section_tables input): Spark plan == ref_ops twin, cell for cell."""
    from marie_ai_spark.operators.tables import section_tables
    from marie_ai_spark.ref_ops.table_ops import section_tables_py
    from marie_ai_spark.sources.transcripts import (
        SECTION_START,
        SECTION_STOP,
        gen_section_docs_pandas,
        gen_section_docs_spark,
    )

    n = 60
    start_re, stop_re = f"^{SECTION_START}$", f"^{SECTION_STOP}$"
    got = {
        (r.conv_id, r.section_idx, r.table_idx, r.row_idx, r.col_idx,
         r.col_name, r.value)
        for r in section_tables(
            gen_section_docs_spark(spark, n), start_re, stop_re
        ).collect()
    }
    want = set()
    docs = gen_section_docs_pandas(n)
    for row in docs.itertuples():
        for rec in section_tables_py(row.text, start_re, stop_re):
            want.add(
                (row.conv_id, rec["section_idx"], rec["table_idx"],
                 rec["row_idx"], rec["col_idx"], rec["col_name"], rec["value"])
            )
    assert got == want
    # the generator must exercise the exclusion path: some docs have tables
    # but no in-section rows
    import re as _re

    with_tables = {r.conv_id for r in docs.itertuples()
                   if _re.search(r"(?m)^\|", r.text)}
    with_rows = {c for c, *_ in want}
    assert with_tables - with_rows, "no out-of-section table in the corpus"


def test_hybrid_embedding_tie_breaks_on_label(spark):
    """Adversarial tie path for the vectorized embedding scorer: two
    labels that NORMALIZE identically ('Data Row' vs 'data row') produce
    identical embedding vectors, so every norm's raw scores tie exactly —
    the winner must be the lexicographically smaller label, matching the
    twin's (-final, label) ordering, for every emitted row."""
    from marie_ai_spark.operators.hybrid import hybrid_annotate
    from marie_ai_spark.ref_ops.hybrid import annotate_text, dedup_extractions

    labels = ["data row", "Data Row"]  # same norm; 'D' < 'd' in the tie
    rows = [
        ("c0", 0, "the data row ledger", "user", "", None),
        ("c1", 0, "data row\nrow data totals", "user", "", None),
    ]
    sdf = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, text string, role string, "
        "tool string, ts timestamp",
    )
    got = sorted(
        (r.conv_id, r.label, r.strategy, r.value, r.score)
        for r in hybrid_annotate(sdf, labels=labels, critical=[]).collect()
    )
    want_rows = []
    for conv_id, turn_idx, text, *_ in rows:
        want_rows += annotate_text(conv_id, turn_idx, text, labels, [])
    want = sorted(
        (r["conv_id"], r["label"], r["strategy"], r["value"], r["score"])
        for r in dedup_extractions(want_rows)
    )
    assert got and got == want
    assert all(lbl == "Data Row" for _, lbl, *_ in got)


def test_hybrid_empty_labels_returns_empty(spark):
    """labels=[] must short-circuit to an empty result with the full
    output schema — not crash in the Arrow stage with a length mismatch
    (ADVICE r4)."""
    from marie_ai_spark.operators.hybrid import _OUT_COLS, hybrid_annotate

    sdf = spark.createDataFrame(
        [("c1", 0, "please review the customer order today")],
        "conv_id string, turn_idx int, text string",
    )
    out = hybrid_annotate(sdf, labels=[], critical=[])
    assert out.columns == _OUT_COLS
    assert out.count() == 0


def test_hybrid_default_leaves_no_persisted_rdds(spark, corpus_sdf):
    """hybrid_annotate must not leave any persisted RDD behind after the
    result is materialized (ADVICE r4: the session-
    lifetime MEMORY_AND_DISK persist leaked on every call). Compared
    against the pre-call count: the shared test session may already hold
    other modules' caches/localCheckpoints."""
    from marie_ai_spark.operators.hybrid import hybrid_annotate

    spark.catalog.clearCache()
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    n = hybrid_annotate(corpus_sdf).count()
    assert n > 0
    after = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert after <= before, f"hybrid leaked {after - before} persisted RDDs"


def test_hybrid_broadcast_gate_fallback_identical(spark, corpus_sdf):
    """Forcing the broadcast gate over its bound (max_broadcast_decisions
    = 0) must fall back to the shuffle join with IDENTICAL output —
    the guard changes the physical join, never the result (ADVICE r4)."""
    from marie_ai_spark.operators.hybrid import hybrid_annotate

    key = lambda r: (  # noqa: E731
        r.conv_id, r.label, r.strategy, r.value,
        r.turn_idx, r.line_no, r.tok_start, r.ngram_size, r.score,
    )
    fast = sorted(map(key, hybrid_annotate(corpus_sdf).collect()))
    slow = sorted(map(key, hybrid_annotate(
        corpus_sdf, max_broadcast_decisions=0).collect()))
    assert fast and fast == slow


def test_hybrid_fallback_plan_is_lazy_shuffle_join(spark, corpus_sdf):
    """Pin the PHYSICAL shape of the two gate outcomes. The gate's eager
    localCheckpoint materializes the decisions once, so neither returned
    plan re-runs the Arrow scoring stage. Under the bound the decisions
    come back to the driver as Arrow batches and are broadcast as a local
    relation (LocalTableScan; no Python-list DataFrame, whose
    applySchemaToPythonRDD scan would cost a Python-worker job); over the
    bound (round 8 shape) they are NEVER collected to the driver: the
    shuffle join reads the checkpointed blocks (ExistingRDD), and the
    observed count still reports the decision volume."""
    from marie_ai_spark.operators import hybrid
    from marie_ai_spark.operators.hybrid import hybrid_annotate

    fast = hybrid_annotate(corpus_sdf)
    fast_plan = fast._jdf.queryExecution().executedPlan().toString()
    assert hybrid.LAST_CALL_INFO["join"] == "broadcast-local"
    assert hybrid.LAST_CALL_INFO["n_decisions"] > 0
    assert "ArrowEvalPython" not in fast_plan
    assert "ExistingRDD" not in fast_plan

    slow = hybrid_annotate(corpus_sdf, max_broadcast_decisions=0)
    slow_plan = slow._jdf.queryExecution().executedPlan().toString()
    assert hybrid.LAST_CALL_INFO["join"] == "shuffle"
    assert hybrid.LAST_CALL_INFO["n_decisions"] > 0
    # decisions come from the checkpointed materialization, not a re-run
    # of the scoring subplan and not a driver-collected broadcast
    assert "ExistingRDD" in slow_plan
    assert "ArrowEvalPython" not in slow_plan
    assert slow.count() > 0
