"""Curation operators: decontamination, PII scrubbing, stratified
sampling — handcrafted semantics plus determinism properties."""

import pytest

from pyspark.sql import functions as F

from marie_ai_spark.operators.curation import (
    contaminated_docs,
    gen_pii_docs,
    scrub_pii,
    stratified_sample,
)


def test_decontamination_collision_and_clean(spark):
    shared = " ".join(f"w{i}" for i in range(13))  # exactly one 13-gram
    docs = spark.createDataFrame(
        [
            (1, "prefix " + shared + " suffix"),     # contains the gram
            (2, "totally different words only"),      # clean
            (3, shared),                              # the gram exactly
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "intro " + shared)], "bench_id long, text string"
    )
    got = {
        (r.doc_id, r.bench_id): r.n_collisions
        for r in contaminated_docs(docs, bench, n=13).collect()
    }
    assert got == {(1, 100): 1, (3, 100): 1}


def test_decontamination_counts_multiple_grams(spark):
    text = " ".join(f"t{i}" for i in range(15))  # 3 distinct 13-grams
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    bench = spark.createDataFrame([(9, text)], "bench_id long, text string")
    (row,) = contaminated_docs(docs, bench, n=13).collect()
    assert row.n_collisions == 3


def test_scrub_pii_masks_and_counts(spark):
    text = (
        "contact bob.smith+x@mail.example.com or 10.0.255.254 "
        "call 555-123-4567 card 4111111111111111 but not 1234 or v1.2.3"
    )
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    (row,) = scrub_pii(df).collect()
    assert row.n_email == 1 and row.n_ipv4 == 1
    assert row.n_phone == 1 and row.n_card == 1 and row.n_pii == 4
    assert "[EMAIL]" in row.clean_text and "[IP]" in row.clean_text
    assert "[PHONE]" in row.clean_text and "[CARD]" in row.clean_text
    assert "bob.smith" not in row.clean_text
    assert "1234 " in row.clean_text or row.clean_text.endswith("1234")
    assert "v1.2.3" in row.clean_text  # version strings survive


def test_scrub_pii_matches_python_twin(spark):
    """Spark regex masking == independent python-re replay over the shared
    deterministic corpus (the q_scrub_pii oracle's implementation)."""
    import sys

    sys.path.insert(0, "/root/repo")
    from tools.make_fixtures import scrub_pii_oracle

    got = {
        r.doc_id: (r.clean_text, r.n_email, r.n_ipv4, r.n_phone, r.n_card)
        for r in scrub_pii(gen_pii_docs(spark, 80, seed=7)).collect()
    }
    want = {
        int(r.doc_id): (r.clean_text, r.n_email, r.n_ipv4, r.n_phone, r.n_card)
        for r in scrub_pii_oracle(80, 7).itertuples()
    }
    assert got == want
    # the generator actually exercises every class
    assert sum(v[1] for v in got.values()) > 0
    assert sum(v[2] for v in got.values()) > 0
    assert sum(v[3] for v in got.values()) > 0
    assert sum(v[4] for v in got.values()) > 0


def test_stratified_sample_deterministic_and_proportional(spark):
    rows = [(i, ["a", "b"][i % 2]) for i in range(4000)]
    df = spark.createDataFrame(rows, "k long, g string")
    out1 = stratified_sample(df, "g", {"a": 0.5, "b": 0.1}, "k")
    out2 = stratified_sample(df, "g", {"a": 0.5, "b": 0.1}, "k")
    got1 = sorted(r.k for r in out1.collect())
    got2 = sorted(r.k for r in out2.collect())
    assert got1 == got2  # bit-identical keep set across runs
    per = {r.g: r.n for r in out1.groupBy("g").agg(F.count("*").alias("n")).collect()}
    assert per["a"] == pytest.approx(1000, rel=0.1)
    assert per["b"] == pytest.approx(200, rel=0.3)
    # unknown stratum drops by default
    df2 = spark.createDataFrame([(1, "zz")], "k long, g string")
    assert stratified_sample(df2, "g", {"a": 1.0}, "k").count() == 0
    # fraction 1.0 keeps everything
    assert stratified_sample(df, "g", {"a": 1.0, "b": 1.0}, "k").count() == 4000


def test_per_source_cap_two_phase_equals_single_window(spark):
    """The salted two-phase top-k must equal the naive single-window
    semantics exactly, including on a heavily skewed source (one domain
    holding half the corpus) and sources under the cap."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from marie_ai_spark.operators.curation import per_source_cap

    rows = [(i, "hot" if i < 500 else f"s{i % 7}") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    got = {
        r.doc_id
        for r in per_source_cap(df, "source", cap=9, key_col="doc_id",
                                n_salts=8).collect()
    }
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    want = {
        r.doc_id
        for r in df.withColumn("rn", F.row_number().over(w))
        .filter("rn <= 9")
        .collect()
    }
    assert got == want
    # per-source counts: capped at 9; under-cap sources keep everything
    from collections import Counter

    src = dict(rows)
    counts = Counter(src[d] for d in got)
    assert counts["hot"] == 9
    for s in set(src.values()) - {"hot"}:
        assert counts[s] == min(9, sum(1 for v in src.values() if v == s))


def _single_window_kept(rows, budgets, default_budget=0):
    """Reference for token_budget_sample: the doc_ids one
    source-partitioned running-sum window keeps, in DuckDB SQL over the
    same (doc_id, source, n_tok) rows."""
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    con.register(
        "items", pd.DataFrame(rows, columns=["doc_id", "source", "n_tok"])
    )
    budget = "CASE source {} ELSE {} END".format(
        " ".join(f"WHEN '{s}' THEN {b}" for s, b in budgets.items()),
        int(default_budget),
    )
    return {r[0] for r in con.sql(f"""
        SELECT doc_id FROM (
            SELECT doc_id, source, sum(n_tok) OVER (
                PARTITION BY source ORDER BY md5(doc_id::VARCHAR), doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            ) AS cum
            FROM items
        ) WHERE cum <= {budget}
    """).fetchall()}


def test_token_budget_sample_two_phase_equals_single_window(spark):
    """The bucketed two-phase prefix-sum plan must keep exactly the rows
    of the single source-window running sum, including on a skewed input
    (one domain = half the corpus) and a source whose total mass is
    under budget (kept whole). The single window runs in DuckDB."""
    from marie_ai_spark.operators.curation import token_budget_sample

    rows = [
        (i, "hot" if i < 500 else f"s{i % 7}", 10 + i % 37)
        for i in range(1000)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tok int")
    budgets = {"hot": 800, "s0": 50}
    got = {
        r.doc_id
        for r in token_budget_sample(
            df, "source", budgets, "doc_id", "n_tok", default_budget=10_000
        ).collect()
    }
    want = _single_window_kept(rows, budgets, default_budget=10_000)
    assert got == want and got
    # budget semantics: per-source kept mass <= budget, and the next doc
    # in priority order would overflow (the sample is maximal)
    import hashlib

    toks = {i: t for i, s, t in rows}
    srcs = {i: s for i, s, t in rows}
    for s, budget in [("hot", 800), ("s0", 50), ("s1", 10_000)]:
        member = sorted(
            (i for i in srcs if srcs[i] == s),
            key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i),
        )
        kept_mass = sum(toks[i] for i in member if i in got)
        assert kept_mass <= budget
        dropped = [i for i in member if i not in got]
        if dropped:
            first_dropped = min(dropped, key=member.index)
            assert kept_mass + toks[first_dropped] > budget
        # the kept set is a PREFIX of the priority order
        flags = [i in got for i in member]
        assert flags == sorted(flags, reverse=True)


def test_token_budget_zero_token_row_at_exact_budget_boundary(spark):
    """ADVICE r5 regression: a zero-token row that LEADS a bucket whose
    exclusive prefix equals the budget exactly must be kept (the single
    window keeps it: cum == budget). The two-phase plan previously
    classified that bucket wholly-past (prefix < budget gate) and dropped
    the row. Bucket layout is engineered from the real md5 priorities;
    the single window runs in DuckDB."""
    import hashlib

    from marie_ai_spark.operators.curation import token_budget_sample

    ids = list(range(200))
    pr = {i: hashlib.md5(str(i).encode()).hexdigest() for i in ids}
    bucket = {i: int(pr[i][:3], 16) for i in ids}
    order = sorted(ids, key=lambda i: (pr[i], i))
    # pick the bucket of the ~100th doc in priority order as the boundary
    b_star = bucket[order[100]]
    lead = min(
        (i for i in ids if bucket[i] == b_star), key=lambda i: (pr[i], i)
    )
    # every doc in earlier buckets carries 7 tokens; the boundary bucket's
    # leader carries 0; everyone else 7. budget == exact mass of the
    # earlier buckets, so the leader sits at cum == budget.
    budget = 7 * sum(1 for i in ids if bucket[i] < b_star)
    rows = [(i, "s", 0 if i == lead else 7) for i in ids]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tok int")
    got = {
        r.doc_id
        for r in token_budget_sample(
            df, "source", {"s": budget}, "doc_id", "n_tok"
        ).collect()
    }
    want = _single_window_kept(rows, {"s": budget})
    assert lead in want  # the window form keeps the cum==budget row
    assert got == want


def test_contamination_flag_tokenizer_is_bit_equal_to_jvm(spark):
    """ADVICE r5: the python tokenizer inside contamination_flag must be
    bit-equal to the JVM tokens() helper on Unicode whitespace (NBSP,
    U+2028), tab-edged strings (Java split keeps the empty tokens Spark
    trim leaves behind), and control characters. Each adversarial doc is
    its own benchmark: the JVM side shingles it, and the flag must mark
    exactly the docs whose JVM gram set is non-empty — any tokenizer
    divergence breaks the round-trip for the NBSP/tab cases."""
    from marie_ai_spark.operators.curation import (
        benchmark_shingles,
        contaminated_docs,
        contamination_flag,
    )

    n = 3
    texts = [
        "alpha beta gamma delta",
        "alpha beta gamma delta epsilon zeta",   # NBSP inside a token
        "alpha beta gamma delta epsilon zeta",   # U+2028 inside a token
        "\talpha beta gamma delta",                   # leading empty token
        "alpha beta gamma delta\t",                   # trailing empty token
        "\x01alpha beta gamma\x01 delta",             # control chars kept
        "  alpha   beta\t\tgamma  ",                  # ws runs + space trim
        "one two",                                    # too short: no grams
        "",                                           # empty
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    bench = docs.select(F.col("doc_id").alias("bench_id"), "text")
    shingles = benchmark_shingles(bench, n=n)
    flagged = {
        r.doc_id
        for r in contamination_flag(docs, shingles, n=n)
        .filter("contaminated")
        .collect()
    }
    via_join = {
        r.doc_id
        for r in contaminated_docs(docs, bench, n=n)
        .select("doc_id")
        .distinct()
        .collect()
    }
    assert flagged == via_join
    assert {0, 1, 2, 3, 4, 5, 6} <= flagged and 7 not in flagged


def test_temperature_mixture_rates_and_determinism(spark):
    """p_s ~ n_s^alpha: rare sources upweighted, head flattened; md5
    admission matches a python twin row-for-row; alpha=1 degenerates to
    plain proportional sampling."""
    import hashlib
    import math

    from marie_ai_spark.operators.curation import temperature_mixture_sample

    rows = [(i, "head" if i < 80 else "tail") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = temperature_mixture_sample(
        df, source_col="source", key_col="doc_id", alpha=0.5, target_frac=0.5
    ).collect()

    rates = {r.source: r.accept_rate for r in out}
    wsum = math.pow(80, 0.5) + math.pow(20, 0.5)
    exp = {
        "head": min(1.0, 0.5 * 100 * math.pow(80, 0.5) / wsum / 80),
        "tail": min(1.0, 0.5 * 100 * math.pow(20, 0.5) / wsum / 20),
    }
    for s in ("head", "tail"):
        assert abs(rates[s] - exp[s]) < 1e-6, s
    assert rates["tail"] > rates["head"]  # flattening upweights the rare source

    def admitted(i, rate):
        b = int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 1000000
        return b < rate * 1000000

    want = {i for i, s in rows if admitted(i, exp[s])}
    assert {r.doc_id for r in out} == want

    # alpha=1: p_s proportional to n_s -> every source keeps target_frac
    out1 = temperature_mixture_sample(
        df, source_col="source", key_col="doc_id", alpha=1.0, target_frac=0.3
    ).collect()
    assert {r.accept_rate for r in out1} == {0.3}


def test_temperature_mixture_caps_tiny_sources(spark):
    """A source so small that its allowance exceeds its size is kept
    whole (rate capped at 1.0)."""
    from marie_ai_spark.operators.curation import temperature_mixture_sample

    rows = [(i, "big") for i in range(400)] + [(1000, "rare"), (1001, "rare")]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = temperature_mixture_sample(
        df, source_col="source", key_col="doc_id", alpha=0.3, target_frac=0.5
    ).collect()
    rare = [r for r in out if r.source == "rare"]
    assert {r.doc_id for r in rare} == {1000, 1001}
    assert all(r.accept_rate == 1.0 for r in rare)
