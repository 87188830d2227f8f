"""Physical-plan regression gates: the scale properties documented in
docs/PLANS.md are asserted here so a future edit that silently adds a
shuffle, drops a broadcast, or breaks filter pushdown fails the suite —
not just the benchmark."""

import re

import pytest

from pyspark.sql import functions as F

from marie_ai_spark.sources.transcripts import gen_spark

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _count(plan: str, op: str) -> int:
    return len(re.findall(rf"\b{op}\b", plan))


@pytest.fixture(scope="module")
def tr(spark):
    return gen_spark(spark, 60, seed=42)


def test_extraction_is_shuffle_free(spark, tr):
    from marie_ai_spark.operators.extract import extract_transcripts

    plan = _plan(extract_transcripts(tr))
    assert _count(plan, "Exchange") == 0, plan[:600]
    assert _count(plan, "MapInPandas") >= 1


def test_adlib_pages_is_shuffle_free(spark, tr):
    from marie_ai_spark.operators.layout import serialize_adlib

    plan = _plan(serialize_adlib(tr))
    assert _count(plan, "Exchange") == 0, plan[:600]


def test_region_tables_single_exchange(spark, tr):
    from marie_ai_spark.operators.tables import region_table_rows

    plan = _plan(region_table_rows(tr))
    # one (conv,turn)-keyed exchange feeds every window; the final merge
    # aggregation may re-key once — anything beyond that is a regression
    assert _count(plan, "Exchange") - _count(plan, "ReusedExchange") <= 2, (
        plan[:800]
    )


def test_validate_sections_single_exchange(spark, tr):
    from marie_ai_spark.operators.validator import (
        validated_boilerplate_sections,
    )

    plan = _plan(validated_boilerplate_sections(tr))
    assert _count(plan, "Exchange") - _count(plan, "ReusedExchange") <= 1


def test_star_join_broadcasts_dimensions(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    o = spark.read.parquet(f"{SF}/orders.parquet")
    c = spark.read.parquet(f"{SF}/customer.parquet")
    j = li.join(o, li.l_orderkey == o.o_orderkey).join(
        F.broadcast(c), o.o_custkey == c.c_custkey
    )
    plan = _plan(j)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_filter_pushdown_reaches_scan(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    ).select("l_returnflag", "l_quantity")
    plan = _plan(li)
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan or re.search(
        r"PushedFilters: \[.*l_shipdate", plan
    ), plan[:600]
    # column pruning: the scan schema must not include unused wide columns
    m = re.search(r"ReadSchema: ([^\n]+)", plan)
    assert m and "l_comment" not in m.group(1)


def test_no_crossjoin_in_neardup_paths(spark):
    from marie_ai_spark.operators import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    for df in (
        dedup.minhash_lsh_candidates(docs, n=3),
        dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.2, max_shingle_df=100),
        dedup.simhash_neardup_pairs(docs),
    ):
        plan = _plan(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_stratified_sample_zero_exchange(spark):
    """Composition sampling is a pure scan+filter: NO exchange at all, and
    the stratum filter is evaluated post-scan on pushed-down columns."""
    from marie_ai_spark.operators.curation import stratified_sample

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(
        stratified_sample(docs, "lang", {"en": 1.0, "de": 0.5}, "doc_id")
    )
    assert _count(plan, "Exchange") == 0, plan[:600]


def test_decontaminate_broadcasts_benchmark(spark):
    """The benchmark shingle side must broadcast (never a shuffle join of
    corpus-sized inputs, never a cartesian)."""
    from marie_ai_spark.operators.curation import contaminated_docs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    plan = _plan(contaminated_docs(corpus, bench, n=13))
    assert _count(plan, "BroadcastHashJoin") >= 1, plan[:600]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_section_tables_no_cartesian(spark):
    from marie_ai_spark.operators.tables import section_tables
    from marie_ai_spark.sources.transcripts import (
        SECTION_START,
        SECTION_STOP,
        gen_section_docs_spark,
    )

    plan = _plan(
        section_tables(
            gen_section_docs_spark(spark, 40),
            f"^{SECTION_START}$",
            f"^{SECTION_STOP}$",
        )
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def _no_aggregate_window_exchange(plan: str) -> None:
    for op in ("HashAggregate", "ObjectHashAggregate", "SortAggregate",
               "Window", "Exchange"):
        assert _count(plan, op) == 0, (op, plan[:800])


def test_lang_id_classify_has_no_profile_aggregation(spark):
    """The train/apply split's 100-TB claim: classifying against a
    PRETRAINED profile (lang_id_classify_stream, the apply every lang-ID
    query runs) is one stateless Arrow stage — no aggregate, no window,
    no exchange, so the same plan serves a stream."""
    from marie_ai_spark.operators.textstats import lang_id_classify_stream

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    profile = [{"lang": "en", "g": "the", "rank": 1},
               {"lang": "de", "g": "der", "rank": 1}]
    plan = _plan(lang_id_classify_stream(docs, profile, top_k=50))
    _no_aggregate_window_exchange(plan)
    # one scoring pass: the no-hit filter must not plan a second UDF copy
    assert _count(plan, "ArrowEvalPython") == 1, plan[:800]


def test_fluency_classify_has_no_profile_aggregation(spark):
    """fluency_classify_stream against a pretrained profile: no
    aggregate, no window (the profile ranking window lives in train
    only), no exchange."""
    from marie_ai_spark.operators.textstats import fluency_classify_stream

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    profile = [{"lang": "en", "g": "the", "rank": 1},
               {"lang": "de", "g": "der", "rank": 1}]
    plan = _plan(fluency_classify_stream(docs, profile))
    _no_aggregate_window_exchange(plan)
    assert _count(plan, "ArrowEvalPython") == 1, plan[:800]


def _trigram_fold(docs, lid_top_k: int, flu_top_k: int):
    """Plain-Python train + apply of both trigram models over collected
    (doc_id, lang, text) rows: profiles rank trigrams by (count desc,
    trigram asc); lang-ID sums top_k + 1 - rank over a doc's DISTINCT
    trigrams (argmax, p_lang asc on ties; no hit -> no row); fluency is
    the HALF_UP-rounded share of trigram occurrences in the doc's own
    language profile (0.0 for docs under 3 chars)."""
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    def norm(t):
        return re.sub(r"\s+", " ", t or "", flags=re.ASCII).lower()

    def grams(t):
        return [t[i:i + 3] for i in range(len(t) - 2)]

    counts: dict = {}
    for _d, lang, text in docs:
        counts.setdefault(lang, Counter()).update(grams(norm(text)))

    def top(lang, k):
        return sorted(counts[lang].items(), key=lambda gc: (-gc[1], gc[0]))[:k]

    lid_prof: dict = {}
    for lang in counts:
        for rank, (g, _c) in enumerate(top(lang, lid_top_k), start=1):
            lid_prof.setdefault(g, []).append((lang, lid_top_k + 1 - rank))
    flu_prof = {(lang, g) for lang in counts
                for g, _c in top(lang, flu_top_k)}

    lid, flu = set(), set()
    for doc_id, lang, text in docs:
        t = norm(text)
        acc: dict = {}
        for g in set(grams(t)):
            for p_lang, w in lid_prof.get(g, ()):
                acc[p_lang] = acc.get(p_lang, 0) + w
        if acc:
            p_lang, score = min(acc.items(), key=lambda kv: (-kv[1], kv[0]))
            lid.add((doc_id, lang, p_lang, score))
        occ = grams(t)
        cov = sum(1 for g in occ if (lang, g) in flu_prof)
        frac = (
            float((Decimal(cov) / Decimal(len(occ))).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP))
            if occ else 0.0
        )
        flu.add((doc_id, lang, len(occ), frac))
    return lid, flu


def test_split_forms_equal_fused(spark):
    """Train+apply (a collected profile table fed to the stateless
    apply) == the fused query functions == a plain-Python fold of both
    models, row for row."""
    from marie_ai_spark.operators import textstats

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    want_lid, want_flu = _trigram_fold(
        [tuple(r) for r in docs.select("doc_id", "lang", "text").collect()],
        lid_top_k=20, flu_top_k=50,
    )
    fused = {tuple(r) for r in textstats.lang_id_ngram(docs, top_k=20).collect()}
    split = {tuple(r) for r in textstats.lang_id_classify_stream(
        docs,
        [r.asDict() for r in textstats.lang_profile_table(docs, 20).collect()],
        top_k=20,
    ).collect()}
    assert fused == split == want_lid and fused
    f2 = {tuple(r) for r in textstats.fluency_scores(docs, top_k=50).collect()}
    s2 = {tuple(r) for r in textstats.fluency_classify_stream(
        docs,
        [r.asDict()
         for r in textstats.lang_profile_table(docs, 50).collect()],
    ).collect()}
    assert f2 == s2 == want_flu and f2


def test_bm25_topk_has_no_doc_id_shuffle(spark):
    """bm25_topk is train + apply + TakeOrdered: the per-(doc, term)
    aggregate, the df join and the per-doc fold are gone, so no exchange
    is keyed on doc_id. The input already has default parallelism, so
    spread_input adds nothing and the plan is the operator's own."""
    from marie_ai_spark.operators.textstats import bm25_topk

    docs = spark.read.parquet(f"{SF}/documents.parquet").repartition(
        spark.sparkContext.defaultParallelism
    )
    plan = _plan(bm25_topk(docs, ["spark", "merge", "window"], k=5))
    assert "hashpartitioning(doc_id" not in plan, plan[:1200]


def test_bm25_train_stats_is_one_job(spark):
    """The corpus statistics (N, avgdl, per-term df) come from ONE global
    aggregate over the documents: one Spark job, counted by job group."""
    from marie_ai_spark.operators.textstats import bm25_train_stats

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sc = spark.sparkContext
    group = "bm25-train-stats"
    sc.setJobGroup(group, "train BM25 corpus statistics")
    try:
        stats = bm25_train_stats(docs, ["spark", "merge", "window"])
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(jobs) == 1, jobs
    assert stats["n_docs"] == docs.count()


def test_faithfulness_is_join_only(spark, tr):
    """faithfulness_scores: codegen array expressions + one equi-join —
    zero aggregates, zero windows, zero Python stages."""
    from marie_ai_spark.operators.evaluate import faithfulness_scores
    from marie_ai_spark.operators.extract import extract_transcripts

    plan = _plan(faithfulness_scores(tr, extract_transcripts(tr)))
    assert _count(plan, "HashAggregate") == 0, plan[:600]
    assert _count(plan, "Window") == 0, plan[:600]


def test_extract_frames_single_python_stage(spark):
    """extract_frames: exactly one Arrow-batched python stage over the
    video filter — payload bytes never shuffle."""
    from marie_ai_spark.operators.multimodal import extract_frames, gen_media

    plan = _plan(extract_frames(gen_media(spark, n_assets=12, seed=3)))
    assert _count(plan, "MapInPandas") == 1, plan[:600]
    assert _count(plan, "Exchange") == 0, plan[:600]


def test_token_budget_sample_windows_are_bucket_partitioned(spark):
    """token_budget_sample: every Window over the full corpus partitions
    by (source, _tb_bucket) — the skew-free key — never by source alone;
    the only source-partitioned window runs over the <=4096-rows-per-
    source bucket AGGREGATE. Concretely: at most 2 Window ops, and the
    per-doc running sum's spec mentions _tb_bucket."""
    from marie_ai_spark.functions import token_count
    from marie_ai_spark.operators.curation import token_budget_sample

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "source", token_count("text").cast("int").alias("n_tok")
    )
    plan = _plan(token_budget_sample(
        docs, "source", {"src0": 500}, "doc_id", "n_tok",
        default_budget=400,
    ))
    assert _count(plan, "CartesianProduct") == 0, plan[:800]
    # <=3 Windows: the bounded-aggregate prefix window appears once per
    # Union branch (whole-bucket keep + boundary bucket), plus the one
    # exact per-doc window
    n_windows = len(re.findall(r"\bWindow\b", plan))
    assert n_windows <= 3, plan[:1200]
    # every per-doc window (ordering on the md5 priority _tb_pr) carries
    # the bucket in its partition spec — the full corpus never flows
    # through a source-only window
    win_lines = [ln for ln in plan.splitlines()
                 if "windowspecdefinition" in ln and "_tb_pr" in ln]
    assert win_lines and all("_tb_bucket" in ln for ln in win_lines), (
        "\n".join(win_lines)[:800]
    )


def test_pack_sequences_windows_are_bucket_partitioned(spark):
    """pack_sequences: the per-item offset window partitions by the md5
    bucket (skew-free); the only partition-less window runs over the
    <=4096-row bucket aggregate, never the corpus."""
    from marie_ai_spark.functions import token_count
    from marie_ai_spark.operators.tokenize import pack_sequences

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", token_count("text").cast("int").alias("n_tok")
    )
    plan = _plan(pack_sequences(docs, "doc_id", "n_tok", 512))
    assert _count(plan, "CartesianProduct") == 0, plan[:800]
    win_lines = [ln for ln in plan.splitlines()
                 if "windowspecdefinition" in ln and "_pk_pr" in ln]
    assert win_lines and all("_pk_bucket" in ln for ln in win_lines), (
        "\n".join(win_lines)[:800]
    )


def test_fluency_buckets_broadcasts_cutoffs(spark):
    """fluency_buckets: the per-lang percentile cutoffs join back as a
    BROADCAST (tiny aggregate), and no window function runs over the
    corpus — bucketing is a pure comparison."""
    from marie_ai_spark.operators.textstats import fluency_buckets

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(fluency_buckets(docs))
    assert _count(plan, "BroadcastHashJoin") >= 1, plan[:800]
    assert _count(plan, "CartesianProduct") == 0, plan[:800]
    # the only Window ops belong to the profile TRAIN side (rank <= k),
    # never to the bucketing of scored docs
    for ln in plan.splitlines():
        if "windowspecdefinition" in ln:
            assert "in_profile_frac" not in ln, ln[:300]


def test_duplicate_spans_no_cartesian(spark):
    """duplicate_spans: the duplicate set joins back on the gram hash —
    an equi-join, never a cartesian — and the island merge partitions by
    document."""
    from marie_ai_spark.operators.dedup import duplicate_spans

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(duplicate_spans(docs, n=20))
    assert _count(plan, "CartesianProduct") == 0, plan[:800]
    assert _count(plan, "BroadcastNestedLoopJoin") == 0, plan[:800]


def test_semantic_dedup_is_cell_partitioned(spark):
    """semantic_dedup: pair generation is grouped by the IVF cell —
    never a cartesian/nested-loop product — so the work is partitioned by
    cell (sum of |cell|^2, not N^2) at any scale."""
    from marie_ai_spark.operators.similarity import (
        semantic_dedup,
        train_ivf_centroids,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = train_ivf_centroids(emb, n_centroids=4, iters=2)
    plan = _plan(semantic_dedup(emb, cents, threshold=0.45))
    assert _count(plan, "CartesianProduct") == 0, plan[:800]
    assert _count(plan, "BroadcastNestedLoopJoin") == 0, plan[:800]
    assert "cell" in plan  # the join key is the cell column


def test_hybrid_joinback_broadcasts_decisions(spark, tr):
    """hybrid_annotate: the per-norm decisions (pre-computed through the
    bounded eager gate) join back onto the candidate fan-out as a
    BROADCAST — the fan-out must never shuffle through a sort-merge
    join."""
    from marie_ai_spark.operators.hybrid import hybrid_annotate

    plan = _plan(hybrid_annotate(tr))
    assert _count(plan, "BroadcastHashJoin") >= 1, plan[:800]
    assert _count(plan, "SortMergeJoin") == 0, plan[:800]


def _plan_nodes(df) -> list[tuple[str, tuple[str, ...]]]:
    """(node name, names of its ancestors) for every node of the physical
    plan, walked on the JVM tree (AQE's plan as planned, before it runs)."""

    def walk(node, above):
        yield node.nodeName(), above
        kids = node.children()
        for k in range(kids.size()):
            yield from walk(kids.apply(k), above + (node.nodeName(),))

    root = df._jdf.queryExecution().executedPlan()
    if root.nodeName() == "AdaptiveSparkPlan":
        root = root.executedPlan()
    return list(walk(root, ()))


def test_hybrid_decision_plan_is_arrow_batched(spark, tr):
    """The decision pass reads the candidate fan-out ONCE (one evaluation
    of the input subtree), scores with ONE Arrow-batched python stage that
    sits above every exchange (so it sees distinct norms, not candidate
    occurrences), builds its label side without a Python-worker scan, and
    has one nested-loop join: the crossjoin of distinct norms with the
    tiny label set."""
    from marie_ai_spark.operators import hybrid as H
    from marie_ai_spark.ref_ops.hybrid import (
        DEFAULT_CRITICAL,
        DEFAULT_TARGET_LABELS,
    )

    normed = H._ngram_candidates(tr).filter(F.col("norm") != "")
    dec = H.decision_plan(normed, DEFAULT_TARGET_LABELS, DEFAULT_CRITICAL)
    plan = _plan(dec)
    assert _count(plan, "MapInPandas") == 1, plan
    assert _count(plan, "ArrowEvalPython") == 1, plan
    assert _count(plan, "BatchEvalPython") == 0, plan
    assert _count(plan, "BroadcastNestedLoopJoin") == 1, plan
    assert _count(plan, "SortMergeJoin") == 0, plan
    for name, above in _plan_nodes(dec):
        if name == "ArrowEvalPython":
            assert not [a for a in above if "Exchange" in a], (above, plan)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    formatted = dec._jdf.queryExecution().explainString(mode)
    assert "applySchemaToPythonRDD" not in formatted, formatted


def test_temperature_mixture_broadcasts_rates(spark):
    """The derived per-source rates join back as a BROADCAST; the data
    path has no corpus-wide window and no sort — the only exchanges are
    the two tiny histogram/normalizer aggregations."""
    from marie_ai_spark.operators.curation import temperature_mixture_sample

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(
        temperature_mixture_sample(docs, "lang", "doc_id", 0.5, 0.5)
    )
    assert _count(plan, "BroadcastHashJoin") >= 1, plan[:800]
    assert _count(plan, "Window") == 0, plan[:800]
    assert _count(plan, "SortMergeJoin") == 0, plan[:800]


def test_rrf_bulk_windows_all_partitioned_by_query(spark):
    """Bulk RRF scale gate (VERDICT r6 item 5): every Window in the fused
    plan — rank assignment per system AND the final per-query top-n cut —
    is partitioned by query_id; a global single-partition window would
    serialize the whole evaluation set onto one task."""
    from marie_ai_spark.operators.similarity import rrf_fuse_bulk

    lex = spark.createDataFrame(
        [("a", 1, 9.0), ("a", 2, 5.0), ("b", 2, 7.0)],
        "query_id string, doc_id long, s double",
    )
    sem = spark.createDataFrame(
        [("a", 2, 0.9), ("b", 5, 0.7)],
        "query_id string, doc_id long, c double",
    )
    plan = _plan(rrf_fuse_bulk([lex, sem], ["lex", "sem"], topn=3))
    assert _count(plan, "Window") >= 3, plan[:800]
    specs = re.findall(r"windowspecdefinition\(([^,]+)", plan)
    assert specs, plan[:800]
    for first_arg in specs:
        assert "query_id" in first_arg, (first_arg, plan[:800])
