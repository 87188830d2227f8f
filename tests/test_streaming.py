"""Structured Streaming: incremental exactly-once extraction with
Trigger.AvailableNow across two file-arrival batches, and the watermarked
windowed rollup."""

import pytest

from pyspark.sql import functions as F

from marie_ai_spark.sources.transcripts import gen_pandas
from marie_ai_spark.streaming.incremental import (
    stream_extract,
    streaming_kind_counts,
)


@pytest.fixture(scope="module")
def dirs(tmp_path_factory):
    root = tmp_path_factory.mktemp("stream")
    return str(root / "in"), str(root / "out"), str(root / "ckpt")


def test_incremental_exactly_once(spark, dirs):
    inp, out, ckpt = dirs
    batch1 = gen_pandas(40, seed=1)
    batch2 = gen_pandas(40, seed=2, conv_offset=1000)

    spark.createDataFrame(batch1).write.mode("append").parquet(inp)
    stream_extract(spark, inp, out, ckpt)
    got1 = spark.read.parquet(out)
    assert got1.count() == len(batch1)

    # second invocation with no new data: no duplicates
    stream_extract(spark, inp, out, ckpt)
    assert spark.read.parquet(out).count() == len(batch1)

    # new files land -> only the delta is processed
    spark.createDataFrame(batch2).write.mode("append").parquet(inp)
    stream_extract(spark, inp, out, ckpt)
    final = spark.read.parquet(out)
    assert final.count() == len(batch1) + len(batch2)
    assert (
        final.groupBy("conv_id", "turn_idx").count().filter("count > 1").count()
        == 0
    )


def test_streaming_windowed_rollup_matches_batch(spark, dirs):
    inp, _out, _ckpt = dirs
    from marie_ai_spark.sources.transcripts import TRANSCRIPTS_DDL

    stream = spark.readStream.schema(TRANSCRIPTS_DDL).parquet(inp)
    agg = streaming_kind_counts(stream, window="1 hour", watermark="2 hours")
    q = (
        agg.writeStream.format("memory")
        .queryName("kind_counts")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql(
        "select role, sum(n_turns) as n from kind_counts group by role"
    ).collect()
    # append mode emits only watermark-closed windows; compare against the
    # batch rollup restricted to the same closed windows
    batch = spark.read.parquet(inp)
    max_ts = batch.agg(F.max("ts")).first()[0]
    closed = batch.filter(
        F.window("ts", "1 hour")["end"]
        <= F.lit(max_ts) - F.expr("interval 2 hours")
    )
    want = {
        r.role: r.n
        for r in closed.groupBy("role").agg(F.count("*").alias("n")).collect()
    }
    assert {r.role: r.n for r in got} == want


def test_stateful_conversation_progress(spark, tmp_path):
    """applyInPandasWithState: per-conversation running state across two
    micro-batches with checkpointed offsets."""
    from marie_ai_spark.sources.transcripts import TRANSCRIPTS_DDL
    from marie_ai_spark.streaming.stateful import conversation_progress

    inp = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "state_out")
    b1 = gen_pandas(15, seed=4)
    spark.createDataFrame(b1).write.mode("append").parquet(inp)

    def drain():
        # foreachBatch parquet sink: supports checkpoint recovery (memory
        # sink does not), so state carries across query restarts
        stream = spark.readStream.schema(TRANSCRIPTS_DDL).parquet(inp)

        def sink(batch_df, batch_id):
            batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
                "append"
            ).parquet(out)

        q = (
            conversation_progress(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        pdf = spark.read.parquet(out).toPandas()
        latest = pdf.sort_values(["batch_id", "n_turns"]).groupby("conv_id").last()
        return {
            cid: (r.n_turns, r.max_turn, r.n_chars)
            for cid, r in latest.iterrows()
        }

    got1 = drain()
    want1 = b1.groupby("conv_id").agg(
        n=("turn_idx", "size"), mx=("turn_idx", "max"),
        ch=("text", lambda s: sum(len(x) for x in s)),
    )
    for cid, row in want1.iterrows():
        assert got1[cid] == (row.n, row.mx, row.ch), cid

    # second batch: more turns for the same conversations accumulate state
    b2 = gen_pandas(15, seed=4).assign(
        turn_idx=lambda d: (d.turn_idx + 1000).astype("int32")
    )
    spark.createDataFrame(b2).write.mode("append").parquet(inp)
    got2 = drain()
    for cid, row in want1.iterrows():
        assert got2[cid][0] == 2 * row.n  # state carried across batches
        assert got2[cid][1] >= 1000


def test_streaming_dedup_drops_repeats(spark, tmp_path):
    """Duplicate payloads inside the watermark horizon are emitted once;
    distinct payloads all pass (foreachBatch sink, availableNow)."""
    import pandas as pd

    from marie_ai_spark.sources.transcripts import TRANSCRIPTS_DDL
    from marie_ai_spark.streaming.incremental import streaming_dedup

    inp = str(tmp_path / "in")
    outdir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    base = gen_pandas(20, seed=3)
    dup = base.head(8).copy()  # re-ingest the same 8 payloads
    spark.createDataFrame(pd.concat([base, dup])).write.parquet(inp)

    src = spark.readStream.schema(TRANSCRIPTS_DDL).parquet(inp)
    deduped = streaming_dedup(src)

    def sink(batch_df, _bid):
        batch_df.write.mode("append").parquet(outdir)

    (
        deduped.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    got = spark.read.parquet(outdir).toPandas()
    # every DISTINCT fingerprint appears exactly once
    import hashlib, re as _re

    def fp(t):
        return hashlib.md5(_re.sub(r"\s+", " ", t.strip()).lower().encode()).hexdigest()

    want_fps = {fp(t) for t in base.text}
    got_fps = [fp(t) for t in got.text]
    assert sorted(set(got_fps)) == sorted(want_fps)
    assert len(got_fps) == len(set(got_fps))


def test_streaming_pii_scrub_matches_batch(spark, tmp_path):
    """The curation map stages are stateless column transforms, so they
    run unchanged under Structured Streaming: an AvailableNow pass of
    scrub_pii over a parquet stream must equal the batch result row for
    row (the pattern for running corpus hygiene incrementally as new
    shards land)."""
    from marie_ai_spark.operators.curation import gen_pii_docs, scrub_pii

    inp = str(tmp_path / "pii_in")
    gen_pii_docs(spark, 120, seed=3).write.parquet(inp)

    batch = {
        r.doc_id: (r.clean_text, r.n_pii)
        for r in scrub_pii(spark.read.parquet(inp)).collect()
    }
    src = spark.readStream.schema("doc_id long, text string").parquet(inp)
    q = (
        scrub_pii(src)
        .writeStream.format("memory")
        .queryName("pii_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.doc_id: (r.clean_text, r.n_pii)
        for r in spark.sql("SELECT * FROM pii_stream").collect()
    }
    assert got == batch and len(got) == 120


def test_streaming_media_decode_matches_batch(spark, tmp_path):
    """The Arrow-batched media decode runs unchanged under Structured
    Streaming (mapInPandas is streaming-compatible): availableNow over a
    parquet media table produces exactly the batch decode's rows — the
    incremental-ingest shape for a continuously arriving asset feed."""
    from marie_ai_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_media,
        gen_media,
    )

    inp = str(tmp_path / "media")
    gen_media(spark, n_assets=45, seed=5).write.parquet(inp)

    batch = {tuple(r) for r in decode_media(spark.read.parquet(inp)).collect()}

    src = spark.readStream.schema(MEDIA_SCHEMA).parquet(inp)
    q = (
        decode_media(src)
        .writeStream.format("memory")
        .queryName("media_decoded")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {tuple(r) for r in spark.sql("select * from media_decoded").collect()}
    assert got == batch and len(got) == 45


def test_contamination_flag_agrees_with_join_form(spark):
    """The streaming-compatible literal-set contamination flag must mark
    exactly the docs contaminated_docs' aggregation join flags."""
    from marie_ai_spark.operators.curation import (
        benchmark_shingles,
        contaminated_docs,
        contamination_flag,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 7 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    corpus = docs.filter(F.col("doc_id") % 7 != 0)
    via_join = {
        r.doc_id
        for r in contaminated_docs(corpus, bench, n=13)
        .select("doc_id").distinct().collect()
    }
    shingles = benchmark_shingles(bench, n=13)
    assert shingles, "benchmark slice produced no shingles"
    flagged = contamination_flag(corpus, shingles, n=13)
    via_flag = {
        r.doc_id for r in flagged.filter("contaminated").collect()
    }
    assert via_flag == via_join and via_join
    assert flagged.count() == corpus.count()  # flag never drops rows


def test_streaming_curation_funnel_matches_batch(spark, tmp_path):
    """q_curation_pipeline's stages under streaming, in the shape a
    continuously-ingesting corpus would run them: the stateless stages
    (stratified sample -> decontamination flag -> PII scrub -> held-out
    SPLIT assignment) drain incrementally under AvailableNow across TWO
    file-arrival waves into a parquet sink; the corpus-level composition
    stage (per-source cap, ordering-dependent — not expressible on an
    unbounded stream) then runs as the periodic batch job over the
    ingested table. The end state must equal the all-batch funnel over
    the full input row for row — including the split column (hash_split
    is a pure function of (key, salt), so arrival order cannot move a
    document between splits; VERDICT r6 item 8)."""
    from marie_ai_spark.operators.curation import (
        benchmark_shingles,
        contamination_flag,
        gen_pii_docs,
        per_source_cap,
        scrub_pii,
        stratified_sample,
    )
    from marie_ai_spark.operators.split import hash_split

    inp = str(tmp_path / "in")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    # PII-bearing docs spread over sources/langs; two arrival waves
    base = gen_pii_docs(spark, 240, seed=11).select(
        "doc_id", "text",
        F.concat(F.lit("s"), (F.col("doc_id") % 5).cast("string")).alias("source"),
        F.when(F.col("doc_id") % 3 == 0, "en").otherwise("de").alias("lang"),
    )
    bench = base.filter(F.col("doc_id") % 40 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    shingles = benchmark_shingles(bench, n=5)

    def funnel(df):
        sampled = stratified_sample(
            df, "lang", {"en": 1.0, "de": 0.6}, "doc_id"
        )
        clean = contamination_flag(sampled, shingles, n=5).filter(
            ~F.col("contaminated")
        ).drop("contaminated")
        scrubbed = scrub_pii(clean, id_col="doc_id").join(
            clean.select("doc_id", "source"), "doc_id"
        )
        return hash_split(
            scrubbed, "doc_id",
            {"train": 0.9, "val": 0.05, "test": 0.05}, salt="r7",
        )

    def drain():
        src = spark.readStream.schema(
            "doc_id long, text string, source string, lang string"
        ).parquet(inp)
        q = (
            funnel(src)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    base.filter(F.col("doc_id") < 120).write.parquet(inp)
    drain()
    base.filter(F.col("doc_id") >= 120).write.mode("append").parquet(inp)
    drain()

    capped_stream = per_source_cap(
        spark.read.parquet(sink), "source", cap=12, key_col="doc_id"
    )
    got = {tuple(r) for r in capped_stream.collect()}

    batch_funnel = funnel(base)
    capped_batch = per_source_cap(
        batch_funnel, "source", cap=12, key_col="doc_id"
    )
    want = {tuple(r) for r in capped_batch.select(*capped_stream.columns).collect()}
    assert got == want and len(got) > 20
    # the split column survived the cap and is non-degenerate
    si = capped_stream.columns.index("split")
    assert {t[si] for t in got} >= {"train"} and len({t[si] for t in got}) >= 2


def test_streaming_pretrained_classify_matches_batch(spark, tmp_path):
    """The train/apply story under streaming: both pretrained classifiers
    (language-ID argmax, fluency coverage) run their APPLY stage on an
    unbounded stream via the dictionary-pattern stateless UDFs. The batch
    apply must equal the DuckDB oracle of the fused train+apply query
    over the same documents (same top_k), and the availableNow drain
    must equal the batch apply row for row — including the integer
    scores and the HALF_UP-rounded fraction."""
    import duckdb

    import __spark_entry__ as entrymod
    from marie_ai_spark.operators.textstats import (
        fluency_classify_stream,
        lang_id_classify_stream,
        lang_profile_table,
    )

    docs_path = "/root/testdata/sf0.001/documents.parquet"
    docs = spark.read.parquet(docs_path)
    lang_rows = [r.asDict() for r in lang_profile_table(docs, top_k=50).collect()]
    flu_rows = [r.asDict()
                for r in lang_profile_table(docs, top_k=200).collect()]

    # batch parity: dictionary UDF == DuckDB oracle (q_lang_id trains at
    # top_k=50, q_fluency at top_k=200)
    oracles = entrymod.oracle_sql()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{docs_path}'")
    want_lang = set(con.sql(oracles["q_lang_id"]).fetchall())
    got_lang = {tuple(r)
                for r in lang_id_classify_stream(docs, lang_rows).collect()}
    assert got_lang == want_lang and got_lang

    want_flu = set(con.sql(oracles["q_fluency"]).fetchall())
    got_flu = {tuple(r)
               for r in fluency_classify_stream(docs, flu_rows).collect()}
    assert got_flu == want_flu and got_flu

    # streaming parity: availableNow drain equals batch (file stream
    # sources need a DIRECTORY, so stage the table into one)
    stream_dir = str(tmp_path / "docs_stream")
    docs.write.parquet(stream_dir)
    src = spark.readStream.schema(docs.schema).parquet(stream_dir)
    for name, fn in (
        ("lid_stream", lambda s: lang_id_classify_stream(s, lang_rows)),
        ("flu_stream", lambda s: fluency_classify_stream(s, flu_rows)),
    ):
        q = (
            fn(src)
            .writeStream.format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    got_s_lang = {tuple(r)
                  for r in spark.sql("select * from lid_stream").collect()}
    got_s_flu = {tuple(r)
                 for r in spark.sql("select * from flu_stream").collect()}
    assert got_s_lang == want_lang
    assert got_s_flu == want_flu


def test_streaming_bm25_apply_matches_batch(spark, tmp_path):
    """BM25's train/apply split (round 6): bm25_train_stats pins
    (N, avgdl, per-term df); bm25_score_stream scores statelessly. The
    matched rows must be BIT-EQUAL to bm25_topk over the whole corpus
    (same fold order, same JVM arithmetic), on batch AND under an
    availableNow drain across two file waves."""
    from marie_ai_spark.operators.textstats import (
        bm25_score_stream,
        bm25_topk,
        bm25_train_stats,
    )

    terms = ["spark", "merge", "window", "customer", "zzz_absent_term"]
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    n = docs.count()
    stats = bm25_train_stats(docs, terms)
    assert stats["df"]["zzz_absent_term"] == 0

    want = {
        (r.doc_id, r.bm25)
        for r in bm25_topk(docs, terms, k=n).collect()
    }
    got = {
        (r.doc_id, r.bm25)
        for r in bm25_score_stream(docs, stats)
        .filter("matched")
        .collect()
    }
    assert got == want and got  # bit-equal scores, same doc set

    # unmatched docs score exactly 0.0 and are the complement
    scored = bm25_score_stream(docs, stats)
    assert scored.count() == n
    assert scored.filter("NOT matched AND bm25 != 0.0").count() == 0

    # availableNow parity across two arrival waves
    stream_dir = str(tmp_path / "docs_stream")
    half = docs.filter(F.col("doc_id") % 2 == 0)
    other = docs.filter(F.col("doc_id") % 2 == 1)
    half.write.mode("append").parquet(stream_dir)
    other.write.mode("append").parquet(stream_dir)
    src = spark.readStream.schema(docs.schema).parquet(stream_dir)
    q = (
        bm25_score_stream(src, stats)
        .filter("matched")
        .writeStream.format("memory")
        .queryName("bm25_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got_s = {
        (r.doc_id, r.bm25)
        for r in spark.sql("select * from bm25_stream").collect()
    }
    assert got_s == want


def test_streaming_source_quota_admission(spark, tmp_path):
    """Stateful per-source quota: cap admissions across micro-batches,
    md5-deterministic within a batch, counter state carried by the
    checkpointed state store."""
    import hashlib

    from marie_ai_spark.streaming.quota import source_quota

    inp = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def drain():
        stream = spark.readStream.schema("doc_id long, source string").parquet(inp)

        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out)

        q = (
            source_quota(stream, cap=6)
            .writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out).collect()

    wave1 = [(i, "a") for i in range(10)] + [(i, "b") for i in range(3)]
    spark.createDataFrame(wave1, "doc_id long, source string").write.mode(
        "append"
    ).parquet(inp)
    got1 = drain()
    by_src = {}
    for r in got1:
        by_src.setdefault(r.source, set()).add(r.doc_id)
    assert len(by_src["a"]) == 6  # capped
    assert by_src["b"] == {0, 1, 2}  # under cap: all admitted
    # within-batch priority = (md5(doc_id), doc_id), same as per_source_cap
    pr = sorted(range(10), key=lambda d: (hashlib.md5(str(d).encode()).hexdigest(), d))
    assert by_src["a"] == set(pr[:6])

    # wave 2: 'a' is already full -> zero admissions; 'b' admits the rest
    wave2 = [(i, "a") for i in range(10, 20)] + [(3, "b"), (4, "b")]
    spark.createDataFrame(wave2, "doc_id long, source string").write.mode(
        "append"
    ).parquet(inp)
    got2 = drain()
    new = [r for r in got2 if r.doc_id not in by_src.get(r.source, set())]
    assert {(r.source, r.doc_id) for r in new} == {("b", 3), ("b", 4)}
    b_orders = sorted(r.admit_order for r in got2 if r.source == "b")
    assert b_orders == [1, 2, 3, 4, 5]  # ordinal continues across batches
    assert sum(1 for r in got2 if r.source == "a") == 6  # still capped


def test_streaming_embedding_compression_matches_batch(spark, tmp_path):
    """quantize_int8 and hash_project are pure per-row maps, so applying
    them on streaming ingest (availableNow across two file waves) must be
    BIT-EQUAL to the batch result over the union — the same
    train-nothing/apply-on-ingest contract as the pretrained
    classifiers. hash_project and binarize_embeddings read d from the
    vectors themselves, so a stream needs no dimensionality argument."""
    from marie_ai_spark.operators.similarity import (
        binarize_embeddings,
        hash_project,
        quantize_int8,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")

    want_q = {
        (r.vec_id, r.scale, tuple(r.qembedding))
        for r in quantize_int8(emb).collect()
    }
    out_dims = (8, 128)
    want_p = {
        o: {
            (r.vec_id, tuple(r.projected))
            for r in hash_project(emb, out_dim=o, seed=1).collect()
        }
        for o in out_dims
    }
    want_b = {
        (r.vec_id, tuple(r.bits))
        for r in binarize_embeddings(emb).collect()
    }

    stream_dir = str(tmp_path / "emb_stream")
    emb.filter(F.col("vec_id") % 2 == 0).write.mode("append").parquet(
        stream_dir
    )
    emb.filter(F.col("vec_id") % 2 == 1).write.mode("append").parquet(
        stream_dir
    )
    src = spark.readStream.schema(emb.schema).parquet(stream_dir)
    for name, df in (
        ("quant_stream", quantize_int8(src)),
        *(
            (f"proj{o}_stream", hash_project(src, out_dim=o, seed=1))
            for o in out_dims
        ),
        ("bits_stream", binarize_embeddings(src)),
    ):
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    got_q = {
        (r.vec_id, r.scale, tuple(r.qembedding))
        for r in spark.sql(
            "select vec_id, scale, qembedding from quant_stream"
        ).collect()
    }
    got_p = {
        o: {
            (r.vec_id, tuple(r.projected))
            for r in spark.sql(
                f"select vec_id, projected from proj{o}_stream"
            ).collect()
        }
        for o in out_dims
    }
    got_b = {
        (r.vec_id, tuple(r.bits))
        for r in spark.sql(
            "select vec_id, bits from bits_stream"
        ).collect()
    }
    assert got_q == want_q and got_q
    for o in out_dims:
        assert got_p[o] == want_p[o] and got_p[o], o
    assert got_b == want_b and got_b
