"""Idempotent mid-run resume against the lineage table (FIXTURES.md §4):
run with an injected stop after K partitions, re-run with the same run_id,
assert exactly one output row per (conv_id, turn_idx) and that the first K
partitions were not reprocessed."""

import pathlib

import pandas as pd
import pytest

from pyspark.sql import functions as F

from marie_ai_spark.plans.pipeline import read_extracted, run_extract
from marie_ai_spark.sources.transcripts import gen_pandas

N_BUCKETS = 8
K = 3


@pytest.fixture(scope="module")
def paths(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("resume")
    inp = str(root / "transcripts")
    out = str(root / "out")
    spark.createDataFrame(gen_pandas(100, seed=7)).write.parquet(inp)
    return inp, out


def test_resume_no_duplicates(spark, paths):
    inp, out = paths
    n_input = spark.read.parquet(inp).count()

    r1 = run_extract(spark, inp, out, run_id="run-a", n_buckets=N_BUCKETS,
                     max_buckets=K)
    assert r1["processed"] == K

    lin1 = spark.read.parquet(f"{out}/lineage").toPandas()
    assert set(lin1.partition_id) == set(range(K)) and (lin1.status == "done").all()

    r2 = run_extract(spark, inp, out, run_id="run-a", n_buckets=N_BUCKETS)
    assert r2["skipped"] == K
    assert r2["processed"] == N_BUCKETS - K

    ext = read_extracted(spark, out)
    assert ext.count() == n_input
    dups = (
        ext.groupBy("conv_id", "turn_idx")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dups == 0

    lin2 = spark.read.parquet(f"{out}/lineage").toPandas()
    # first K partitions appear exactly once -> not reprocessed on resume
    counts = lin2.groupby("partition_id").size()
    assert (counts == 1).all() and len(counts) == N_BUCKETS
    assert int(lin2.rows_out.sum()) == n_input
    assert (lin2.rows_in.values == lin2.rows_out.values).all()

    # third invocation: nothing left to do
    r3 = run_extract(spark, inp, out, run_id="run-a", n_buckets=N_BUCKETS)
    assert r3["processed"] == 0 and r3["skipped"] == N_BUCKETS


def test_bucket_checksums_deterministic(spark, paths):
    inp, out = paths
    lin = spark.read.parquet(f"{out}/lineage").toPandas()
    # recompute checksums from the final extracted table; must match lineage
    ext = spark.read.parquet(f"{out}/extracted")
    chk = (
        ext.groupBy("_bucket")
        .agg(
            F.sum(F.xxhash64("conv_id", "turn_idx").cast("decimal(38,0)"))
            .cast("string")
            .alias("c")
        )
        .toPandas()
        .set_index("_bucket")["c"]
    )
    lin_chk = lin.set_index("partition_id")["checksum"]
    assert {int(k): v for k, v in chk.items()} == {
        int(k): v for k, v in lin_chk.items()
    }


def test_failed_attempt_recorded_then_retry_succeeds(spark, tmp_path):
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    spark.createDataFrame(gen_pandas(30, seed=21)).write.parquet(inp)

    bad_rules = [{
        "rule_id": "boom", "doc_kind": "plain", "kind": "regex",
        "start_expr": "(unclosed", "stop_expr": None,
        "selection_type": "NEGATION", "label": "x",
    }]
    with pytest.raises(Exception):
        run_extract(spark, inp, out, run_id="r-f", n_buckets=4, rules=bad_rules)

    lin = spark.read.parquet(f"{out}/lineage").toPandas()
    assert (lin.status == "failed").all()
    assert (lin.attempt == 1).all()

    # retry with good rules: all buckets reprocessed, attempt=2, no dups
    r = run_extract(spark, inp, out, run_id="r-f", n_buckets=4)
    assert r["processed"] == 4
    lin2 = spark.read.parquet(f"{out}/lineage").toPandas()
    done = lin2[lin2.status == "done"]
    assert (done.attempt == 2).all() and len(done) == 4
    n_in = spark.read.parquet(inp).count()
    ext = read_extracted(spark, out)
    assert ext.count() == n_in


def test_merge_extracted_new_wins(spark, tmp_path):
    from marie_ai_spark.operators.extract import extract_transcripts
    from marie_ai_spark.plans.pipeline import merge_extracted

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    spark.createDataFrame(gen_pandas(25, seed=9)).write.parquet(inp)
    run_extract(spark, inp, out, run_id="m", n_buckets=4)
    before = read_extracted(spark, out).toPandas()

    # re-extract two turns with different rules (no cutpoints) as updates
    upd_src = spark.createDataFrame(gen_pandas(25, seed=9)).filter(
        "conv_id = 'conv-00000000'"
    )
    updates = extract_transcripts(upd_src, rules=[]).withColumn(
        "clean_text", F.concat(F.lit("UPDATED "), F.col("clean_text"))
    )
    n_buckets_touched = merge_extracted(spark, out, updates, n_buckets=4)
    assert 1 <= n_buckets_touched <= 4

    after = read_extracted(spark, out).toPandas()
    assert len(after) == len(before)  # upsert, no dup keys
    got = after[after.conv_id == "conv-00000000"]
    assert got.clean_text.str.startswith("UPDATED").all()  # new wins
    other = after[after.conv_id != "conv-00000000"].reset_index(drop=True)
    other_before = before[before.conv_id != "conv-00000000"].reset_index(drop=True)
    assert (other.clean_text.values == other_before.clean_text.values).all()


def test_merge_differential_vs_golden_replay(spark, tmp_path):
    """MERGE-semantics differential: a random SEQUENCE of upsert batches
    applied through merge_extracted (bucket-rewrite emulation of Iceberg
    MERGE INTO) must equal a pure-python last-write-wins replay over the
    same batches — inserts of new keys, updates of existing keys, and
    repeated touches of the same key across batches. This pins the
    emulated backend to the transactional semantics the Iceberg jar would
    provide (jar unavailable offline — constraint re-verified this round)."""
    import random

    from marie_ai_spark.plans.pipeline import merge_extracted

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    spark.createDataFrame(gen_pandas(20, seed=5)).write.parquet(inp)
    run_extract(spark, inp, out, run_id="g", n_buckets=4)

    base_df = read_extracted(spark, out)
    cols = list(base_df.columns)
    # collect() keeps python-native cells (Rows/lists/datetime), which
    # createDataFrame round-trips exactly under the strict schema
    golden = {
        (r["conv_id"], r["turn_idx"]): tuple(r[c] for c in cols)
        for r in base_df.collect()
    }
    rng = random.Random(11)
    keys = sorted(golden)
    for step in range(3):
        batch = []
        # update a random sample of existing keys
        for cid, tix in rng.sample(keys, 7):
            row = list(golden[(cid, tix)])
            row[cols.index("clean_text")] = f"upd-{step}-{cid}-{tix}"
            batch.append(tuple(row))
        # insert brand-new keys (fresh conv ids hash into arbitrary buckets)
        for j in range(3):
            row = list(golden[keys[0]])
            row[cols.index("conv_id")] = f"new-{step}-{j}"
            row[cols.index("turn_idx")] = 0
            row[cols.index("clean_text")] = f"ins-{step}-{j}"
            batch.append(tuple(row))
        upd = spark.createDataFrame(batch, schema=read_extracted(spark, out).schema)
        merge_extracted(spark, out, upd, n_buckets=4)
        for row in batch:
            golden[(row[cols.index("conv_id")], row[cols.index("turn_idx")])] = row

    got = {
        (r["conv_id"], r["turn_idx"]): tuple(r[c] for c in cols)
        for r in read_extracted(spark, out).collect()
    }
    assert set(got) == set(golden)
    diffs = {k for k in got if got[k] != golden[k]}
    assert not diffs, sorted(diffs)[:5]


def _file_census(root):
    """(relative path, size) of every data file under the extracted dir."""
    import os

    out = []
    for dirpath, dirs, files in os.walk(root):
        dirs[:] = [d for d in dirs if not d.startswith(".")]  # commit metadata
        for f in files:
            if f.startswith(("_", ".")):
                continue
            p = os.path.join(dirpath, f)
            out.append((os.path.relpath(p, root), os.path.getsize(p)))
    return sorted(out)


def test_failed_write_is_atomic_per_table(spark, tmp_path):
    """Crash-consistency half 1: a write job that dies mid-flight (some
    tasks already wrote their temp files) must leave the committed table
    byte-identical — the dynamic-partition-overwrite commit is
    all-or-nothing at job level, which is the parquet-seam analog of an
    Iceberg snapshot commit."""
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    spark.createDataFrame(gen_pandas(40, seed=31)).write.parquet(inp)
    run_extract(spark, inp, out, run_id="ok", n_buckets=4)
    before_rows = read_extracted(spark, out).toPandas()
    before_files = _file_census(f"{out}/extracted")

    bad_rules = [{
        "rule_id": "boom", "doc_kind": "plain", "kind": "regex",
        "start_expr": "(unclosed", "stop_expr": None,
        "selection_type": "NEGATION", "label": "x",
    }]
    with pytest.raises(Exception):
        run_extract(spark, inp, out, run_id="crash", n_buckets=4,
                    rules=bad_rules)

    # table untouched: same files, same bytes, same rows
    assert _file_census(f"{out}/extracted") == before_files
    after_rows = read_extracted(spark, out).toPandas()
    assert after_rows.equals(before_rows)
    # the failed attempt is on record for the crashed run
    lin = spark.read.parquet(f"{out}/lineage").toPandas()
    assert set(lin[lin.run_id == "crash"].status) == {"failed"}


def test_crash_between_bucket_commits_recovers(spark, tmp_path):
    """Crash-consistency half 2: the one true non-atomicity window of the
    parquet seam — a kill DURING commitJob can leave a SUBSET of bucket
    dirs replaced with no lineage row. Because lineage is appended only
    after the whole write lands, resume re-processes every un-done bucket
    and the dynamic overwrite replaces any half-committed dir: the final
    table equals the crash-free result, no duplicate or missing turns."""
    import os

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    crash_free = str(tmp_path / "golden")
    spark.createDataFrame(gen_pandas(60, seed=33)).write.parquet(inp)
    run_extract(spark, inp, crash_free, run_id="g", n_buckets=4)
    golden = read_extracted(spark, crash_free).toPandas()

    # run 1 completes 2 of 4 buckets, then "crashes mid-commit" of the
    # rest: one pending bucket dir receives partial files (garbage rows
    # masquerading as committed output), with NO lineage row
    run_extract(spark, inp, out, run_id="j", n_buckets=4, max_buckets=2)
    done = {
        r.partition_id
        for r in spark.read.parquet(f"{out}/lineage").collect()
    }
    pending = [b for b in range(4) if b not in done]
    victim = pending[0]
    part_dir = f"{out}/extracted/_bucket={victim}"
    os.makedirs(part_dir, exist_ok=True)
    spark.createDataFrame(
        [("conv-GARBAGE", 0, "user", None, "plain", "half-written", [], 1)],
        "conv_id string, turn_idx int, role string, ts timestamp, "
        "doc_kind string, clean_text string, "
        "spans array<struct<start:int,stop:int,label:string,rule_id:string>>, "
        "n_lines int",
    ).write.mode("append").parquet(part_dir)

    # resume processes every bucket without a done row, replacing the
    # half-committed dir wholesale
    r = run_extract(spark, inp, out, run_id="j", n_buckets=4)
    assert r["processed"] == 2 and r["skipped"] == 2
    final = read_extracted(spark, out).toPandas()
    assert "conv-GARBAGE" not in set(final.conv_id)
    assert len(final) == len(golden)
    assert final.equals(golden)


def test_compaction_shrinks_files_preserves_data(spark, tmp_path):
    """Small-file compaction: a run forced to emit many tiny files per
    bucket compacts to one file per bucket, with per-bucket rows +
    checksums provably unchanged, a 'compacted' lineage record, and the
    resume machinery undisturbed."""
    from marie_ai_spark.plans.pipeline import compact_extracted

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    spark.createDataFrame(gen_pandas(80, seed=44)).write.parquet(inp)
    # tiny maxRecordsPerFile -> many small files per bucket dir
    run_extract(spark, inp, out, run_id="c", n_buckets=4,
                max_records_per_file=20)
    before = read_extracted(spark, out).toPandas()
    census_before = _file_census(f"{out}/extracted")
    assert len(census_before) > 4, "need multiple files per bucket to compact"

    r = compact_extracted(spark, out, min_files=2)
    assert r["buckets_compacted"] == 4
    assert r["files_after"] == 4  # one file per bucket
    assert r["files_after"] < r["files_before"]

    after = read_extracted(spark, out).toPandas()
    assert after.equals(before)  # byte-for-byte identical data
    lin = spark.read.parquet(f"{out}/lineage").toPandas()
    comp = lin[lin.status == "compacted"]
    assert len(comp) == 4 and (comp.rows_in == comp.rows_out).all()
    # a second compaction is a no-op (already 1 file per bucket)
    r2 = compact_extracted(spark, out, min_files=2)
    assert r2["buckets_compacted"] == 0
    # resume still sees the original run as complete
    r3 = run_extract(spark, inp, out, run_id="c", n_buckets=4)
    assert r3["processed"] == 0 and r3["skipped"] == 4


class _Kill(BaseException):
    """A driver dying mid-commit: `except Exception` cleanup does not run."""


def _kill_after(monkeypatch, name, nth=1):
    """Make the commit module's step `name` die right after its nth call."""
    from marie_ai_spark.sources import commit

    real, calls = getattr(commit, name), []

    def wrapped(*a, **k):
        out = real(*a, **k)
        calls.append(1)
        if len(calls) == nth:
            raise _Kill(name)
        return out

    monkeypatch.setattr(commit, name, wrapped)


def _commit_debris(table):
    return [p.name for p in pathlib.Path(table).iterdir()
            if p.name.startswith((".stage-", ".trash-"))]


def test_compaction_verify_failure_leaves_live_table_untouched(
    spark, tmp_path, monkeypatch
):
    """If the staged rewrite fails verification, compaction must raise
    WITHOUT having deleted or replaced anything in the live table, and
    must clean up its staging dir (ADVICE r4: the old in-place overwrite
    verified only after the before-image was gone). The corruption is
    injected at the commit module's verify step: a staged data file is
    lost before the stage is read back."""
    import os

    import pytest

    import marie_ai_spark.plans.pipeline as P
    from marie_ai_spark.sources import commit

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    spark.createDataFrame(gen_pandas(60, seed=45)).write.parquet(inp)
    run_extract(spark, inp, out, run_id="v", n_buckets=4,
                max_records_per_file=20)
    before = read_extracted(spark, out).toPandas()
    census_before = _file_census(f"{out}/extracted")

    real = commit._verify

    def corrupt_staged(spark_, stage, *a):
        local = stage.removeprefix("file:")  # commit paths are URIs
        part = sorted(d for d in os.listdir(local) if "=" in d)[0]
        lost = sorted(f for f in os.listdir(f"{local}/{part}")
                      if f.endswith(".parquet"))[0]
        os.unlink(f"{local}/{part}/{lost}")
        return real(spark_, stage, *a)

    monkeypatch.setattr(commit, "_verify", corrupt_staged)
    with pytest.raises(RuntimeError, match="live table left untouched"):
        P.compact_extracted(spark, out, min_files=2)
    monkeypatch.setattr(commit, "_verify", real)

    # live table: identical data, identical file layout, no leftovers
    assert _file_census(f"{out}/extracted") == census_before
    assert read_extracted(spark, out).toPandas().equals(before)
    assert _commit_debris(f"{out}/extracted") == []


def test_compaction_crash_mid_swap_recovers(spark, tmp_path, monkeypatch):
    """A compaction killed after swapping its first bucket (claimed, so
    the rewrite is verified and committed) leaves the rest staged; the
    next compact_extracted() call rolls it forward first, the data is
    unchanged, every bucket is compacted and no debris is left."""
    from marie_ai_spark.plans.pipeline import compact_extracted

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    spark.createDataFrame(gen_pandas(60, seed=46)).write.parquet(inp)
    run_extract(spark, inp, out, run_id="w", n_buckets=4,
                max_records_per_file=20)
    before = read_extracted(spark, out).toPandas()

    _kill_after(monkeypatch, "_swap_in")
    with pytest.raises(_Kill):
        compact_extracted(spark, out, min_files=2)
    monkeypatch.undo()
    assert _commit_debris(f"{out}/extracted"), "the kill must leave a stage"

    r = compact_extracted(spark, out, min_files=2)
    assert r["buckets_compacted"] == 0  # the rolled-forward commit did it
    census = _file_census(f"{out}/extracted")
    assert sorted(p.split("/")[0] for p, _ in census) == [
        f"_bucket={b}" for b in range(4)
    ]
    assert read_extracted(spark, out).toPandas().equals(before)
    assert _commit_debris(f"{out}/extracted") == []


def test_read_extracted_repairs_interrupted_swap(spark, tmp_path, monkeypatch):
    """ADVICE r5: a reader arriving BETWEEN a mid-swap crash and the next
    commit must not silently see a table missing the in-flight bucket.
    read_extracted itself rolls the claimed version forward before
    reading."""
    from marie_ai_spark.plans.pipeline import compact_extracted

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    spark.createDataFrame(gen_pandas(60, seed=47)).write.parquet(inp)
    run_extract(spark, inp, out, run_id="rr", n_buckets=4,
                max_records_per_file=20)
    before = read_extracted(spark, out).toPandas()

    # killed mid-way through the second bucket's swap: its live dir is
    # in trash and its compacted copy still staged
    from marie_ai_spark.sources import commit

    real = commit._Fs.rename
    calls = []

    def rename(self, src, dst):
        real(self, src, dst)
        calls.append(dst)
        # 1: the claim record; 2-3: bucket 0's swap; 4: bucket 1 to trash
        if len(calls) == 4:
            raise _Kill("mid swap")

    monkeypatch.setattr(commit._Fs, "rename", rename)
    with pytest.raises(_Kill):
        compact_extracted(spark, out, min_files=2)
    monkeypatch.undo()
    live = tmp_path / "out" / "extracted" / calls[-1].rsplit("/", 1)[1]
    assert not live.exists()

    # plain read (no compaction in between) already repairs and is complete
    assert read_extracted(spark, out).toPandas().equals(before)
    assert live.exists()
    assert _commit_debris(f"{out}/extracted") == []


def test_run_extract_leaves_session_conf_unchanged(spark, tmp_path):
    """max_records_per_file caps that run's own write only: the session's
    spark.sql.files.maxRecordsPerFile must be what it was before, or
    every later write in the session (other tests' included) inherits
    the cap."""
    import pyarrow.parquet as pq

    key = "spark.sql.files.maxRecordsPerFile"
    before = spark.conf.get(key)
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    spark.createDataFrame(gen_pandas(30, seed=49)).write.parquet(inp)
    run_extract(spark, inp, out, run_id="conf", n_buckets=2,
                max_records_per_file=7)
    assert spark.conf.get(key) == before
    sizes = [pq.read_metadata(f"{out}/extracted/{p}").num_rows
             for p, _ in _file_census(f"{out}/extracted")]
    assert max(sizes) <= 7 and len(sizes) > 2


def test_resume_on_uri_out_dir(spark, tmp_path):
    """The lineage table is found through its Hadoop filesystem: with a
    `file://` URI as out_dir, a rerun of the same run_id finds every
    bucket done and processes none (an os-path check of the URI saw no
    table, so every rerun reprocessed every bucket)."""
    inp = str(tmp_path / "in")
    out = "file://" + str(tmp_path / "out")
    spark.createDataFrame(gen_pandas(30, seed=51)).write.parquet(inp)
    r1 = run_extract(spark, inp, out, run_id="uri", n_buckets=4)
    assert r1["processed"] == 4
    r2 = run_extract(spark, inp, out, run_id="uri", n_buckets=4)
    assert (r2["processed"], r2["skipped"]) == (0, 4)


def test_concurrent_disjoint_bucket_writers_converge(spark, tmp_path):
    """The safe subset of multi-writer use on the parquet seam (SURVEY
    §8.6): two run_extract jobs over DISJOINT bucket sets running at the
    same time (two threads, one session — each thread drives its own
    Spark jobs) must converge to exactly the sequential golden table,
    with complete lineage for both runs. Data writes commit disjoint
    partition dirs from per-job uuid staging; lineage appends rename
    uuid-unique files, so neither writer can clobber the other."""
    from concurrent.futures import ThreadPoolExecutor

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    golden_out = str(tmp_path / "golden")
    spark.createDataFrame(gen_pandas(120, seed=48)).write.parquet(inp)

    run_extract(spark, inp, golden_out, run_id="g", n_buckets=8)
    golden = read_extracted(spark, golden_out).toPandas()

    def job(run_id, buckets):
        return run_extract(
            spark, inp, out, run_id=run_id, n_buckets=8, buckets=buckets
        )

    with ThreadPoolExecutor(max_workers=2) as ex:
        fa = ex.submit(job, "wa", [0, 1, 2, 3])
        fb = ex.submit(job, "wb", [4, 5, 6, 7])
        ra, rb = fa.result(), fb.result()
    assert ra["processed"] == 4 and rb["processed"] == 4

    final = read_extracted(spark, out).toPandas()
    assert final.equals(golden)

    lin = spark.read.parquet(f"{out}/lineage").toPandas()
    done = lin[lin.status == "done"]
    assert set(zip(done.run_id, done.partition_id)) == (
        {("wa", b) for b in range(4)} | {("wb", b) for b in range(4, 8)}
    )
    # per-bucket checksums equal the golden run's (same content per bucket)
    glin = spark.read.parquet(f"{golden_out}/lineage").toPandas()
    gsum = dict(zip(glin.partition_id, glin.checksum))
    assert dict(zip(done.partition_id, done.checksum)) == gsum
    # both runs resume as complete; nothing reprocessed
    r2 = run_extract(spark, inp, out, run_id="wa", n_buckets=8,
                     buckets=[0, 1, 2, 3])
    assert r2["processed"] == 0 and r2["skipped"] == 4


def _ivf_fixture(spark, tmp_path, name):
    """Index over vec_id % 5 != 0 plus an update/insert batch (the
    q_ivf_upsert shape: negated %11 rows move cells, %5 rows are new)."""
    from marie_ai_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = similarity.train_ivf_centroids(emb, n_centroids=4, iters=3)
    path = str(tmp_path / name)
    similarity.ivf_write_index(
        emb.filter(F.col("vec_id") % 5 != 0), cents, path
    )
    neg = F.transform(F.col("embedding"), lambda x: -x).alias("embedding")
    batch = (
        emb.filter(F.col("vec_id") % 11 == 0)
        .select("vec_id", neg, "label")
        .unionByName(
            emb.filter(
                (F.col("vec_id") % 5 == 0) & (F.col("vec_id") % 11 != 0)
            ).select("vec_id", "embedding", "label")
        )
    )
    return path, batch


def _ivf_state(spark, path):
    return {
        (r.vec_id, r.cell)
        for r in spark.read.parquet(path).select("vec_id", "cell").collect()
    }


@pytest.mark.parametrize("crash", ["before_claim", "mid_swap", "before_done"])
def test_ivf_upsert_kill_mid_commit(spark, tmp_path, monkeypatch, crash):
    """VERDICT r6 item 2: a kill anywhere inside ivf_upsert's commit must
    leave the index either fully PRE-upsert (killed before the version is
    claimed: a read ignores the unclaimed stage, and the next commit reaps
    it) or fully POST-upsert (claimed: any indexed read rolls the verified
    stage forward), never part-old/part-new."""
    from marie_ai_spark.operators import similarity as S

    path, batch = _ivf_fixture(spark, tmp_path, "idx")
    gpath, gbatch = _ivf_fixture(spark, tmp_path, "golden")
    S.ivf_upsert(gbatch, gpath)
    golden = _ivf_state(spark, gpath)
    pre = _ivf_state(spark, path)
    assert pre != golden

    step, nth = {"before_claim": ("_verify", 1), "mid_swap": ("_swap_in", 2),
                 "before_done": ("_retire", 1)}[crash]
    _kill_after(monkeypatch, step, nth)
    with pytest.raises(_Kill):
        S.ivf_upsert(batch, path)
    monkeypatch.undo()

    # the crash left scratch state behind
    assert _commit_debris(path) or crash == "before_done"

    # restart: the indexed-read path repairs before serving
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = [float(x) for x in emb.filter(F.col("vec_id") == 1).first()["embedding"]]
    S.ivf_topk_indexed(spark, path, q, k=3, nprobe=4).collect()
    now = _ivf_state(spark, path)
    if crash == "before_claim":
        assert now == pre
        assert _commit_debris(path), "a read never reaps an unclaimed stage"
    else:
        assert now == golden
        assert not _commit_debris(path)

    # re-running the identical upsert converges to the golden end state
    S.ivf_upsert(batch, path)
    assert _ivf_state(spark, path) == golden
    assert not _commit_debris(path)


def test_recover_never_touches_unclaimed_stage(spark, tmp_path):
    """ADVICE r7/r8: recovery from the READ path must never delete an
    in-flight writer's scratch state. A stage that no commit record
    names (a writer still staging, or one that died before claiming)
    survives every recover and indexed read; the next successful commit
    reaps it, because a stage staged against an older version can never
    commit."""
    from marie_ai_spark.operators import similarity as S
    from marie_ai_spark.sources import commit

    path, batch = _ivf_fixture(spark, tmp_path, "idx")
    staging = tmp_path / "idx" / ".stage-0-feedc0de"
    (staging / "cell=0").mkdir(parents=True)
    (staging / "cell=0" / "part-0.parquet").write_bytes(b"in flight")
    before = _ivf_state(spark, path)
    assert commit.recover(spark, path) == 0
    S.ivf_topk_indexed(spark, path, [0.0] * 64, k=3, nprobe=4).collect()
    assert staging.exists(), "reader recovery must not touch live staging"
    assert _ivf_state(spark, path) == before
    S.ivf_upsert(batch, path)
    assert not staging.exists()
    assert not _commit_debris(path)
