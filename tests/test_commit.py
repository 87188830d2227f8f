"""The commit protocol (marie_ai_spark/sources/commit.py) under failure and
concurrency, for each of its three rewriting callers: compaction, merge
and the IVF upsert.

Crash matrix: a kill (a BaseException, so no cleanup runs, as in a dead
driver) is injected after every step of the module. Readers must then see
exactly the pre-state (kill before the claim) or the post-state (kill
after it), and rerunning the operation must converge to the post-state
with no `.stage-*` or `.trash-*` debris left.

Concurrency: two writers staged against the same version race for the
claim; one commits, the other raises CommitConflict and leaves no debris,
and rerunning the loser gives the state of both batches applied."""

import os
import shutil
import threading
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from marie_ai_spark.operators import similarity
from marie_ai_spark.operators.extract import extract_transcripts
from marie_ai_spark.plans.pipeline import (
    compact_extracted,
    merge_extracted,
    read_extracted,
    run_extract,
)
from marie_ai_spark.sources import commit
from marie_ai_spark.sources.transcripts import gen_pandas

N_BUCKETS = 4
DIM = 16
STEPS = ["after_stage", "after_verify", "after_claim", "mid_swap",
         "after_swap", "after_retire"]
PRE = {"after_stage", "after_verify"}


class Kill(BaseException):
    """The Spark driver process dying mid-commit: `except Exception`
    cleanup does not run."""


def inject(monkeypatch, step):
    def after(name, nth=1):
        real, calls = getattr(commit, name), []

        def wrapped(*a, **k):
            out = real(*a, **k)
            calls.append(1)
            if len(calls) == nth:
                raise Kill(step)
            return out

        monkeypatch.setattr(commit, name, wrapped)

    def before(name):
        def wrapped(*a, **k):
            raise Kill(step)

        monkeypatch.setattr(commit, name, wrapped)

    {
        "after_stage": lambda: after("_stage"),
        "after_verify": lambda: after("_verify"),
        "after_claim": lambda: after("_claim"),
        "mid_swap": lambda: after("_swap_in"),
        "after_swap": lambda: before("_retire"),
        "after_retire": lambda: after("_retire"),
    }[step]()


def debris(table):
    return sorted(n for n in os.listdir(table)
                  if n.startswith((".stage-", ".trash-")))


def census(table):
    """Data files per partition dir (names differ between runs)."""
    return {
        d: sum(not f.startswith((".", "_"))
               for f in os.listdir(f"{table}/{d}"))
        for d in os.listdir(table)
        if "=" in d
    }


@pytest.fixture(scope="module")
def base(spark, tmp_path_factory):
    """An extracted table with several files per bucket, and an IVF
    index over the vec_id % 5 != 0 embeddings."""
    root = tmp_path_factory.mktemp("commit_base")
    inp = str(root / "in")
    spark.createDataFrame(gen_pandas(40, seed=61)).write.parquet(inp)
    run_extract(spark, inp, str(root / "out"), run_id="b",
                n_buckets=N_BUCKETS, max_records_per_file=8)
    emb = embeddings(spark)
    cents = similarity.train_ivf_centroids(emb, n_centroids=4, iters=3)
    similarity.ivf_write_index(
        emb.filter(F.col("vec_id") % 5 != 0), cents, str(root / "idx")
    )
    return root


def updates(spark, inp, convs, tag):
    src = spark.read.parquet(inp).filter(F.col("conv_id").isin(convs))
    return extract_transcripts(src, rules=[]).withColumn(
        "clean_text", F.concat(F.lit(tag), F.col("clean_text"))
    )


def embeddings(spark):
    """300 seeded Gaussian vectors (vec_id, embedding, label), built from
    pandas so every scan is a local relation."""
    rng = np.random.default_rng(5)
    return spark.createDataFrame(
        pd.DataFrame({
            "vec_id": np.arange(300, dtype="int64"),
            "embedding": list(rng.normal(size=(300, DIM))),
            "label": np.arange(300, dtype="int32") % 3,
        }),
        "vec_id long, embedding array<double>, label int",
    )


def upsert_batch(spark, ids_mod):
    """Negated (mostly cell-moving) vec_id % ids_mod == 0 rows: updates,
    plus inserts for the % 5 == 0 ids the index does not hold."""
    emb = embeddings(spark).filter(F.col("vec_id") % ids_mod == 0)
    neg = F.transform(F.col("embedding"), lambda x: -x).alias("embedding")
    return emb.select("vec_id", neg, "label")


def ivf_state(spark, path):
    return sorted(
        (r.vec_id, r.cell)
        for r in spark.read.parquet(path).select("vec_id", "cell").collect()
    )


class Op:
    """One rewriting operation on a fresh copy of the base tables."""

    def __init__(self, spark, base, kind, root):
        self.spark, self.kind = spark, kind
        shutil.copytree(base, root)
        self.root = str(root)
        self.table = (f"{root}/idx" if kind == "upsert"
                      else f"{root}/out/extracted")

    def run(self):
        s, r = self.spark, self.root
        if self.kind == "compact":
            return compact_extracted(s, f"{r}/out", min_files=2)
        if self.kind == "merge":
            upd = updates(s, f"{r}/in", ["conv-00000001", "conv-00000002",
                                         "conv-00000005"], "UPD ")
            return merge_extracted(s, f"{r}/out", upd, n_buckets=N_BUCKETS)
        return similarity.ivf_upsert(upsert_batch(s, 7), self.table)

    def read(self):
        """What a reader sees (each reader rolls a claimed version forward)."""
        if self.kind == "upsert":
            q = [0.0] * DIM
            similarity.ivf_topk_indexed(self.spark, self.table, q, k=1,
                                        nprobe=4).collect()
            return ivf_state(self.spark, self.table)
        rows = read_extracted(self.spark, f"{self.root}/out").toPandas()
        # compaction keeps the rows: its post-state is one file per bucket
        return rows, census(self.table) if self.kind == "compact" else None


def same(kind, a, b):
    if kind == "upsert":
        return a == b
    return a[0].equals(b[0]) and a[1] == b[1]


@pytest.fixture(scope="module")
def states(spark, base, tmp_path_factory):
    """(pre, post) reader state for each operation, from crash-free runs."""
    out = {}
    for kind in ("compact", "merge", "upsert"):
        op = Op(spark, base, kind, tmp_path_factory.mktemp(kind) / "t")
        pre = op.read()
        op.run()
        out[kind] = (pre, op.read())
    return out


@pytest.mark.parametrize("kind", ["compact", "merge", "upsert"])
@pytest.mark.parametrize("step", STEPS)
def test_crash_after_each_step_leaves_pre_or_post_state(
    spark, base, states, tmp_path, monkeypatch, kind, step
):
    pre, post = states[kind]
    assert not same(kind, pre, post)
    op = Op(spark, base, kind, tmp_path / "t")
    inject(monkeypatch, step)
    with pytest.raises(Kill):
        op.run()
    monkeypatch.undo()

    assert same(kind, op.read(), pre if step in PRE else post)
    if step in PRE:
        # a reader never deletes a stage no claim names
        assert [n for n in debris(op.table) if n.startswith(".stage-")]
    else:
        assert debris(op.table) == []
    op.run()
    assert same(kind, op.read(), post)
    assert debris(op.table) == []


def test_unverified_stage_never_commits(spark, base, tmp_path, monkeypatch):
    """A stage that reads back different from what the write observed (a
    data file lost between write and verify) is deleted, the call raises,
    and the live table is untouched."""
    op = Op(spark, base, "merge", tmp_path / "t")
    before = op.read()
    real = commit._verify

    def lose_a_file(spark_, stage, *a):
        local = stage.removeprefix("file:")  # commit paths are URIs
        part = sorted(d for d in os.listdir(local) if "=" in d)[0]
        victim = sorted(f for f in os.listdir(f"{local}/{part}")
                        if f.endswith(".parquet"))[0]
        os.unlink(f"{local}/{part}/{victim}")
        return real(spark_, stage, *a)

    monkeypatch.setattr(commit, "_verify", lose_a_file)
    with pytest.raises(RuntimeError, match="live table left untouched"):
        op.run()
    monkeypatch.undo()
    assert same("merge", op.read(), before)
    assert debris(op.table) == []
    assert not os.path.exists(f"{op.table}/{commit.COMMITS}/1.json")


def _race(monkeypatch, jobs):
    """Run the jobs in two threads that both stage before either claims."""
    gate = threading.Barrier(len(jobs), timeout=300)
    real = commit._claim

    def claim(*a):
        gate.wait()
        return real(*a)

    monkeypatch.setattr(commit, "_claim", claim)
    with ThreadPoolExecutor(max_workers=len(jobs)) as ex:
        futures = [ex.submit(j) for j in jobs]
    monkeypatch.undo()
    outcomes = []
    for i, f in enumerate(futures):
        exc = f.exception()
        assert exc is None or isinstance(exc, commit.CommitConflict), exc
        outcomes.append((i, exc))
    lost = [i for i, exc in outcomes if exc is not None]
    assert len(lost) == 1, outcomes
    return lost[0]


def test_concurrent_upserts_one_conflicts_then_converges(
    spark, base, tmp_path, monkeypatch
):
    op = Op(spark, base, "upsert", tmp_path / "t")
    golden = Op(spark, base, "upsert", tmp_path / "g")
    a, b = upsert_batch(spark, 7), upsert_batch(spark, 13).filter(
        F.col("vec_id") % 7 != 0)
    similarity.ivf_upsert(a, golden.table)
    similarity.ivf_upsert(b, golden.table)

    jobs = [lambda: similarity.ivf_upsert(a, op.table),
            lambda: similarity.ivf_upsert(b, op.table)]
    loser = _race(monkeypatch, jobs)
    assert debris(op.table) == []
    jobs[loser]()
    assert ivf_state(spark, op.table) == ivf_state(spark, golden.table)
    assert debris(op.table) == []


def test_concurrent_merges_one_conflicts_then_converges(
    spark, base, tmp_path, monkeypatch
):
    op = Op(spark, base, "merge", tmp_path / "t")
    golden = Op(spark, base, "merge", tmp_path / "g")
    out, inp = f"{op.root}/out", f"{op.root}/in"
    a = updates(spark, inp, ["conv-00000001", "conv-00000003"], "A ")
    b = updates(spark, inp, ["conv-00000002", "conv-00000004"], "B ")
    for u in (a, b):
        merge_extracted(spark, f"{golden.root}/out", u, n_buckets=N_BUCKETS)

    jobs = [lambda: merge_extracted(spark, out, a, n_buckets=N_BUCKETS),
            lambda: merge_extracted(spark, out, b, n_buckets=N_BUCKETS)]
    loser = _race(monkeypatch, jobs)
    assert debris(op.table) == []
    jobs[loser]()
    assert read_extracted(spark, out).toPandas().equals(
        read_extracted(spark, f"{golden.root}/out").toPandas())
    assert debris(op.table) == []


def test_hadoop_filesystem_path_rolls_forward(
    spark, base, states, tmp_path, monkeypatch
):
    """The FileContext renames and claims that serve non-local tables
    (HDFS) run the same protocol: forced onto a local path, a merge
    killed mid-swap is rolled forward by a reader to the post-state."""
    real_init = commit._Fs.__init__

    def hadoop_init(self, spark_, table):
        real_init(self, spark_, table)
        self.local = False

    monkeypatch.setattr(commit._Fs, "__init__", hadoop_init)
    op = Op(spark, base, "merge", tmp_path / "t")
    real_swap = commit._swap_in
    inject(monkeypatch, "mid_swap")
    with pytest.raises(Kill):
        op.run()
    monkeypatch.setattr(commit, "_swap_in", real_swap)
    assert same("merge", op.read(), states["merge"][1])
    assert debris(op.table) == []


def small_table(spark, path, rows):
    """A table of (k, p) rows partitioned by p."""
    spark.createDataFrame(rows, "k int, p int").write.partitionBy(
        "p").parquet(path)


def rows_of(spark, path):
    return sorted(tuple(r) for r in spark.read.parquet(path).collect())


def test_concurrent_roll_forward_keeps_an_added_partition(
    spark, tmp_path, monkeypatch
):
    """A writer and a reader roll one version forward at once. The version
    replaces p=1 and adds p=2 (no live directory at the claim). The reader
    sees p=2 staged, the writer swaps it live, then the reader goes on: it
    must not move the partition just swapped in to trash, where the
    stage's retirement would delete it."""
    table = str(tmp_path / "t")
    small_table(spark, table, [(1, 1)])
    inject(monkeypatch, "after_claim")
    with pytest.raises(Kill):
        with commit.Commit(spark, table) as c:
            c.replace_partitions(
                spark.createDataFrame([(10, 1), (20, 2)], "k int, p int"),
                "p", [1, 2])
    monkeypatch.undo()

    real_exists, real_swap = commit._Fs.exists, commit._swap_in
    raced = []

    def exists(self, p):
        out = real_exists(self, p)
        if p.endswith("/p=2") and ".stage-" in p and not raced:
            raced.append(p)  # the writer's swap lands right after the look
            real_swap(self, p, f"{self.root}/p=2", None)
        return out

    monkeypatch.setattr(commit._Fs, "exists", exists)
    assert commit.recover(spark, table) == 1
    monkeypatch.undo()
    assert raced
    assert rows_of(spark, table) == [(10, 1), (20, 2)]
    assert debris(table) == []


def test_commit_records_are_pruned_and_a_stale_writer_conflicts(
    spark, tmp_path
):
    """Each commit keeps only its own record in `.commits/`. A writer
    opened before two later commits finds its version's record pruned,
    claims it anyway, sees the newer version and raises CommitConflict
    with no debris and the table as the later commits left it."""
    table = str(tmp_path / "t")
    small_table(spark, table, [(1, 1), (2, 2)])
    stale = commit.Commit(spark, table)
    for v, k in ((1, 11), (2, 12)):
        with commit.Commit(spark, table) as c:
            res = c.replace_partitions(
                spark.createDataFrame([(k, 1)], "k int, p int"), "p", [1])
        assert res["version"] == v
        assert sorted(os.listdir(f"{table}/{commit.COMMITS}")) == [
            f"{v}.done", f"{v}.json"]
    with pytest.raises(commit.CommitConflict):
        with stale as c:
            c.replace_partitions(
                spark.createDataFrame([(99, 2)], "k int, p int"), "p", [2])
    assert rows_of(spark, table) == [(2, 2), (12, 1)]
    assert debris(table) == []
    assert sorted(os.listdir(f"{table}/{commit.COMMITS}")) == [
        "2.done", "2.json"]
