"""One commit protocol for every rewrite of a durable table.

A table is a directory of partition directories (`<col>=<value>/`) and
that listing IS the table, so Spark, pyarrow and the DuckDB oracle read
it directly. Spark's writer makes the data files; this module makes every
other filesystem change. The design follows Delta Lake (Armbrust et al.,
VLDB 2020) and the Iceberg spec: verified immutable staging, one
atomically created numbered commit record, and optimistic concurrency (a
writer that loses the race raises `CommitConflict`; no lock, no lease).
`Commit.replace_partitions`, against base version b (the latest claimed
version, rolled forward first; 0 when new):

  1. stage   Spark writes the new partitions to `.stage-<b>-<uuid>/`; an
             `Observation` on that write records its rows and
             sum(xxhash64(every column)) as decimal(38,0).
  2. verify  the stage is read back and must match the observation, or
             it is deleted and the call raises, the live table untouched.
  3. claim   `.commits/<b+1>.json` (stage; replaced, added and emptied
             partitions) is created if absent; if it exists, or a newer
             version does, the stage is deleted and `CommitConflict`
             raised (rerun to retry).
  4. swap    each replaced live partition moves into the stage's
             `.trash/` and the staged one moves live; an added one (no
             live directory at the claim) only moves live; each emptied
             partition moves into `.trash/`.
  5. retire  the stage is renamed to `.trash-<v>` and deleted,
             `.commits/<v>.done` written, and older commit records and
             stages staged against an older version (they can never
             commit) deleted.

Every rename refuses an existing target and a missing parent, and every
swap step re-checks state, so the writer and any reader can roll one
version forward at once: a late rename finds its source gone, its target
taken or (the stage retired) its parent gone, and moves nothing. An added
partition is never moved to trash, as no earlier move fills its trash
target: a late actor would take the partition just swapped in. Readers
call `recover`, which rolls forward a claimed version with no `.done`;
they never delete a stage no claim names. Only the latest version can
lack `.done`, as a writer recovers before it stages, so only the latest
record is kept; a writer so stale that its version's record was pruned
finds a newer one right after its claim and stops. All metadata names
start with `.`, which every reader of the table skips.

The claim's create-if-absent, per filesystem:

  local `file:`   link(2) of a fully written temp record: fails with
                  EEXIST like open(O_CREAT|O_EXCL), and no reader sees a
                  half-written record. Many writers.
  HDFS            FileContext.rename(tmp, record, NONE): one NameNode
                  operation that fails if the record exists. Many writers.
  object stores   the same call, but check and copy are separate steps:
  (s3a, gs, ...)  single writer only.

Local directories move by rename(2) after an existence check (rename(2)
refuses a non-empty target; no target here is an empty directory), local
files by link(2) and unlink. Elsewhere FileContext rename with NONE is
used: FileSystem.rename(dir, existingDir) returns True and nests the
source inside the target.
"""

from __future__ import annotations

import json
import os
import uuid
from urllib.parse import urlparse

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

COMMITS = ".commits"
# what a rename or create raises when its source is gone, its target
# exists or its parent is missing: the OS on local paths, Hadoop elsewhere
_MOVE_ERRORS = (OSError, Py4JJavaError)


class CommitConflict(RuntimeError):
    """Another writer claimed the version this write was staged for."""


def _conflict(root: str, v: int) -> CommitConflict:
    return CommitConflict(f"{root}: version {v} was committed by another "
                          "writer; rerun to apply this write on top")


class _Fs:
    """Hadoop FileSystem calls on `table`'s filesystem, except for the two
    operations whose atomicity differs by filesystem: rename and
    create-if-absent, which the OS does on local paths (module
    docstring). Paths are qualified URIs under `self.root`."""

    def __init__(self, spark: SparkSession, table: str):
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        self._P = jvm.org.apache.hadoop.fs.Path
        self._fs = self._P(table).getFileSystem(conf)
        self.root = self._fs.makeQualified(self._P(table)).toString()
        self.local = self._fs.getScheme() == "file"
        self._fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            self._fs.getUri(), conf)
        opt = getattr(jvm.org.apache.hadoop.fs, "Options$Rename")
        self._none = spark.sparkContext._gateway.new_array(opt, 1)
        self._none[0] = opt.NONE

    def names(self, d: str) -> list[str]:
        p = self._P(d)
        if not self._fs.exists(p):
            return []
        return [st.getPath().getName() for st in self._fs.listStatus(p)]

    def exists(self, p: str) -> bool:
        return self._fs.exists(self._P(p))

    def mkdirs(self, p: str) -> None:
        self._fs.mkdirs(self._P(p))

    def delete(self, p: str) -> None:
        self._fs.delete(self._P(p), True)

    def read(self, p: str) -> str:
        stream = self._fs.open(self._P(p))
        try:
            return bytes(stream.readAllBytes()).decode()
        finally:
            stream.close()

    def write(self, p: str, text: str) -> None:
        """Write `p` whole and durably (fsync/hsync before close)."""
        if self.local:
            with open(urlparse(p).path, "w") as f:
                f.write(text)
                f.flush()
                os.fsync(f.fileno())
            return
        out = self._fs.create(self._P(p), True)
        try:
            out.write(bytearray(text.encode()))
            out.hsync()
        finally:
            out.close()

    def rename(self, src: str, dst: str) -> None:
        """Move `src` to `dst`; raise if `dst` exists or its parent does
        not."""
        if not self.local:
            self._fc.rename(self._P(src), self._P(dst), self._none)
            return
        src, dst = urlparse(src).path, urlparse(dst).path
        if os.path.isdir(src):
            if os.path.lexists(dst):
                raise FileExistsError(dst)
            os.rename(src, dst)
        else:
            os.link(src, dst)
            os.unlink(src)

    def create(self, p: str, text: str) -> None:
        """Publish `text` whole as the new file `p`; FileExistsError if `p`
        exists."""
        tmp = f"{p.rsplit('/', 1)[0]}/.tmp-{uuid.uuid4().hex}"
        self.write(tmp, text)
        try:
            self.rename(tmp, p)
        except _MOVE_ERRORS:
            if self.exists(p):
                raise FileExistsError(p) from None
            raise
        finally:
            self.delete(tmp)


def _latest(fs) -> tuple[int, bool]:
    """(latest claimed version, whether it is done); (0, True) before the
    first commit."""
    names = set(fs.names(f"{fs.root}/{COMMITS}"))
    v = max(
        (int(n[:-5]) for n in names
         if n.endswith(".json") and n[:-5].isdigit()),
        default=0,
    )
    return v, v == 0 or f"{v}.done" in names


def recover(spark: SparkSession, table: str) -> int:
    """Roll forward a claimed version of `table` that has no `.done`
    (a writer died mid-swap); returns the latest version. One listing of
    `.commits/` when there is nothing to do."""
    return _recover(_Fs(spark, table))


def _recover(fs) -> int:
    v, done = _latest(fs)
    if not done:
        path = f"{fs.root}/{COMMITS}/{v}.json"
        try:
            record = json.loads(fs.read(path))
        except _MOVE_ERRORS:
            if fs.exists(path):
                raise
            return _recover(fs)  # pruned: a newer commit rolled v forward
        _roll_forward(fs, v, record)
    return v


def _roll_forward(fs, v: int, record: dict) -> None:
    root = fs.root
    stage = f"{root}/{record['stage']}"
    for part in record["replaced"]:
        _swap_in(fs, f"{stage}/{part}", f"{root}/{part}",
                 f"{stage}/.trash/{part}")
    for part in record["added"]:
        _swap_in(fs, f"{stage}/{part}", f"{root}/{part}", None)
    for part in record["emptied"]:
        _move_out(fs, f"{root}/{part}", f"{stage}/.trash")
    _retire(fs, stage, f"{root}/.trash-{v}")
    fs.write(f"{root}/{COMMITS}/{v}.done", "")


def _swap_in(fs, staged: str, live: str, trashed: str | None) -> None:
    """Move the live partition to `trashed` (None: the partition is added,
    nothing live to move) and the staged one live. A staged partition
    that is gone was swapped in (here or by another actor)."""
    for _ in range(5):  # past a few lost races, it is a real error
        if not fs.exists(staged):
            return
        try:
            if trashed and fs.exists(live):
                fs.rename(live, trashed)
            fs.rename(staged, live)
            return
        except _MOVE_ERRORS:
            continue  # another actor moved it first: look again
    raise OSError(f"could not swap {staged} into {live}")


def _move_out(fs, live: str, trash: str) -> None:
    """Move an emptied live partition into trash. A failed rename is a
    race lost to another actor unless the partition is still live while
    the trash (and so the unretired stage) still exists."""
    if not fs.exists(live):
        return
    try:
        fs.rename(live, f"{trash}/{live.rsplit('/', 1)[1]}")
    except _MOVE_ERRORS:
        if fs.exists(live) and fs.exists(trash):
            raise


def _retire(fs, stage: str, retired: str) -> None:
    """One rename takes the stage (and its trash) out of every later
    rename's path; the retired copy is then deleted."""
    try:
        fs.rename(stage, retired)
    except _MOVE_ERRORS:
        if fs.exists(stage):
            raise
    fs.delete(retired)


def _observe(df: DataFrame):
    """(df with an Observation attached, the Observation): rows and
    sum(xxhash64(every column, in name order)) as decimal(38,0). One
    pass, no shuffle, independent of row and column order; the partition
    column is hashed too, so a row that lands in another partition
    changes the sum."""
    cols = ", ".join(f"`{c}`" for c in sorted(df.columns))
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("rows"), F.expr(
        f"coalesce(sum(cast(xxhash64({cols}) as decimal(38,0))), 0)"
    ).alias("checksum")), obs


def _stage(df: DataFrame, stage: str, partition_col: str,
           max_records_per_file: int) -> dict:
    """Write the stage (0 rows per file: no cap); {rows, checksum} the
    write observed."""
    observed_df, obs = _observe(df)
    observed_df.write.mode("overwrite").partitionBy(partition_col).option(
        "maxRecordsPerFile", max_records_per_file).parquet(stage)
    return obs.get


def _verify(spark: SparkSession, stage: str, df: DataFrame,
            written: dict) -> None:
    """Read the stage back from disk (one pass into a no-op sink) and
    require the rows and checksum the write observed."""
    observed_back, obs = _observe(
        spark.read.schema(df.schema).parquet(stage))
    observed_back.write.format("noop").mode("overwrite").save()
    if obs.get != written:
        raise RuntimeError(
            f"staged write does not match what was written: {obs.get} on "
            f"disk vs {written}; live table left untouched")


def _claim(fs, v: int, record: dict) -> None:
    path = f"{fs.root}/{COMMITS}/{v}.json"
    fs.mkdirs(f"{fs.root}/{COMMITS}")
    try:
        fs.create(path, json.dumps(record))
    except FileExistsError:
        raise _conflict(fs.root, v) from None
    if _latest(fs)[0] != v:  # v's record had been pruned: a stale write
        fs.delete(path)
        raise _conflict(fs.root, v)


def _reap(fs, v: int) -> None:
    """Delete the commit records before `v`, stages staged against a
    version before `v` (they can never commit) and retired stages whose
    delete was cut short."""
    for name in fs.names(f"{fs.root}/{COMMITS}"):
        n = name.split(".")[0]
        if n.isdigit() and int(n) < v:
            fs.delete(f"{fs.root}/{COMMITS}/{name}")
    for name in fs.names(fs.root):
        if name.startswith((".stage-", ".trash-")):
            base = name.split("-")[1]
            if base.isdigit() and int(base) < v:
                fs.delete(f"{fs.root}/{name}")


class Commit:
    """One rewrite of `table` against its latest version. Opening it rolls
    a claimed version forward and fixes the base version; the reads that
    build the new content belong inside the `with` block, so a failure
    caused by another writer's commit (files moved away mid-read) raises
    `CommitConflict` like a lost claim does."""

    def __init__(self, spark: SparkSession, table: str):
        self.spark = spark
        self.fs = _Fs(spark, table)
        self.base = _recover(self.fs)
        self.version = None

    def __enter__(self) -> "Commit":
        return self

    def __exit__(self, kind, exc, tb) -> bool:
        if (isinstance(exc, Exception)
                and not isinstance(exc, CommitConflict)
                and self.version is None
                and _latest(self.fs)[0] > self.base):
            raise _conflict(self.fs.root, self.base + 1) from exc
        return False

    def replace_partitions(self, df: DataFrame, partition_col: str,
                           partitions: list,
                           max_records_per_file: int = 0) -> dict:
        """Replace the listed partitions of the table with df's rows, as
        one commit (steps in the module docstring): a listed partition df
        holds no rows for is removed, and a row outside the list fails
        the call. `df` may read the table: no live partition moves until
        the stage is verified and claimed. Partition values are ints or
        strings Hive need not escape. Returns {version, rows, checksum,
        partitions: the non-empty listed values, emptied: the others}."""
        fs, root = self.fs, self.fs.root
        v = self.base + 1
        stage_name = f".stage-{self.base}-{uuid.uuid4().hex}"
        stage = f"{root}/{stage_name}"
        listed = {f"{partition_col}={p}": p for p in set(partitions)}
        try:
            written = _stage(df, stage, partition_col, max_records_per_file)
            _verify(self.spark, stage, df, written)
            staged = {n for n in fs.names(stage) if "=" in n}
            if staged - listed.keys():
                raise ValueError(f"rows outside the partitions {partitions}")
            live = set(fs.names(root))
            record = {
                "stage": stage_name,
                "replaced": sorted(staged & live),
                "added": sorted(staged - live),
                "emptied": sorted(live & listed.keys() - staged),
            }
            fs.mkdirs(f"{stage}/.trash")
            _claim(fs, v, record)
        except Exception:
            fs.delete(stage)
            raise
        self.version = v
        _roll_forward(fs, v, record)
        _reap(fs, v)
        return {**written, "version": v,
                "partitions": sorted(listed[n] for n in staged),
                "emptied": sorted(listed[n] for n in listed.keys() - staged)}


def partition_files(spark: SparkSession, table: str) -> dict[str, list]:
    """{partition dir name: [bytes of each data file]} of `table`."""
    fs = _Fs(spark, table)
    return {
        name: [st.getLen()
               for st in fs._fs.listStatus(fs._P(f"{fs.root}/{name}"))
               if st.isFile()
               and not st.getPath().getName().startswith(("_", "."))]
        for name in fs.names(fs.root)
        if "=" in name and not name.startswith(".")
    }


def publish_files(spark: SparkSession, stage: str, table: str,
                  prefix: str) -> None:
    """Append the data files a Spark write left in `stage` to `table`
    under the unique names `<prefix>-<i>.parquet`, each by a rename that
    refuses an existing target, then delete the stage. Appenders with
    distinct prefixes never collide."""
    fs = _Fs(spark, table)
    root, src = fs.root, _Fs(spark, stage).root
    fs.mkdirs(root)
    try:
        data = sorted(n for n in fs.names(src)
                      if not n.startswith(("_", ".")))
        for i, name in enumerate(data):
            fs.rename(f"{src}/{name}", f"{root}/{prefix}-{i}.parquet")
    finally:
        fs.delete(src)
