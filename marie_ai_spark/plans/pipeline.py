"""End-to-end extraction job with per-partition lineage and idempotent
resume.

Execution model (designed for the 1000-executor / 100 TB case, tested on
local[32]):

  1. Work is split into `n_buckets` deterministic conv_id hash buckets
     (bucket count ~= a few x total cores at scale).
  2. A run processes only buckets with no `done` lineage row for its run_id
     (anti-join -> resume skips completed work; re-runs are idempotent).
  3. The extraction map is shuffle-free; output is written
     partitionBy(_bucket) with dynamic partition overwrite, so a bucket that
     was half-written by a crashed attempt is atomically replaced when the
     bucket is re-processed — no duplicate rows, mirroring the lease/retry
     semantics of the reference scheduler (marie/scheduler/fixtures.py:37-145).
  4. Per-bucket metrics (rows in/out, order-independent checksum) are
     appended to the lineage table after the bucket data is on disk.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import extract_transcripts
from ..ref_ops import DEFAULT_RULES
from ..sources.tables import TableIO
from .lineage import (
    append_lineage,
    bucket_col,
    done_partitions,
    new_run_id,
    partition_metrics,
)


def run_extract(
    spark: SparkSession,
    input_path: str,
    out_dir: str,
    run_id: str | None = None,
    n_buckets: int = 32,
    max_buckets: int | None = None,
    rules=DEFAULT_RULES,
    backend: str = "parquet",
    max_records_per_file: int = 1_000_000,
    buckets: list[int] | None = None,
) -> dict:
    """Run (or resume) an extraction over `input_path` transcripts.

    max_buckets limits how many pending buckets this invocation processes —
    used by tests to simulate a mid-run failure before resume.
    `buckets` restricts the run to an explicit bucket subset — the sharding
    knob for running SEVERAL extract jobs side by side: jobs over DISJOINT
    bucket sets are multi-writer safe (the data write stages under a
    per-job uuid dir and commits disjoint partition dirs; lineage appends
    rename uuid-unique files) and converge to the same table as one
    sequential run — proven by tests/test_resume.py. Overlapping bucket
    sets remain undefined behavior (no lease CAS on the parquet seam;
    SURVEY §8.6).
    `backend` selects the TableIO storage seam (parquet here; iceberg on a
    cluster with the catalog configured).
    Returns run metadata {run_id, processed, skipped, rows_out}.
    """
    run_id = run_id or new_run_id()
    io = TableIO(spark, backend=backend)
    extracted_path = f"{out_dir}/extracted"
    lineage_path = f"{out_dir}/lineage"

    transcripts = io.read(input_path)
    # attempt = 1 + the highest prior (failed) attempt for a bucket, the
    # analog of the scheduler's retry_count (marie/scheduler/fixtures.py:48)
    done, prior_attempts = done_partitions(spark, lineage_path, run_id)
    universe = sorted(set(buckets)) if buckets is not None else range(n_buckets)
    todo = [b for b in universe if b not in done]
    if max_buckets is not None:
        todo = todo[:max_buckets]
    if not todo:
        return {"run_id": run_id, "processed": 0, "skipped": len(done), "rows_out": 0}

    started = datetime.now(timezone.utc).replace(tzinfo=None)
    pending = transcripts.withColumn("_bucket", bucket_col(n_buckets)).filter(
        F.col("_bucket").isin(todo)
    )
    rows_in = {
        r["_bucket"]: r["cnt"]
        for r in pending.groupBy("_bucket").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }

    extracted = extract_transcripts(pending, rules).withColumn(
        "_bucket", bucket_col(n_buckets)
    )
    try:
        # bound output file sizes so downstream scans parallelize well
        spark.conf.set("spark.sql.files.maxRecordsPerFile", str(max_records_per_file))
        io.overwrite_partitions(
            extracted.sortWithinPartitions("conv_id", "turn_idx"),
            extracted_path,
            "_bucket",
        )
    except Exception:
        # record the failed attempt so the next invocation retries these
        # buckets with attempt+1 (partial files are replaced by the dynamic
        # partition overwrite on retry — no duplicates possible)
        failed_at = datetime.now(timezone.utc).replace(tzinfo=None)
        append_lineage(
            spark,
            lineage_path,
            [
                {
                    "run_id": run_id,
                    "partition_id": int(b),
                    "status": "failed",
                    "rows_in": int(rows_in.get(b, 0)),
                    "rows_out": 0,
                    "checksum": "",
                    "started_at": started,
                    "completed_at": failed_at,
                    "attempt": prior_attempts.get(b, 0) + 1,
                }
                for b in todo
            ],
        )
        raise

    # metrics from what actually landed on disk
    written = spark.read.parquet(extracted_path).filter(F.col("_bucket").isin(todo))
    metrics = {r["_bucket"]: r for r in partition_metrics(written).collect()}
    completed = datetime.now(timezone.utc).replace(tzinfo=None)
    append_lineage(
        spark,
        lineage_path,
        [
            {
                "run_id": run_id,
                "partition_id": int(b),
                "status": "done",
                "rows_in": int(rows_in.get(b, 0)),
                "rows_out": int(metrics[b]["rows_out"]) if b in metrics else 0,
                "checksum": metrics[b]["checksum"] if b in metrics else "0",
                "started_at": started,
                "completed_at": completed,
                "attempt": prior_attempts.get(b, 0) + 1,
            }
            for b in todo
        ],
    )
    total_out = sum(int(metrics[b]["rows_out"]) for b in metrics)
    return {
        "run_id": run_id,
        "processed": len(todo),
        "skipped": len(done),
        "rows_out": total_out,
    }


def read_extracted(spark: SparkSession, out_dir: str) -> DataFrame:
    """The extracted table under stable (conv_id, turn_idx) ordering.

    Repairs an interrupted compaction swap first (ADVICE r5): a crash
    between compact_extracted's two renames leaves a bucket in the trash
    dir and absent from the live table; without the repair every reader
    between the crash and the NEXT compaction would silently see a table
    missing that bucket. The recovery scan is one bounded driver-side
    directory listing (n_buckets entries) and a no-op when no
    .compact_trash_* / .compact_staging_* dirs exist."""
    extracted_path = f"{out_dir}/extracted"
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.Path(out_dir).getFileSystem(
        spark._jsc.hadoopConfiguration()
    )
    _recover_compact_swap(fs, jvm, out_dir, extracted_path)
    return (
        spark.read.parquet(extracted_path)
        .drop("_bucket")
        .orderBy("conv_id", "turn_idx")
    )


def _recover_compact_swap(fs, jvm, out_dir: str, extracted_path: str) -> None:
    """Repair an interrupted compaction swap. A crash between the two
    renames of step 3 leaves a bucket dir in the run's trash dir but
    missing from the live table; restore it from trash (the staged copy
    was verified identical BEFORE any swap began, so a table mixing
    old and new bucket images is correct either way). Leftover trash and
    staging dirs from dead runs are then deleted."""
    root = jvm.org.apache.hadoop.fs.Path(out_dir)
    if not fs.exists(root):
        return
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if not st.isDirectory():
            continue
        if name.startswith(".compact_trash_"):
            for child in fs.listStatus(st.getPath()):
                cname = child.getPath().getName()
                if not cname.startswith("_bucket="):
                    continue
                live = jvm.org.apache.hadoop.fs.Path(
                    f"{extracted_path}/{cname}"
                )
                if not fs.exists(live):
                    fs.rename(child.getPath(), live)
            fs.delete(st.getPath(), True)
        elif name.startswith(".compact_staging_"):
            fs.delete(st.getPath(), True)


def compact_extracted(
    spark: SparkSession,
    out_dir: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files: int = 2,
    run_id: str | None = None,
) -> dict:
    """Bin-packed small-file compaction of completed buckets — the
    operational follow-on to resume at 100 TB: every crash/retry/merge
    cycle leaves extra files per bucket dir, and scan parallelism decays
    into file-open overhead without periodic rewrite (Iceberg's
    rewrite_data_files; the parquet-seam analog here).

    A bucket is compacted when it holds >= min_files files AND its mean
    file size is below target_file_bytes. The rewrite is staged, verified,
    then swapped (ADVICE r4 — the previous in-place dynamic overwrite
    deleted the before-image before verification could run):

      1. victim buckets are rewritten to a STAGING dir, repartitioned ON
         the bucket column so each bucket lands in one task -> one file
         per target_file_bytes slab (spark.sql.files.maxRecordsPerFile
         still bounds pathological rows). The live table is untouched.
      2. per-bucket rows + order-independent checksum are computed FROM
         THE STAGED COPY and must equal the before-image; any mismatch
         deletes the staging dir and raises with the live table intact.
      3. each verified bucket dir is swapped in by two atomic FS renames
         (live -> trash, staging -> live). A crash between the renames
         leaves that bucket's data present in BOTH trash and staging;
         the next compact_extracted() call restores it from trash before
         doing anything else (both images verified identical, so a table
         of part-old/part-new buckets is always correct).
      4. trash + staging are deleted only after every swap completed.

    A 'compacted' lineage row records the file-count drop per bucket.
    Returns {run_id, buckets_compacted, files_before, files_after}.
    """
    from .lineage import new_run_id

    run_id = run_id or f"compact-{new_run_id()}"
    extracted_path = f"{out_dir}/extracted"
    lineage_path = f"{out_dir}/lineage"

    # bucket-dir census via the Hadoop FS API (works on any scheme; the
    # listing is n_buckets dirs — bounded driver metadata, not data)
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(extracted_path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    _recover_compact_swap(fs, jvm, out_dir, extracted_path)
    victims = []
    files_before = {}
    bytes_before = {}
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith("_bucket=")):
            continue
        bucket = int(name.split("=", 1)[1])
        sizes = [
            f.getLen()
            for f in fs.listStatus(st.getPath())
            if not f.getPath().getName().startswith(("_", "."))
        ]
        if len(sizes) >= min_files and (
            sum(sizes) / len(sizes) < target_file_bytes
        ):
            victims.append(bucket)
            files_before[bucket] = len(sizes)
            bytes_before[bucket] = sum(sizes)
    if not victims:
        return {"run_id": run_id, "buckets_compacted": 0,
                "files_before": 0, "files_after": 0}

    started = datetime.now(timezone.utc).replace(tzinfo=None)
    current = spark.read.parquet(extracted_path).filter(
        F.col("_bucket").isin(victims)
    )
    before = {r["_bucket"]: r for r in partition_metrics(current).collect()}
    # bin-pack by bytes: bound records-per-file so each output file holds
    # ~target_file_bytes of the bucket's observed row mass (this also
    # overrides any tighter maxRecordsPerFile a prior job left on the
    # session conf — compaction must not inherit the files it is fixing)
    total_rows = sum(int(before[b]["rows_out"]) for b in victims) or 1
    avg_row = max(1, sum(bytes_before.values()) // total_rows)
    prev_mrpf = spark.conf.get("spark.sql.files.maxRecordsPerFile", "0")
    spark.conf.set(
        "spark.sql.files.maxRecordsPerFile",
        str(max(1, target_file_bytes // avg_row)),
    )
    staging_path = f"{out_dir}/.compact_staging_{run_id}"
    trash_path = f"{out_dir}/.compact_trash_{run_id}"
    jstaging = jvm.org.apache.hadoop.fs.Path(staging_path)
    jtrash = jvm.org.apache.hadoop.fs.Path(trash_path)
    try:
        # 1. one task per bucket (hash on the partition column keeps each
        # bucket whole), then the partitioned write emits one file per
        # bucket slab — INTO STAGING; the live table is not touched
        compacted = current.repartition(len(victims), "_bucket")
        (
            compacted.sortWithinPartitions("conv_id", "turn_idx")
            .write.mode("overwrite")
            .partitionBy("_bucket")
            .parquet(staging_path)
        )
    finally:
        spark.conf.set("spark.sql.files.maxRecordsPerFile", prev_mrpf)

    # 2. verify FROM THE STAGED COPY while the before-image still exists
    after_df = spark.read.parquet(staging_path).filter(
        F.col("_bucket").isin(victims)
    )
    after = {r["_bucket"]: r for r in partition_metrics(after_df).collect()}
    for b in victims:
        if (
            b not in after
            or before[b]["rows_out"] != after[b]["rows_out"]
            or before[b]["checksum"] != after[b]["checksum"]
        ):
            fs.delete(jstaging, True)
            raise RuntimeError(
                f"staged compaction does not match bucket {b}: "
                f"{before[b]} -> {after.get(b)}; live table left untouched"
            )

    # 3. swap each verified bucket in: live -> trash, staging -> live.
    # Both renames are single-directory FS renames (atomic on HDFS/posix);
    # a crash between them is repaired by _recover_compact_swap.
    fs.mkdirs(jtrash)
    for b in victims:
        live_b = jvm.org.apache.hadoop.fs.Path(
            f"{extracted_path}/_bucket={b}"
        )
        trash_b = jvm.org.apache.hadoop.fs.Path(f"{trash_path}/_bucket={b}")
        stage_b = jvm.org.apache.hadoop.fs.Path(
            f"{staging_path}/_bucket={b}"
        )
        if not fs.rename(live_b, trash_b):
            raise RuntimeError(f"failed to move bucket {b} to trash")
        if not fs.rename(stage_b, live_b):
            raise RuntimeError(
                f"failed to swap in compacted bucket {b}; recover from "
                f"{trash_path} via the next compact_extracted() call"
            )

    # 4. both images verified + swapped everywhere: drop trash + staging
    fs.delete(jtrash, True)
    fs.delete(jstaging, True)
    files_after = {}
    for b in victims:
        bdir = jvm.org.apache.hadoop.fs.Path(
            f"{extracted_path}/_bucket={b}"
        )
        files_after[b] = sum(
            1
            for f in fs.listStatus(bdir)
            if not f.getPath().getName().startswith(("_", "."))
        )
    completed = datetime.now(timezone.utc).replace(tzinfo=None)
    append_lineage(
        spark,
        lineage_path,
        [
            {
                "run_id": run_id,
                "partition_id": int(b),
                "status": "compacted",
                "rows_in": int(before[b]["rows_out"]),
                "rows_out": int(after[b]["rows_out"]),
                "checksum": after[b]["checksum"],
                "started_at": started,
                "completed_at": completed,
                "attempt": 1,
            }
            for b in victims
        ],
    )
    return {
        "run_id": run_id,
        "buckets_compacted": len(victims),
        "files_before": sum(files_before.values()),
        "files_after": sum(files_after.values()),
    }


def merge_extracted(
    spark: SparkSession,
    out_dir: str,
    updates: DataFrame,
    n_buckets: int = 32,
) -> int:
    """Upsert turns into the extracted table: new rows win on key collision
    — the `update_existing_meta` merge semantics (marie/pipe/components.py:
    736-767, "new wins on duplicates") and Iceberg's MERGE INTO on the
    parquet backend.

    Only the hash buckets containing updated keys are rewritten (read ->
    anti-join -> union -> dynamic partition overwrite), so the write cost
    is proportional to the touched buckets, not the table.
    """
    extracted_path = f"{out_dir}/extracted"
    upd = updates.withColumn("_bucket", bucket_col(n_buckets))
    touched = [r["_bucket"] for r in upd.select("_bucket").distinct().collect()]
    existing = spark.read.parquet(extracted_path).filter(
        F.col("_bucket").isin(touched)
    )
    survivors = existing.join(
        upd.select("conv_id", "turn_idx"), ["conv_id", "turn_idx"], "left_anti"
    )
    # materialize before overwriting the same path we just read (Spark
    # cannot overwrite a source mid-scan); Iceberg MERGE INTO does this
    # transactionally — on the parquet backend a localCheckpoint (or a
    # staging dir at cluster scale) provides the same read-then-replace
    merged = survivors.unionByName(upd).localCheckpoint(eager=True)
    (
        merged.sortWithinPartitions("conv_id", "turn_idx")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_bucket")
        .parquet(extracted_path)
    )
    return len(touched)
