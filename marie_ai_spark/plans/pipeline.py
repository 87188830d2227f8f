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

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import extract_transcripts
from ..ref_ops import DEFAULT_RULES
from ..sources import commit
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
    sets remain undefined behavior: the data write is Spark's dynamic
    partition overwrite, which claims no version (merge and compaction
    commit through sources/commit.py and do conflict cleanly).
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
        io.overwrite_partitions(
            extracted.sortWithinPartitions("conv_id", "turn_idx"),
            extracted_path,
            "_bucket",
            max_records_per_file=max_records_per_file,
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

    Rolls forward a merge or compaction whose writer died after claiming
    its version (commit.recover: one listing of `.commits/` when there is
    nothing to do), so a reader never sees a table missing a bucket that
    was mid-swap."""
    extracted_path = f"{out_dir}/extracted"
    commit.recover(spark, extracted_path)
    return (
        spark.read.parquet(extracted_path)
        .drop("_bucket")
        .orderBy("conv_id", "turn_idx")
    )


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
    file size is below target_file_bytes. The victims are repartitioned
    ON the bucket column (one task per bucket) and rewritten by one
    commit.Commit under a rows-per-file cap of ~target_file_bytes of
    their mean row size: the rewrite is staged and verified before any
    live bucket moves (a mismatch raises with the live table untouched),
    and a crash after the claim is rolled forward by the next reader.
    A 'compacted' lineage row per bucket records its rows and checksum,
    which the commit's verification shows the rewrite kept. Returns
    {run_id, buckets_compacted, files_before, files_after}.
    """
    run_id = run_id or f"compact-{new_run_id()}"
    extracted_path = f"{out_dir}/extracted"
    lineage_path = f"{out_dir}/lineage"

    with commit.Commit(spark, extracted_path) as c:
        small = {
            int(name.split("=", 1)[1]): sizes
            for name, sizes in commit.partition_files(
                spark, extracted_path).items()
            if name.startswith("_bucket=") and len(sizes) >= min_files
            and sum(sizes) / len(sizes) < target_file_bytes
        }
        if not small:
            return {"run_id": run_id, "buckets_compacted": 0,
                    "files_before": 0, "files_after": 0}
        victims = sorted(small)

        started = datetime.now(timezone.utc).replace(tzinfo=None)
        current = spark.read.parquet(extracted_path).filter(
            F.col("_bucket").isin(victims)
        )
        # bin-pack by bytes: cap records-per-file at ~target_file_bytes of
        # the victims' mean row size
        bytes_before = sum(sum(sizes) for sizes in small.values())
        metrics = partition_metrics(current).collect()
        rows = sum(m["rows_out"] for m in metrics)
        avg_row = max(1, bytes_before // (rows or 1))
        c.replace_partitions(
            current.repartition(len(victims), "_bucket")
            .sortWithinPartitions("conv_id", "turn_idx"),
            "_bucket",
            victims,
            max_records_per_file=max(1, target_file_bytes // avg_row),
        )
    after = commit.partition_files(spark, extracted_path)
    completed = datetime.now(timezone.utc).replace(tzinfo=None)
    append_lineage(
        spark,
        lineage_path,
        [
            {
                "run_id": run_id,
                "partition_id": int(m["_bucket"]),
                "status": "compacted",
                "rows_in": int(m["rows_out"]),
                "rows_out": int(m["rows_out"]),
                "checksum": m["checksum"],
                "started_at": started,
                "completed_at": completed,
                "attempt": 1,
            }
            for m in metrics
        ],
    )
    return {
        "run_id": run_id,
        "buckets_compacted": len(victims),
        "files_before": sum(len(sizes) for sizes in small.values()),
        "files_after": sum(len(after[f"_bucket={b}"]) for b in victims),
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

    Only the hash buckets containing updated keys are rewritten: their
    survivors (anti-joined on the update keys) UNION the updates are
    committed by one commit.Commit, which stages and verifies them before
    any live bucket moves, so no checkpoint of the read is needed. If a
    concurrent merge commits first this raises commit.CommitConflict; a
    rerun applies the batch on top. Returns the number of buckets
    rewritten.
    """
    extracted_path = f"{out_dir}/extracted"
    upd = updates.withColumn("_bucket", bucket_col(n_buckets))
    with commit.Commit(spark, extracted_path) as c:
        # the touched buckets in one job with no shuffle: an observed
        # collect_set over a no-op write (distinct().collect() takes two
        # jobs under AQE)
        seen = Observation()
        upd.select("_bucket").observe(
            seen, F.collect_set("_bucket").alias("b")
        ).write.format("noop").mode("overwrite").save()
        touched = seen.get["b"]
        existing = spark.read.parquet(extracted_path).filter(
            F.col("_bucket").isin(touched)
        )
        survivors = existing.join(
            upd.select("conv_id", "turn_idx"), ["conv_id", "turn_idx"],
            "left_anti",
        )
        res = c.replace_partitions(
            survivors.unionByName(upd).sortWithinPartitions(
                "conv_id", "turn_idx"
            ),
            "_bucket",
            touched,
        )
    return len(res["partitions"])
