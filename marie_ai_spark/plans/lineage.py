"""Per-partition lineage/metrics table: the engine's checkpoint + resume
state.

Spark analog of the reference scheduler's `job` + `job_history` tables
(PostgreSQL DDL at marie/scheduler/fixtures.py:37-145: state enum, retry
columns, lease CAS, history trigger). Here, work is partitioned into
deterministic conv_id hash buckets; each completed bucket appends one row:

    lineage(run_id, partition_id, status, rows_in, rows_out, checksum,
            started_at, completed_at, attempt)

Resume = anti-join of the bucket list against `status='done'` rows — the
content-addressed "skip if output exists" memoization of the reference
(marie/pipe/components.py:619-625) lifted to partition granularity.

Storage is parquet-append under a directory (Iceberg MERGE INTO would claim
buckets atomically on a real cluster; the IO layer is isolated here so the
parquet fallback and an Iceberg catalog are interchangeable).

Checksum is order-independent (`sum(xxhash64(conv_id, turn_idx))` per
bucket) so it is stable under any task/partition order at any scale.
"""

from __future__ import annotations

import uuid

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import commit

LINEAGE_SCHEMA = (
    "run_id string, partition_id int, status string, rows_in long, "
    "rows_out long, checksum string, started_at timestamp, "
    "completed_at timestamp, attempt int"
)


def bucket_col(n_buckets: int):
    """Deterministic work-bucket id for a row: hash(conv_id) mod n."""
    return F.pmod(F.xxhash64(F.col("conv_id")), F.lit(n_buckets)).cast("int")


def read_lineage(spark: SparkSession, path: str) -> DataFrame:
    """The lineage table at `path`, or an empty one before the first
    append. The table is listed through its Hadoop filesystem, so a URI
    (`file://`, `hdfs://`, ...) resolves like a plain path."""
    fs = commit._Fs(spark, path)
    if any(f.endswith(".parquet") for f in fs.names(fs.root)):
        return spark.read.schema(LINEAGE_SCHEMA).parquet(path)
    return spark.createDataFrame([], LINEAGE_SCHEMA)


def done_partitions(
    spark: SparkSession, path: str, run_id: str
) -> tuple[set[int], dict[int, int]]:
    """One lineage read for a run: the buckets with a `done` row, and the
    highest attempt recorded per bucket (done or failed) — the resume set
    and the retry counter come from the same collect."""
    rows = (
        read_lineage(spark, path)
        .filter(F.col("run_id") == run_id)
        .groupBy("partition_id")
        .agg(
            F.bool_or(F.col("status") == "done").alias("done"),
            F.max("attempt").alias("max_attempt"),
        )
        .collect()
    )
    done = {r.partition_id for r in rows if r.done}
    return done, {r.partition_id: r.max_attempt for r in rows}


def append_lineage(spark: SparkSession, path: str, rows: list[dict]) -> None:
    """Append lineage rows so that CONCURRENT writers never collide.

    A plain `.mode("append")` stages every job under the SAME
    `<path>/_temporary/0` dir (FileOutputCommitter), so the first job to
    commit deletes a concurrent job's staged files. Instead each append
    writes to a private `<path>__stage_<uuid>` dir and commit.publish_files
    moves its part files into the table under uuid-unique names, each by a
    rename that refuses an existing target. Disjoint-bucket jobs can
    therefore append lineage concurrently; proven by tests/test_resume.py's
    concurrent-writer test."""
    if not rows:
        return
    cols = [c.split()[0] for c in LINEAGE_SCHEMA.split(", ")]
    # from pandas over Arrow: a LocalTableScan, no Python-worker job;
    # naive timestamps are UTC, the session time zone
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=cols), LINEAGE_SCHEMA
    ).coalesce(1)
    tag = uuid.uuid4().hex
    stage = f"{path}__stage_{tag}"
    df.write.mode("overwrite").parquet(stage)
    commit.publish_files(spark, stage, path, f"part-{tag}")


def partition_metrics(extracted_with_bucket: DataFrame) -> DataFrame:
    """Per-bucket rows_out + order-independent checksum, one narrow agg."""
    # decimal(38,0) accumulator: order-independent and overflow-free under
    # ANSI mode even at 10^12 rows per bucket
    return extracted_with_bucket.groupBy("_bucket").agg(
        F.count(F.lit(1)).alias("rows_out"),
        F.sum(F.xxhash64("conv_id", "turn_idx").cast("decimal(38,0)"))
        .cast("string")
        .alias("checksum"),
    )


def new_run_id() -> str:
    return uuid.uuid4().hex[:12]


def run_report(spark: SparkSession, out_dir: str) -> DataFrame:
    """Per-run lineage rollup: buckets done/failed, rows, attempts, wall
    span — the observability surface of the job table
    (analog of the reference's job_history audit)."""
    lin = read_lineage(spark, f"{out_dir}/lineage")
    return (
        lin.groupBy("run_id")
        .agg(
            F.sum(F.when(F.col("status") == "done", 1).otherwise(0)).alias(
                "buckets_done"
            ),
            F.sum(F.when(F.col("status") == "failed", 1).otherwise(0)).alias(
                "buckets_failed"
            ),
            F.sum(F.when(F.col("status") == "done", F.col("rows_out"))).alias(
                "rows_out"
            ),
            F.max("attempt").alias("max_attempt"),
            F.min("started_at").alias("first_started"),
            F.max("completed_at").alias("last_completed"),
        )
    )
