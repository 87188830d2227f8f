"""Table IO abstraction: one seam for parquet-directory tables today and
an Iceberg catalog on a real cluster.

Spark-written appends and partition replacement go through this class so
the storage backend is swappable:

  - parquet backend (sandbox default): directory-per-table,
    partitionOverwriteMode=dynamic replaces the partitions a write holds
  - iceberg backend: same calls route to `writeTo(...)` when
    `spark.sql.catalog.<name>` is configured with the iceberg-spark-runtime
    jar (not bundled in this sandbox — the backend raises a clear error if
    selected without the catalog present)

Rewrites that must be verified before they replace live data (merge,
compaction, the IVF upsert) and the lineage appends go through the commit
protocol in `sources/commit.py` instead, which owns every filesystem
change Spark's writer does not make.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


class TableIO:
    def __init__(self, spark: SparkSession, backend: str = "parquet",
                 catalog: str = "local"):
        self.spark = spark
        self.backend = backend
        self.catalog = catalog
        if backend == "iceberg":
            conf = spark.conf.get(f"spark.sql.catalog.{catalog}", None)
            if not conf:
                raise RuntimeError(
                    f"iceberg backend selected but spark.sql.catalog.{catalog} "
                    "is not configured (iceberg-spark-runtime jar + catalog "
                    "conf required)"
                )

    # -- reads ---------------------------------------------------------
    def read(self, table: str) -> DataFrame:
        if self.backend == "iceberg":
            return self.spark.read.table(f"{self.catalog}.{table}")
        return self.spark.read.parquet(table)

    # -- writes --------------------------------------------------------
    def overwrite_partitions(self, df: DataFrame, table: str,
                             partition_col: str,
                             max_records_per_file: int = 0) -> None:
        """Replace only the partitions present in df (idempotent re-runs).
        `max_records_per_file` caps the rows per output file for this
        write only (0: no cap)."""
        if self.backend == "iceberg":
            df.writeTo(f"{self.catalog}.{table}").overwritePartitions()
        else:
            (
                df.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .option("maxRecordsPerFile", max_records_per_file)
                .partitionBy(partition_col)
                .parquet(table)
            )


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 8,
) -> None:
    """Persist a table bucketed+sorted on the join key: two tables bucketed
    the same way join with ZERO exchange (co-located shuffle-free join —
    the pre-shuffle you pay once at write time instead of per query; the
    100 TB pattern for repeatedly-joined fact/dim tables). Verified by a
    plan assertion in tests/test_bucketed_join.py."""
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .format("parquet")
        .saveAsTable(table)
    )
