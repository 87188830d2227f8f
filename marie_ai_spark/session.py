"""SparkSession factory with the engine's scale-oriented defaults.

Defaults chosen for the 100 TB design point and scaled down by config:
  - AQE on (runtime re-plan, skew-join splitting, partition coalescing)
  - Arrow-batched Python UDF transport, bounded batch size (UDF memory)
  - the default master is local[$SPARK_GRAFT_CPUS], or one task thread
    per core the host reports when that is unset
  - shuffle partitions sized to the local core count in tests; on a real
    cluster this is overridden per job (2-3x total cores)
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "marie_ai_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = 32 if n == "*" else max(8, int(n))
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # long-running-driver hygiene (scale-neutral): a session that runs
        # hundreds of jobs accumulates status-store entries and
        # dereferenced RDD/broadcast/shuffle state; the ContextCleaner
        # only reclaims on driver GC, which a mostly-idle 8g driver heap
        # may not trigger for the whole run — force it periodically and
        # keep the (UI-less) status store bounded
        .config("spark.cleaner.periodicGC.interval", "2min")
        .config("spark.ui.retainedJobs", "200")
        .config("spark.ui.retainedStages", "500")
        .config("spark.ui.retainedTasks", "20000")
        .config("spark.sql.ui.retainedExecutions", "100")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()

