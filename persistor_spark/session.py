"""SparkSession factory with scale-oriented defaults.

Local tests run on ``local[N]``; the same conf is what we'd ship on a
1000-executor cluster (AQE, skew-join handling, partition coalescing).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "persistor-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with engine defaults.

    Defaults chosen for scale (SURVEY.md §4):
    - AQE on: runtime partition coalescing + skew-join splitting replaces the
      reference's hand-tuned worker pools (`resubmitter.go:39-49`).
    - shuffle partitions sized from cores locally; on a real cluster this is
      overridden (AQE coalesces down anyway).
    - UTC session timezone: the reference formats all timestamps as UTC wire
      strings (`sender.go:32-34`); UTC keeps parquet/DuckDB/Spark agreeing.
    - nanosAsLong: driver fixtures carry ns-precision parquet timestamps which
      Spark refuses by default; we read them as long and convert (sources.registry).
    - Arrow enabled for pandas_udf analytics operators.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE re-optimize (coalesce/skew-split) the plan that MATERIALIZES
        # a .persist()/.cache() too (default false).  Without it a cached plan
        # pins its output at spark.sql.shuffle.partitions: the streaming
        # ingest caches the fused position-window output per micro-batch, so
        # every 25k-row batch materialized `cpus` sliver partitions and both
        # sinks fanned out `cpus` tasks + `cpus` index files PER BATCH — cost
        # grew with core count (the r14 driver bench saw stream_ingest 4.5s ->
        # 16.7s going 8 -> 32 cores).  With AQE the cached partition count is
        # byte-adaptive (advisoryPartitionSizeInBytes), the scale-correct
        # behavior at any core count: a 100 TB batch still materializes many
        # partitions, a small one collapses to few (guide §2.2/§6).
        # Invariant while this is on: a cached plan's partitioning depends
        # on data size and core count, so a cached shuffle output must not
        # feed a float aggregation whose result is pinned bit for bit.  The
        # k-means/PQ training inputs satisfy it: each is a localCheckpoint
        # or a persisted narrow projection, with no shuffle to re-plan.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
