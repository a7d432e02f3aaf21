"""SparkSession factory with the engine's default tuning.

Local mode (`local[N]`) is the sandbox proxy for a multi-executor cluster;
partitioning/shuffle decisions below are made for the cluster case (AQE,
skew-join, adaptive coalescing) and merely *also* work locally.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Arrow batch bytes: holds each batch a Python task gets, in the JVM and in
#: the worker, to a fixed size whatever the page size (Spark closes a batch
#: on the row that reaches it).  On perfbench's crawl_text (7,500 ~2 KB pages
#: per task, 8 batches per task at this bound instead of 1), peak RSS fell
#: 10.4% (median of 10 interleaved pairs, 4-vCPU VM; the JVM's VmHWM
#: 1,228 → 1,042 MB), query CPU within 3% on both workloads;
#: BENCH_r18_arrowbytes.json
ARROW_MAX_BYTES_PER_BATCH = 2 * 1024 * 1024

#: Arrow batch rows: the backstop for narrow rows, which the byte bound
#: alone would batch by the hundred thousand
ARROW_MAX_RECORDS_PER_BATCH = 262144

#: driver GC period that lets the ContextCleaner reclaim dropped broadcasts
PERIODIC_GC_INTERVAL = "90s"


def default_cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app: str = "libosmtools_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict | None = None,
) -> SparkSession:
    cpus = cpus or default_cpus()
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # No scan floor: file splits default to one wave (minPartitionNum = default.parallelism).
        # A cpus × 4 floor binds only below cpus × 4 × 128 MB, cutting one-row-group files into
        # empty byte ranges, each still a Python task (~0.23 s of worker CPU: invalidate_caches).
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # shuffled hash join over sort-merge when a side's per-partition
        # build fits comfortably (guide §3.1): the engine's hot joins are
        # id/bucket equi-joins whose per-partition hash tables are far
        # under this bound, and skipping both sort passes shaved the LSH
        # candidate joins measurably; AQE's localMapThreshold lets the
        # runtime demote SMJ → SHJ plan-by-plan instead of a blanket force
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
        # Long-lived sessions issue many queries whose broadcasts (corpus
        # matrices, candidate stores, shingle-set dictionaries) are only
        # reclaimed by the ContextCleaner after a DRIVER GC notices the
        # dropped references; on a 48g heap that can take many minutes, so
        # worker/JVM copies pile up across a query census and later
        # queries pay the memory pressure.  Periodic GC bounds the pile.
        .config("spark.cleaner.periodicGC.interval", PERIODIC_GC_INTERVAL)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_MAX_RECORDS_PER_BATCH))
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(ARROW_MAX_BYTES_PER_BATCH))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


#: per-session artifact caches (engine broadcasts, cell dictionaries, …)
#: registered by their owners; stop_spark clears them so a long-lived
#: process cycling many sessions does not accumulate dead broadcasts
_SESSION_CACHES: list = []


def register_session_cache(cache) -> None:
    """Register a dict/set of per-session artifacts to be cleared by
    stop_spark.  Idempotent (identity-deduplicated)."""
    if not any(c is cache for c in _SESSION_CACHES):
        _SESSION_CACHES.append(cache)


def clear_session_caches() -> None:
    for cache in _SESSION_CACHES:
        cache.clear()


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    clear_session_caches()


def release_local_checkpoint(df) -> bool:
    """Free the block storage behind a ``localCheckpoint(eager=True)`` result
    once the caller is done with it.  Spark exposes no public unpersist for
    checkpointed Datasets (the blocks are reclaimed only when the JVM GC
    collects the plan); long-lived sessions issuing many queries should
    release explicitly instead of waiting for GC.

    Returns True iff an RDD was actually unpersisted: the py4j reach-in
    (queryExecution().analyzed() being a bare ``LogicalRDD`` — verified on
    Spark 4.1) only applies to the DataFrame returned by localCheckpoint
    itself, NOT to derived plans (select/filter over it), for which this is
    a no-op and the caller should release the original frame instead."""
    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getName().endswith("LogicalRDD"):
        plan.rdd().unpersist(False)
        return True
    return False
