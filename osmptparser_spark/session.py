"""SparkSession factory with scale-oriented defaults + deploy profiles.

AQE (runtime re-plan, partition coalescing, skew-join splitting),
runtime Bloom-filter semi-join pushdown, and Arrow transfer are on by
default — these replace the reference's hand-built optimizations
(3-pass semi-join pushdown, bounded-channel backpressure, shared id
sets; SURVEY.md §4).

Two documented profiles (``get_spark(profile=...)``) so the 100-TB
story is not hardcoded to sandbox defaults:

* ``"local"`` — the test/bench envelope: one JVM, shuffle partitions
  ~2x cores, driver does the work.
* ``"cluster"`` — a 100-executor-class envelope: shuffle partitions
  sized for AQE to COALESCE DOWN from (AQE merges small partitions at
  runtime; starting high is the safe direction at 100 TB), advisory
  partition size 128m, 10k-target parquet split sizes, broadcast
  threshold raised to 64m (executors have multi-GB heaps; more dim
  joins skip the shuffle entirely), shuffle-tracking dynamic
  allocation. On a real deployment these land via spark-submit --conf
  just as well — the profile documents WHICH knobs move and WHY.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

DEFAULT_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.optimizer.runtimeFilter.bloomFilter.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # grouped-UDF groups are tiny (one route relation); large batches
    # keep the Arrow transfer efficient for mapInPandas extraction
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.session.timeZone": "UTC",
}

PROFILE_CONFS = {
    "local": {
        # single-JVM envelope: a 32-thread local driver with a large
        # heap defaults to ~23 G1 GC workers that fight the task
        # threads for cores, and lz4-compresses shuffle blocks that
        # only ever hit the local page cache. Capping GC threads and
        # skipping shuffle compression measured ~25-30% less CPU on
        # the repartition+sort leg with identical results. The
        # cluster profile keeps compression ON (network shuffle).
        # (GC thread count is sized to the leg's cores in build_confs
        # so a taskset-pinned 2-core scaling leg isn't oversubscribed.)
        "spark.shuffle.compress": "false",
        "spark.shuffle.spill.compress": "false",
    },
    "cluster": {
        # AQE coalesces DOWN from this at runtime; undersizing is the
        # unrecoverable direction at 100 TB (spill + 2 GB block limit)
        "spark.sql.shuffle.partitions": "4096",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "128m",
        "spark.sql.files.maxPartitionBytes": "256m",
        # multi-GB executor heaps: broadcast more dim tables
        "spark.sql.autoBroadcastJoinThreshold": "64m",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "64m",
        # elastic executor pool without an external shuffle service.
        # cachedExecutorIdleTimeout makes executors holding cached
        # blocks (the pages entries' relation cache) ineligible for
        # reclaim within 1h.
        "spark.dynamicAllocation.enabled": "true",
        "spark.dynamicAllocation.shuffleTracking.enabled": "true",
        "spark.dynamicAllocation.cachedExecutorIdleTimeout": "3600s",
        # tolerate slow/lost nodes at 1000-executor scale
        "spark.speculation": "true",
        "spark.sql.parquet.filterPushdown": "true",
    },
}


def build_confs(
    profile: str = "local",
    shuffle_partitions: int | None = None,
    confs: dict | None = None,
) -> dict:
    """Pure conf-assembly (unit-testable without a live session):
    defaults <- profile <- explicit shuffle_partitions <- caller confs,
    later wins."""
    if profile not in PROFILE_CONFS:
        raise ValueError(
            f"unknown profile {profile!r}; choose from {sorted(PROFILE_CONFS)}"
        )
    merged = dict(DEFAULT_CONFS)
    merged.update(PROFILE_CONFS[profile])
    if profile == "local":
        # GC workers sized to the cores this JVM will actually own
        # ($SPARK_GRAFT_CPUS when pinned, else all): capped at 8 so a
        # 32-thread driver isn't preempted by ~23 default G1 workers,
        # floored at 2, never more than the cores themselves.
        cpus_env = os.environ.get("SPARK_GRAFT_CPUS", "")
        cores = int(cpus_env) if cpus_env.isdigit() else (os.cpu_count() or 8)
        par = max(2, min(8, cores))
        merged.setdefault(
            "spark.driver.extraJavaOptions",
            f"-XX:ParallelGCThreads={par} -XX:ConcGCThreads={max(1, par // 4)}",
        )
    if shuffle_partitions is not None:
        merged["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if confs:
        merged.update(confs)
    return merged


def get_spark(
    app_name: str = "osmptparser-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    confs: dict | None = None,
    profile: str = "local",
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS or *]`` outside a
    cluster; on a real cluster leave it unset and let spark-submit
    decide (north rule: same code runs via spark-submit --py-files).
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master:
        builder = builder.master(master)
    for k, v in build_confs(profile, shuffle_partitions, confs).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_df(spark: SparkSession, rows, ddl: str, slices: int | None = None):
    """DataFrame over a small driver-local row list, with an EXPLICIT
    partition count.

    ``spark.createDataFrame(list)`` parallelizes the collection into
    ``defaultParallelism`` slices — on a 32-core session a 2-row dim
    table becomes 32 near-empty Python tasks, re-dispatched on EVERY
    action that scans it (measured here: ~0.7 s/action quiet,
    multi-second under host contention — each slice pays a Python
    worker round-trip). Dim tables in hot paths (W6 polygons, PBF blob
    index, multimodal fixtures) use this instead: ``slices`` defaults
    to ~1 slice per 64 rows, capped at defaultParallelism, so tiny
    inputs cost one task and real inputs still spread.
    """
    rows = list(rows)
    if slices is None:
        par = spark.sparkContext.defaultParallelism
        slices = max(1, min(par, (len(rows) + 63) // 64))
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, slices), ddl)


def materialize(df: DataFrame) -> DataFrame:
    """``df`` computed once, eagerly, with its lineage truncated: a
    reliable ``checkpoint`` when the session has a checkpoint dir
    (REQUIRED under the ``cluster`` profile's dynamic allocation, where
    localCheckpoint blocks die with reclaimed executors),
    ``localCheckpoint`` otherwise."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)
