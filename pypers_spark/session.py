"""SparkSession factory tuned for the engine.

Defaults target the test rig (local[32], 128 GiB) but every knob scales:
AQE handles runtime re-planning (partition coalescing, skew joins) on a
real cluster; shuffle partition count and scan split size are env-tunable
so a 1000-executor deployment sets them per workload without code
changes.

Env overrides:
- SPARK_GRAFT_SHUFFLE_PARTITIONS (default 32): shuffle partition count.
- SPARK_GRAFT_CPUS (default 32): local[] core count (bench contract).
- SPARK_GRAFT_CACHE_AQE (default "true"):
  spark.sql.optimizer.canChangeCachedPlanOutputPartitioning — lets AQE
  coalesce exchanges INSIDE cached plans. Set "false" if a consumer
  ever depends on a cached plan's pinned output partitioning /
  partition count (none does today; iterative operators over
  tracked_persist caches would be the candidates).
- SPARK_GRAFT_OPEN_COST (default 256K): files.openCostInBytes.
- SPARK_GRAFT_SCHEDULER (default FAIR): job scheduling mode.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def current_session() -> SparkSession:
    """The session for the current thread, falling back to the process-wide
    instantiated session (``getActiveSession`` is thread-local — worker
    threads, e.g. batch task runners, would otherwise see None)."""
    spark = SparkSession.getActiveSession()
    if spark is not None:
        return spark
    spark = getattr(SparkSession, "_instantiatedSession", None)
    if spark is not None:
        return spark
    return get_session()


def get_session(app_name: str = "pypers_spark", master: str | None = None) -> SparkSession:
    """Create (or reuse) a SparkSession with scale-aware defaults.

    - AQE on: runtime shuffle-partition coalescing + skew-join splitting.
    - Broadcast threshold 64 MB: all TPC-H dims broadcast even at large SF.
    - Arrow enabled: Pandas UDF paths are Arrow-batched, never row-wise.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE re-plan INSIDE cached plans too (off by default only
        # to keep cached output partitioning stable for consumers that
        # depend on it — Spark's coalesced shuffle read still reports
        # hash clustering, so same-key consumers stay exchange-free).
        # Without it every tracked_persist cache pins its map-side
        # partition count, and each consumer of a tiny cached readout
        # pays 32 fixed-cost tasks (shuffle-file creation dominated:
        # mm_phash_bucket_stats measured 1.67 s -> 0.85 s warm wall at
        # sf0.1 from this alone). Scale-generic: on a real cluster the
        # same coalescing bounds shuffle-block counts (guide §2.2).
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            os.environ.get("SPARK_GRAFT_CACHE_AQE", "true"),
        )
        .config("spark.sql.shuffle.partitions", DEFAULT_SHUFFLE_PARTITIONS)
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # AQE's runtime broadcast decision has its OWN threshold; without
        # it, hint-free joins whose build side is only known-small at
        # runtime (LSH candidate sets, post-filter dims) stay as shuffle
        # joins even when AQE measures them at a few KB.
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # FAIR job scheduling: every Batch task submits its jobs from
        # its own thread under its own pool (batch.py sets the
        # spark.scheduler.pool local property), and the scheduler
        # time-slices executors between concurrent tasks — the
        # Spark-native replacement for the reference's
        # one-OS-process-per-task parallelism. With a single job in
        # flight (a sequential batch, the query gate/bench) FAIR, and a
        # per-task pool, degenerate to FIFO, so this costs nothing when
        # unused.
        .config("spark.scheduler.mode", os.environ.get("SPARK_GRAFT_SCHEDULER", "FAIR"))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Scan fan-out for compute-heavy compressed inputs: Spark sizes
        # splits as min(maxPartitionBytes, max(openCostInBytes,
        # totalBytes/defaultParallelism)), so the 4 MB default open cost
        # serializes a snappy-parquet text corpus (5.8 MB on disk at
        # sf1, ~10x that decompressed, ~100x that in per-row string
        # work) onto 1-2 cores. 256 KB lets small-but-dense files use
        # the full machine; on a real cluster with many multi-GB files
        # the split size is governed by maxPartitionBytes as before.
        .config(
            "spark.sql.files.openCostInBytes",
            os.environ.get("SPARK_GRAFT_OPEN_COST", str(256 * 1024)),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # The Python<->JVM collect handshake defaults to 15 s; on a
        # saturated box (or a busy cluster driver) that window can lapse
        # and fail an otherwise-healthy toPandas with a spurious
        # SocketAuthServer awaitResult error. 120 s keeps transient
        # scheduler stalls from turning into hard failures.
        .config("spark.python.auth.socketTimeout", "120s")
        # Headless by default: the UI's SQL listener retains every
        # execution's AQE plan graph — measurable driver overhead and
        # memory growth over a long query sweep (10-20% on the bench's
        # heaviest queries). SPARK_GRAFT_UI=true re-enables it for
        # interactive debugging; retention caps bound listener state
        # either way.
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.sql.ui.retainedExecutions", "25")
        # Retention override for measurement tools (tools/spill_check.py
        # reads cumulative per-stage spill deltas through the UI REST
        # API, so a long run must not evict stage records mid-read).
        .config(
            "spark.ui.retainedJobs",
            os.environ.get("SPARK_GRAFT_UI_RETAINED", "100"),
        )
        .config(
            "spark.ui.retainedStages",
            os.environ.get("SPARK_GRAFT_UI_RETAINED", "100"),
        )
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_GRAFT_NO_MASTER"):
        # Local test rig; on a cluster the master comes from spark-submit.
        builder = builder.master(f"local[{DEFAULT_CPUS}]")
    return builder.getOrCreate()
