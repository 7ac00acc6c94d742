"""SparkSession factory with scale-conscious defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32 threads) but
every config below is chosen to also be the right default on a large cluster:

- AQE on: runtime partition coalescing, skew-join splitting, and dynamic
  join-strategy switching replace most hand-tuning at 100 TB.
- shuffle partitions sized for the local box; on a real cluster AQE's
  ``coalescePartitions`` makes the initial number a ceiling, not a target.
- Arrow enabled so any Pandas-UDF path is batch-columnar, never row-at-a-time.
- a generated-code cache sized to the pipeline's working set (see
  ``CODEGEN_CACHE_ENTRIES``).
"""

from __future__ import annotations

import os

from pyspark import SparkConf
from pyspark.sql import SparkSession

# Entries in Spark's JVM-wide cache of compiled whole-stage/expression
# classes (``spark.sql.codegen.cache.maxEntries``, default 100). A q69
# run compiles 148 distinct classes, and 17 registry queries need more
# than 100 (q115 the most: 176, 198 after a second run). A working set
# above the cap, revisited in the same order every run, makes LRU evict
# each class just before its next use, so every warm run recompiled all
# of them. The cache is 4 segments that each evict on their own, hence
# >= 4x headroom over the largest working set. Measurements: SCALE.md
# "Codegen cache sizing".
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    app_name: str = "smartbulkcopy-spark",
    cpus: int | str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or 32 — the driver's harness
    contract. On a real cluster you would drop ``master`` and submit via
    spark-submit; nothing else here is local-mode-specific.

    The codegen cache size is a static conf: it binds only when this call
    creates the session. A session built elsewhere (a caller's plain
    ``SparkSession.builder`` session) keeps Spark's default of 100
    entries; it cannot be raised at runtime.
    """
    cpus = str(cpus or os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle = str(max(int(cpus), 32))

    builder = SparkSession.builder.appName(app_name)
    # Respect a master configured via spark-submit / spark-defaults / env —
    # forcing local[] there would silently un-cluster the job. Only default
    # to local[] when nothing else chose a master.
    if not SparkConf().contains("spark.master") and "MASTER" not in os.environ:
        builder = builder.master(f"local[{cpus}]")
    builder = (
        builder
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let eager()/persist materializations use AQE too (off by
        # default): without it every cached intermediate materializes at
        # the full session shuffle width — 200 near-empty tasks per
        # eager() on a default foreign session, and measurably slower
        # eager-heavy chains here (q107 5.4 -> 4.6 s at sf0.1).
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        # Every fixture stores timestamps in microseconds, which Spark reads
        # as TIMESTAMP_NTZ. Nanosecond parquet (pandas' default unit, as in
        # hand-built test corpora) is refused without this flag and reads
        # as bigint nanos with it; queries.events_ts_ntz rebuilds events.ts.
        # Set at creation so no query builder has to write session conf.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Per-table copy jobs are submitted from a driver thread pool
        # (executor.py); FAIR scheduling interleaves their stages the way
        # the reference's greedy worker queue interleaves work items.
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.ui.enabled", "false")
        # static conf; reason at CODEGEN_CACHE_ENTRIES
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
