"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32) but every
config choice is made for a real multi-executor cluster at ~100 TB:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting)
- shuffle partitions sized to cores locally; at cluster scale AQE's
  ``advisoryPartitionSizeInBytes`` governs the real fan-out
- session timezone pinned to UTC (the reference stores naive-UTC
  timestamps; pinning makes results independent of driver locale)
- Arrow enabled for any pandas interchange (vectorized, not per-row)
- two constants that cut the fixed driver cost of an hourly cron run: a
  codegen cache that holds a run's generated classes, and no per-Column
  call-site capture (reasons and trade-offs beside each; measured in
  ROADMAP.md, "Fixed driver cost of one untraced cron run"). Neither is
  set by ``configure_session``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "weather-data-pipeline-sv-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # let Python Data Sources (sources/brightsky_datasource.py) consume
        # pushed filters for partition pruning
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # 64MB broadcast threshold: a deliberate LOCAL-PERF choice, safe
        # because (a) AQE re-plans joins with REAL post-shuffle sizes, so
        # a table that outgrows the threshold at scale gets a shuffle
        # join, never a runaway broadcast; and (b) every join whose build
        # side is UNBOUNDED BY DESIGN (per-doc counts, bigram LMs,
        # per-user mins, window-hash dfs — tables that grow with the
        # data) carries an explicit shuffle_hash hint at the operator
        # level, so its plan does not depend on this knob at all.
        # Measured: threshold at the 10MB default slowed the 30x bench
        # 198 -> 243 s (mid-size broadcasts are genuinely right locally)
        # while the hints alone fixed the one pathological broadcast
        # (gap-fill, 31 -> 13 s — see SCALE.md).
        # overridable because the right threshold scales with DRIVER HEAP:
        # a 64MB serialized table deserializes to several hundred MB while
        # building the broadcast — fine under the default 16g, fatal under
        # a 2g memory-constrained run (measured: d6 at the 30x dir dies in
        # AQE broadcast materialization at 2g/64MB, completes at 2g/8MB —
        # SCALE.md round-4 spill section)
        .config(
            "spark.sql.autoBroadcastJoinThreshold",
            os.environ.get(
                "SPARK_GRAFT_BROADCAST_THRESHOLD", str(64 * 1024 * 1024)
            ),
        )
        # merge-by-key writers overwrite only touched date partitions
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        # Generated-class LRU (static; default 100). One cron run uses about
        # 150-250 classes, so at 100 each run evicts the classes the next
        # run would reuse. This pays off only when one driver JVM serves
        # consecutive cron runs: a long-lived driver ticking
        # plans/scheduler.py's Scheduler, whose catch-up and overlap state
        # lives in that process, or perfbench's hourly workload. A cron run
        # in a fresh JVM compiles nearly all of its classes either way.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # Per-Column call-site capture (PySpark 4): each F.* call and
        # Column operator otherwise reads the active session and a conf,
        # walks the Python stack and sets and clears a JVM thread-local,
        # about 10 Py4J round trips; this helps a fresh JVM too. Lost: only
        # the Python file and line in the "== DataFrame ==" context of a
        # runtime error; the error itself (e.g. ANSI DIVIDE_BY_ZERO) is
        # raised as before. PySpark reads this once per process, at the
        # first Column call with a session.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable configs to an externally-created session.

    The correctness driver hands us its own SparkSession; only
    runtime-mutable confs can be set here (timezone matters most: parquet
    naive timestamps must collect identically to DuckDB's).

    ``get_spark``'s codegen cache size and call-site capture setting are
    left out: the first is static, and the second would change how a
    driver-provided session reports its errors.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # testdata events.ts is TIMESTAMP(NANOS) parquet — read as long, converted
    # back to micros in sources/testdata.py (matches DuckDB's ns→us floor)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    except Exception:
        pass  # static conf on some builds; fine
    return spark
