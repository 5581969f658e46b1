"""SparkSession factory.

Local test profile mirrors the driver environment (local[N], one JVM),
but every knob is chosen so the same plans scale to a multi-executor
cluster: AQE for runtime re-planning (skew joins, small-shuffle
coalescing), Arrow for the few Pandas-UDF paths, UTC session timezone so
results are oracle-comparable, and shuffle partitions sized to cores
locally (override via spark.sql.shuffle.partitions on a real cluster).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """min(24g, half of physical RAM): a fixed 24g heap on a smaller
    host lets the JVM grow until the kernel kills it."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "24g"
    return f"{min(24 * 1024, kb // 2048)}m"


def get_spark(app_name: str = "mapreduce_itwiki_spark", cpus: int | str | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or 32 — only meaningful for
    local mode; on a cluster the master/executor topology comes from
    spark-submit and these configs pass through harmlessly.
    """
    if cpus is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # shuffle parallelism ≈ cores locally; AQE coalesces further at runtime
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # every adaptive shuffle STARTS at 8× parallelism and AQE
        # coalesces down by size (advisory 64 MB): big exchanges keep
        # enough partitions that single-phase aggregates (the shared
        # repartition idiom in duplicate_spans / naive Bayes) hold
        # bounded per-task hash state — at the bare session default the
        # sf20 gram stream put ~9 M keys × 32 tasks on one heap and
        # OOMed — while toy-scale exchanges coalesce to a handful of
        # tasks, so the toy bench doesn't pay 256-way scheduling.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(8 * int(cpus)),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # parquet timestamps written without isAdjustedToUTC (naive
        # micros, as the driver's events table is) would otherwise infer
        # as TIMESTAMP_NTZ, which unix_micros/epoch arithmetic rejects.
        # Read them as session-TZ TIMESTAMP instead: with the UTC session
        # timezone above this is exactly DuckDB's naive-=-UTC semantics,
        # so oracle epoch math agrees byte-for-byte.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
        # an orderBy.limit(k) whose k means "rank everything" (10**9)
        # would plan TakeOrderedAndProject, whose per-task heap allocates
        # 2k slots up front; above this k it plans Sort + limit instead.
        # The same bound caps the rank limit pushed into WindowGroupLimit.
        .config("spark.sql.execution.topKSortFallbackThreshold", "1000000")
        # whole-stage codegen compiles one JVM class per query stage; a
        # long session running 100+ distinct md5/regex-heavy plans fills
        # the default 240 MB code cache, after which the JIT silently
        # stops compiling and generated code runs INTERPRETED (measured
        # 2 s → 15 s on signature queries late in a bench session).
        # Reserve enough for the whole catalog up front.
        # appended to (not replacing) any user-supplied driver JVM opts
        # from $SPARK_GRAFT_DRIVER_JAVA_OPTIONS, so callers can still
        # pass their own flags (GC logging, heap dumps, …)
        .config(
            "spark.driver.extraJavaOptions",
            (
                os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTIONS", "")
                + " -XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing"
            ).strip(),
        )
        # Spark's generated-class cache is an LRU of 100 entries by
        # default. A plan mix wider than that evicts every class before
        # its next use, so each warm pass recompiles all of it with
        # Janino. Distinct classes per pass, measured: perfbench's
        # catalog_overhead ≈ 180 and index_lifecycle ≈ 350 (153–171 and
        # 332–334 recompiles per warm pass at the default); bench.py's
        # headline 1,538 at sf0.01 and 1,537 at sf0.1, plus ≈ 80 per
        # pass from plans that inline per-run literals. 4096 holds the
        # widest mix with ≈ 2× headroom. Static conf: set on the
        # builder, read once when the JVM's code generator first runs.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.ui.enabled", "false")
        # Local-mode JVM-suicide guard (r10): the virtualization host
        # shows multi-second CPU-steal stalls (TUNING.md). One stalled
        # heartbeat makes HeartbeatReceiver ask the executor to
        # re-register, and in local mode that re-registration can NEVER
        # succeed — BlockManagerMasterEndpoint verifies executor
        # liveness against the CoarseGrainedScheduler endpoint, which
        # does not exist in local mode — so every subsequent heartbeat
        # fails ("Cannot find endpoint: spark://CoarseGrainedScheduler@
        # …") and after spark.executor.heartbeat.maxFailures (default
        # 60, ≈10 min at the 10 s interval) the executor System.exit()s
        # the SHARED driver JVM mid-run. Observed killing 3 of 4 full
        # test-suite runs at round-10 start, each ~10 min in at a
        # different test. In a single-JVM local run "the driver is
        # unreachable, give up" is never the right conclusion, so the
        # failure cap is effectively disabled and the RPC ask timeout
        # is sized to ride out steal bursts. Cluster deployments keep
        # their own defaults — these only bind in this local profile.
        .config("spark.executor.heartbeat.maxFailures", "100000")
        .config("spark.network.timeout", "600s")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_compilations(spark: SparkSession) -> int:
    """Janino compiles this JVM has run so far (Spark's CodegenMetrics).
    Over a warm pass the delta counts the generated classes the codegen
    cache did not keep."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()
