"""SparkSession factory with the engine's scale-oriented defaults.

local[N] here; on a real cluster the same config ships via
``spark-submit --py-files maskmypy_spark.zip`` (see BENCH/BASELINE.md).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

CODEGEN_CACHE_ENTRIES = 2000


def get_spark(
    app: str = "maskmypy-spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cores = int(cores or os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        # AQE: runtime re-plan, skew-join splitting, partition coalescing —
        # the north rule's explicit skew handling rides on this plus the
        # engine's own hot-cell salting (operators/distance_join.py).
        .config("spark.sql.adaptive.enabled", "true")
        # InferFiltersFromConstraints synthesizes isnotnull(<expr>) filters
        # on join inputs and pushes them below the exchanges, re-inlining
        # the full hash-RNG mask expressions that the operators deliberately
        # micro-stage — the inferred filter alone blows janino's 64 KB
        # method limit and drops the hottest join stages to interpreted
        # mode (~15-30x slower; BENCH_r01's q_locationswap pathology). The
        # engine's inputs carry no nulls in key or coordinate columns, so
        # the inferred filters never prune a row; excluding just this rule
        # keeps the rest of constraint propagation intact.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromConstraints",
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Compiled classes are cached per generated source. Spark's default
        # of 100 entries is smaller than one curate_near call's stage set:
        # on a 4k-doc corpus at local[4] every warm pass recompiled 24-27
        # classes; with 2000 entries it recompiled none.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # dims up to 64 MB broadcast instead of shuffling the fact side —
        # standard practice on executors with multi-GB memory; the default
        # 10 MB left e.g. the per-point k-count table (right at the
        # threshold) shuffling both sides of its left join.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Arrow everywhere Python is unavoidable; bounded batches so
        # image-bytes batches fit executor memory (SURVEY §7 hard part 5).
        # UTC session tz: Spark timestamps are session-tz, DuckDB's (the
        # oracle) are UTC-naive — pin so timestamp-valued columns compare.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    # deploy/experiment hook: semicolon-separated key=value pairs applied
    # last (e.g. SPARK_GRAFT_EXTRA_CONF="spark.io.compression.codec=zstd;
    # spark.memory.offHeap.enabled=true") — cluster-level knobs without
    # touching call sites; BENCH/exp_832.py drives its config matrix here.
    extra = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    for pair in filter(None, (p.strip() for p in extra.split(";"))):
        k, _, v = pair.partition("=")
        builder = builder.config(k.strip(), v.strip())
    return builder.getOrCreate()
