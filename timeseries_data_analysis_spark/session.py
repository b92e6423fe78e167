"""SparkSession factory.

Defaults are tuned so the same logical plans scale from local[32] test runs
to a multi-executor cluster: AQE on (runtime coalesce + skew-join), UTC
session timezone (oracle comparability), Arrow enabled for the few
pandas-UDF operators, a generated-class cache that holds a warm re-run's
classes, and shuffle partitions sized to cores locally (a cluster
deployment overrides via ``spark-defaults.conf``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "timeseries_data_analysis_spark",
              master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults.

    On a real cluster, ``master``/memory come from spark-submit; everything
    set here is safe to inherit. Locally we default to ``local[N]`` with
    N = $SPARK_GRAFT_CPUS (default all cores).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        cpus_env = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus_env) if cpus_env and cpus_env.isdigit() else 32

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Wide-then-coalesce (opt-in): starting shuffles at N>cores and
        # letting AQE coalesce keeps per-task sort sets memory-resident
        # on huge fact shuffles — measured at the 100x corpus:
        # waiting_suppliers 95 s -> 30 s, important_stock 53 -> 20 s
        # (SCALE §1l). NOT a blanket default because the kiln pipeline's
        # single-shared-exchange plan relies on exchange reuse that the
        # wider initial number defeats (test_single_window_exchange);
        # a cluster sets it in spark-defaults.conf per workload, local
        # scale probes set SPARK_GRAFT_INITIAL_PARTITIONS.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Subset-key co-partitioning: two sides already hash-partitioned on
        # the SAME subset of the join keys (e.g. series for a (ts, series)
        # join) are accepted as co-partitioned instead of re-exchanging on
        # the full key set. The align stage partitions by series alone so
        # the spine join and every downstream per-series window share one
        # distribution — this flag is what lets the join add no exchange.
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        # ANSI off: the engine uses explicit null-safe expression builders
        # (safe_div etc.); ANSI-on would turn reference NaN-tolerant math
        # into runtime errors.
        .config("spark.sql.ansi.enabled", "false")
        # Generated-class cache (JVM-global LRU, keyed by generated source)
        # sized to the working set of a warm re-run. Spark's default of 100
        # is smaller than one pass of the batch plans — kiln
        # run_pipeline(500) compiles 145 classes, dedup_clusters 68,
        # als_rankk_backtest 40 — so each re-run evicted every class before
        # its next use, recompiled it with Janino and ran fresh, un-JIT-ed
        # bytecode (kiln task CPU 6.3 -> 4.0 s per run with this cache,
        # 4-vCPU VM). The class count follows plan shape, not data size, so
        # every long-lived executor JVM on a cluster pays the same; 1000
        # leaves ~4x headroom over those 253.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    init_parts = os.environ.get("SPARK_GRAFT_INITIAL_PARTITIONS")
    if init_parts:
        b = b.config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            init_parts)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
