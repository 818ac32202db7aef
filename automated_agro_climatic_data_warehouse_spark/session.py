"""SparkSession factory.

One place to pin every config that matters for correctness parity with the
DuckDB oracle (UTC session timezone, Arrow) and for local[N] throughput
(AQE, shuffle partitions sized to cores, not the 200 default).

Whole-stage codegen turns each plan stage into a Java class that Janino
compiles and Spark keeps in a JVM-wide LRU cache. Two settings size that
cache to the engine's working set:

- `spark.sql.codegen.cache.maxEntries` = 1000 (Spark default 100). One
  pass of the benchmark's five registry queries needs 141 classes, so at
  100 every pass evicted what the next pass needed and recompiled ~137.
- `spark.sql.codegen.useIdInClassName` = false. The stage id is left out
  of the generated class name, so stages that generate the same code (the
  ten PageRank rounds) share one class, and a class compiled in one run is
  found again in the next even when AQE numbers the stages differently.

At cluster scale the same builder works — only master/memory change; the
partitioning knobs (`spark.sql.shuffle.partitions`) should then be set to
~2-3x total cores or left to AQE coalescing.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "agro_dwh_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) the session.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default: all cores).
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # shuffle partitions ~ cores for local mode; AQE coalesces further
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        # UTC so timestamp values hash identically to DuckDB's naive-UTC
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Let the planner pick shuffled-hash join when its size conditions
        # fit (guide-standard batch-ETL baseline): SHJ skips the sort on
        # both sides, and the planner still falls back to sort-merge when
        # no side can build a local hash map, so the setting is
        # scale-safe. Interleaved best-of-3 A/B at sf0.1 on the 10
        # heaviest join-shaped queries: -14% total (pagerank -32%,
        # modularity -33%, ivfpq -25%), no confirmed regression. A later
        # conf-flip A/B on the two queries that looked slower under it
        # (sample_group_kfold, graph_label_propagation) moved them in
        # opposite directions within noise, so this is a fixed setting.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # Codegen class cache sized to the working set (module docstring).
        # Measured on the benchmark's registry pass, 4 cores: each later
        # pass compiles 0-4 classes instead of 137, and its CPU fell
        # 6.56 -> 4.45 s (median of 20 runs each). Cost: ~10 MB more
        # metaspace over a full-registry run.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.codegen.useIdInClassName", "false")
        # bucketed managed tables (warehouse.write_bucketed) land here;
        # session-scoped in-memory catalog, parquet files on disk
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def drop_checkpoint_blocks(spark: SparkSession) -> None:
    """Free all persisted RDD blocks (localCheckpoint intermediates from
    the dedup/CC/graph families are never auto-freed). Timing harnesses
    (bench.py, tools/scale_probe.py) call this between queries: left in
    place, accumulated blocks add GC/eviction pressure measured to
    inflate later timings 2-5x."""
    jsc = spark.sparkContext._jsc
    for rdd_id in list(jsc.getPersistentRDDs().keySet()):
        jsc.sc().unpersistRDD(rdd_id, True)


def codegen_compiles(spark: SparkSession) -> int:
    """Classes Janino has compiled in this JVM so far, from Spark's
    `CodegenMetrics`; take deltas around the work to attribute."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()
