"""The session factory's codegen class cache holds a whole registry pass.

Janino compiles each whole-stage-codegen stage into a Java class, and Spark
keeps compiled classes in a JVM-wide LRU cache. If a pass of the
benchmark's registry queries needs more classes than the cache holds, every
pass evicts what the next one needs and compiles it again.
"""

from __future__ import annotations

from automated_agro_climatic_data_warehouse_spark.plans import QUERIES
from automated_agro_climatic_data_warehouse_spark.session import (
    codegen_compiles,
    drop_checkpoint_blocks,
)

# the queries of the benchmark's `registry_queries` workload, in its order
REGISTRY_PASS = [
    "q1_pricing_summary",
    "j1_star_join_revenue",
    "agro_gdd_accumulation",
    "quality_suite",
    "graph_pagerank_k10",
]


def _registry_pass(spark, sf_dir) -> None:
    for name in REGISTRY_PASS:
        QUERIES[name].spark_fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        drop_checkpoint_blocks(spark)


def test_repeated_registry_pass_reuses_compiled_classes(spark, sf_dir):
    _registry_pass(spark, sf_dir)
    before = codegen_compiles(spark)
    _registry_pass(spark, sf_dir)
    compiled = codegen_compiles(spark) - before
    # a few stray compiles are expected: AQE picks PageRank's join strategy
    # from runtime sizes, so a round can land on a plan the first pass never
    # built; a cache too small for the pass recompiles ~137 classes here
    assert compiled <= 5, f"second pass compiled {compiled} classes"
