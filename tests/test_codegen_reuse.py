"""Repeated work reuses its generated code.

Spark compiles each whole-stage-codegen stage to a Java class and keeps
the classes in a cache keyed by the generated source. A query run again
in the same session should find every class there. Two things defeat
that: a cache smaller than the working set (Spark's default keeps 100
classes, and one pass of the benchmark's corpus_graph jobs compiles about
150), and a plan whose generated source changes from call to call (a
limit names its counter by plan-node id, so every ``limit(n).count()``
compiles new classes).
"""

from __future__ import annotations

from mapreduce_big_data_processing_spark import queries as Q
from mapreduce_big_data_processing_spark import session
from mapreduce_big_data_processing_spark.operators import graph as G

CORPUS_GRAPH = (
    "pagerank_top20", "curated_training_set", "embedding_near_dup", "knn_accuracy",
)


def _compiles(spark) -> int:
    """Classes compiled so far by this JVM."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_builder_sizes_codegen_cache(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        session._CODEGEN_CACHE_ENTRIES
    )


def test_corpus_graph_queries_compile_nothing_when_repeated(spark, sf_dir):
    """The benchmark's corpus_graph jobs, run as it runs them (AQE off,
    pandas results, caches cleared after each job): the second pass
    compiles no class."""
    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        counts = []
        for _ in range(2):
            before = _compiles(spark)
            for name in CORPUS_GRAPH:
                Q.QUERIES[name](spark, sf_dir).toPandas()
                spark.catalog.clearCache()
            counts.append(_compiles(spark) - before)
    finally:
        spark.conf.set(key, prev)
        spark.catalog.clearCache()
    assert counts[1] == 0, counts


def test_connected_components_compiles_nothing_when_repeated(spark):
    """The convergence probe of every round plans the same code on every
    call, so a second identical run compiles nothing."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 6), (7, 7)], "src long, dst long"
    )
    counts = []
    for _ in range(2):
        before = _compiles(spark)
        G.connected_components(edges).collect()
        counts.append(_compiles(spark) - before)
        spark.catalog.clearCache()
    assert counts[1] == 0, counts
