"""Operators that scope session conf must restore it.

`graph.pagerank` sets spark.sql.shuffle.partitions to its size-gated
iteration count for the duration of the loop (the AQE-off coalescing);
a leak would silently re-plan every subsequent query in the session at
the graph's partition count.
"""

from __future__ import annotations

from mapreduce_big_data_processing_spark.operators import graph as G


def test_pagerank_restores_shuffle_partitions(spark, monkeypatch):
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    edges = spark.createDataFrame(
        [("a", "b", 0.5), ("b", "a", 1.0), ("a", "c", 0.5), ("c", "a", 1.0)],
        "src string, dst string, weight double",
    )
    # two edges per partition: the 4 edges take the driver loop at 2
    # partitions, which the gate scopes on any machine with more cores
    monkeypatch.setattr(G, "_PARTITION_EDGES", 2)
    ranks = G.pagerank(edges, max_iter=3, checkpoint_every=2)
    assert spark.conf.get(key) == before  # restored before return
    assert ranks.count() == 3  # lazy tail still executes correctly
    assert spark.conf.get(key) == before
