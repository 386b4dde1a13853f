"""How many Spark jobs a PageRank run costs, and what its rounds execute.

A MapReduce algorithm is priced by its rounds, and on Spark each round's
fixed cost is a job. These tests pin the small-graph loop of
`graph.pagerank` (one partition's worth of edges): the cached edges are
broadcast once and every round of a checkpoint segment reuses that
broadcast inside one stage. They also pin the dangling-graph loop, whose
rounds read the previous ranks twice and so must not let the plan double
per round.
"""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.sql import functions as F

from mapreduce_big_data_processing_spark import queries as Q
from mapreduce_big_data_processing_spark.operators import graph as G


def _run_jobs(spark, action):
    """(action's result, number of Spark jobs it ran)."""
    sc = spark.sparkContext
    group = f"pagerank-rounds-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _node_names(plan):
    """Node names of a physical plan; a cached relation's own plan is a
    field of its scan, not a child, so it is not walked."""
    yield plan.nodeName()
    kids = plan.children()
    for i in range(kids.size()):
        yield from _node_names(kids.apply(i))


@pytest.mark.slow
def test_pagerank_top20_broadcasts_edges_once(spark, sf_dir):
    """At sf0.01 (16k edges: one partition) pagerank_top20 runs at most 6
    jobs: the graph build with its probe, the checkpoint after round 5
    with its edge broadcast, and the final rounds with theirs. With AQE
    off, as the benchmark runs, the final plan broadcasts the cached edges
    once, reuses that broadcast in the other four rounds, and has no
    Exchange at all."""
    sf = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        Q._t(spark, sf, "documents")  # the schema read is not the query's
        spark.catalog.clearCache()

        def run():
            df = Q.QUERIES["pagerank_top20"](spark, sf)
            return df, df.collect()

        (df, rows), jobs = _run_jobs(spark, run)
        plan = df._jdf.queryExecution().executedPlan()
    finally:
        spark.conf.set(key, prev)
        spark.catalog.clearCache()
    assert len(rows) == 20
    assert jobs <= 6, jobs
    names = list(_node_names(plan))
    assert names.count("BroadcastExchange") == 1, names
    assert names.count("ReusedExchange") == 4, names
    assert "Exchange" not in names, names
    assert "InMemoryTableScan" in plan.toString().split("BroadcastExchange")[1]


@pytest.mark.slow
def test_pagerank_dangling_rounds_grow_linearly(spark):
    """A dangling round reads the previous ranks twice (contributions and
    the dangling mass). Without a checkpoint per round the executed plan
    of this a→b graph doubled per round (2429, 5461, 11526 and 23658
    lines for 2 to 5 rounds, and 174 jobs for 5). Now each extra round
    adds a bounded number of jobs, and the plan does not grow at all.
    (Steps are not all equal: the checkpoints carry the optimizer's
    compounding size estimate, so a join's strategy can switch once.)"""
    edges = spark.createDataFrame(
        [("a", "b", 1.0)], "src string, dst string, weight double"
    )
    jobs, lines = [], []
    for k in (2, 3, 4, 5, 6):
        def run():
            ranks = G.pagerank(edges, max_iter=k)
            return ranks, ranks.agg(F.sum("pr")).collect()[0][0]

        (ranks, total), n_jobs = _run_jobs(spark, run)
        assert abs(total - 1.0) < 1e-9
        jobs.append(n_jobs)
        plan = ranks._jdf.queryExecution().executedPlan().toString()
        lines.append(len(plan.splitlines()))
        spark.catalog.clearCache()
    steps = [b - a for a, b in zip(jobs, jobs[1:])]
    assert 0 < min(steps) and max(steps) <= 2 * min(steps), jobs
    assert max(lines) <= 1.1 * min(lines), lines
