"""How many Spark jobs a PageRank run costs, and what its rounds execute.

A MapReduce algorithm is priced by its rounds, and on Spark each round's
fixed cost is a job. These tests pin the small-graph path of
`graph.pagerank` (one partition's worth of edges): every round runs
inside one Arrow task, so neither the job count nor the plan depends on
the number of rounds.
"""

from __future__ import annotations

import os
import uuid

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


def test_pagerank_top20_runs_rounds_in_one_task(spark, sf_dir):
    """At sf0.01 (16k edges: one partition) pagerank_top20 runs at most 3
    jobs with AQE off, as the benchmark runs: the graph build's broadcast,
    the probe that caches and counts the edges, and the caller's action,
    which runs all 10 rounds. Above the cached edges the plan has exactly
    one MapInPandas and no per-round join or broadcast."""
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
    assert jobs <= 3, jobs
    names = list(_node_names(plan))
    assert names.count("MapInPandas") == 1, names
    for exchange in ("BroadcastExchange", "ReusedExchange", "Exchange"):
        assert exchange not in names, names
    assert not any("Join" in name for name in names), names


def test_pagerank_dangling_rounds_cost_constant(spark):
    """A dangling round reads the previous ranks twice (contributions and
    the dangling mass). Without a checkpoint per round the executed plan
    of this a→b graph doubled per round (2429, 5461, 11526 and 23658
    lines for 2 to 5 rounds, and 174 jobs for 5); a checkpoint per round
    made both grow linearly. In one task neither grows: max_iter 2..6
    runs the same jobs and the same plan."""
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
    assert len(set(jobs)) == 1, jobs
    assert len(set(lines)) == 1, lines
