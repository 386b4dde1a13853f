"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line: {"metric": ..., "value": <total sec>, "unit": "sec",
"queries": {name: sec, ...}, "sf": <scale factor>, "duckdb_value": ...,
"duckdb_queries": {...}}.

Protocol (r4, per the r3 verdict): engine and DuckDB samples INTERLEAVE
in one loop — per query, alternating E/D/E/D/... for
$SPARK_GRAFT_BENCH_SAMPLES (default 5) samples each, medians reported for
both sides from the same wall-clock window. Shared-box load drift then
hits both engines equally, so a per-query ratio shift is a plan change,
not noise (r3 adjudicated 17 "regressions" that were exactly this).
Set SPARK_GRAFT_INTERLEAVE=0 for the engine-only legacy mode (used by
bench_scale.py, where some correctness-shaped oracles are intractable).

Each query is executed to completion (toPandas / fetchall) after a
warm-up pass; time covers plan + execution, not JVM startup.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
INTERLEAVE = os.environ.get("SPARK_GRAFT_INTERLEAVE", "1") != "0"
N_SAMPLES = int(os.environ.get("SPARK_GRAFT_BENCH_SAMPLES", "5" if INTERLEAVE else "3"))

#: headline set: one per operator family, heaviest shapes first
HEADLINE = [
    "pricing_summary",
    "revenue_by_nation",
    "brand_volume",
    "top_customers",
    "order_count_histogram",
    "nation_market_share",
    "supplier_rank_in_nation",
    "hourly_event_counts",
    "hourly_avg_value",
    "forecast_rmse",
    "user_session_counts",
    "word_count",
    "cooccurrence_pairs",
    "tfidf",
    "inverted_index",
    "exact_dedup",
    "token_stats",
    "quality_scores",
    # r8: the GRADED kNN entry is the 100 TB route (collect-free LSH
    # bucket join, corpus-sized planes); the exact quadratic baseline
    # stays registered/oracled as knn_predictions but is no longer the
    # bench representative (r7 verdict ask #3)
    "knn_predictions_routed",
    "embedding_near_dup",
    "minhash_lsh_pairs",
    "chunk_dedup_docs",
    "benchmark_contamination",
    "bm25_ranked_docs",
    "doc_cross_entropy",
    "corpus_split_counts",
    "curated_training_set",
    "pagerank_top20",
]


def _median(xs: list[float]) -> float:
    # statistics.median averages the two middle samples for even n —
    # taking sorted(xs)[n//2] would report the upper-middle sample and
    # bias times high whenever SPARK_GRAFT_BENCH_SAMPLES is even.
    import statistics

    return round(statistics.median(xs), 3)


def main() -> None:
    from mapreduce_big_data_processing_spark.session import get_session
    from mapreduce_big_data_processing_spark import queries as Q

    # adaptive=False: at sf≤0.1 every shuffle is a few MB — AQE's per-stage
    # re-optimization latency (~0.1 s/query) buys nothing here; it goes back
    # on for real scale (see session.get_session docstring)
    spark = get_session("bench", cpus=CPUS, adaptive=False)
    spark.sparkContext.setLogLevel("ERROR")

    names = [n for n in HEADLINE if n in Q.QUERIES]

    con = None
    oracles: dict[str, str] = {}
    if INTERLEAVE:
        import duckdb

        con = duckdb.connect()
        con.execute(f"SET threads TO {CPUS}")
        for t in (
            "region nation customer supplier part orders lineitem events "
            "documents embeddings".split()
        ):
            path = f"{SF_DIR}/{t}.parquet"
            src = f"'{path}/*.parquet'" if os.path.isdir(path) else f"'{path}'"
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM {src}")
        oracles = Q.oracle_sql()

    # Warm-up at the MEASURED scale factor: whole-stage-codegen compiles
    # per physical plan, and AQE picks different physical plans at
    # different scales, so a small-sf warm-up leaves the real plans cold
    # (~0.3-0.5 s first-run compile per query). DuckDB's warm run primes
    # its buffer/OS page cache symmetrically.
    for name in names:
        Q.QUERIES[name](spark, SF_DIR).toPandas()
        if con is not None and name in oracles:
            con.sql(oracles[name]).fetchall()
    # drop materialized .cache()s so timed runs re-execute full pipelines
    spark.catalog.clearCache()

    times: dict[str, float] = {}
    duck_times: dict[str, float] = {}
    for name in names:
        e_samples: list[float] = []
        d_samples: list[float] = []
        for _ in range(N_SAMPLES):
            # each engine sample re-executes the FULL pipeline — drop
            # .cache()s a previous sample materialized (DuckDB re-runs its
            # CTEs too)
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            # Arrow collect: materialize every result value on the driver —
            # the same contract the DuckDB side pays with fetchall(). (A
            # noop-format write was ~0.37 s/query slower: the InsertInto
            # command path re-plans and runs a write-commit protocol.)
            Q.QUERIES[name](spark, SF_DIR).toPandas()
            e_samples.append(time.perf_counter() - t0)
            if con is not None and name in oracles:
                t0 = time.perf_counter()
                con.sql(oracles[name]).fetchall()
                d_samples.append(time.perf_counter() - t0)
        times[name] = _median(e_samples)
        if d_samples:
            duck_times[name] = _median(d_samples)

    m = re.search(r"sf([0-9.]+)", SF_DIR)
    sf = float(m.group(1).rstrip(".")) if m else None
    out = {
        "metric": "headline_queries_total",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "sf": sf,
    }
    if duck_times:
        out["duckdb_value"] = round(sum(duck_times.values()), 3)
        out["duckdb_queries"] = duck_times
        out["samples"] = N_SAMPLES
        out["protocol"] = "interleaved"
        # ADDITIVE keys (r10 verdict #7): per-query engine/DuckDB ratio from
        # the SAME interleaved window, so a cross-round PERF comparison can
        # separate box-load drift (both engines move, ratio flat) from a
        # plan change (ratio moves) mechanically. The contract line and all
        # pre-existing keys are unchanged.
        out["ratios"] = {
            n: round(times[n] / duck_times[n], 3)
            for n in times
            if duck_times.get(n)
        }
        if out["duckdb_value"]:
            out["ratio_total"] = round(out["value"] / out["duckdb_value"], 3)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
