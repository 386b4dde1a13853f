"""HLL sketch rollup: accuracy and lossless-merge properties.

The whole point of the sketch cube is that merging daily sketch states
answers the monthly question without re-scanning raw data — these tests pin
(a) the estimate is close to exact, (b) merge-of-parts equals the
single-pass sketch (same lgConfigK → lossless union), so rollup depth
never degrades the answer.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapreduce_big_data_processing_spark import catalog
from mapreduce_big_data_processing_spark import queries as Q
from mapreduce_big_data_processing_spark.operators import sketches as SK


def test_hll_query_smoke(spark, sf_dir):
    """Registered error-bound query: one row per event type, every HLL
    estimate inside its 5% bound (the oracle's TRUE flag)."""
    rows = Q.QUERIES["monthly_user_reach_hll"](spark, sf_dir).collect()
    assert len(rows) > 0
    assert all(r["exact_reach"] > 0 for r in rows)
    assert all(r["within_bounds"] for r in rows)


def test_hll_rollup_accuracy_and_lossless_merge(spark, sf_dir):
    ev = catalog.load(spark, "events", sf_dir).withColumn(
        "day", F.date_trunc("day", "ts")
    )

    daily = SK.sketch_distinct(ev, ["event_type", "day"], "user_id")
    rolled = {
        r["event_type"]: r["distinct_est"]
        for r in SK.merge_rollup(daily, ["event_type"]).collect()
    }

    single_pass = {
        r["event_type"]: r["distinct_est"]
        for r in SK.merge_rollup(
            SK.sketch_distinct(ev, ["event_type"], "user_id"), ["event_type"]
        ).collect()
    }

    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }

    assert set(rolled) == set(exact)
    for et, n in exact.items():
        # lgConfigK=12 → ~1.6% relative standard error; allow 3 sigma
        assert abs(rolled[et] - n) <= max(3, 0.05 * n), (et, rolled[et], n)
        # merging the daily parts must equal sketching the whole directly
        assert rolled[et] == single_pass[et], (et, rolled[et], single_pass[et])


def test_streaming_reach_matches_batch_sketch(spark, sf_dir, tmp_path):
    """The streamed windowed HLL estimate must equal the batch estimate on
    the same data — sketch state merges across triggers losslessly."""
    from mapreduce_big_data_processing_spark.streaming import windows as SW

    ev = catalog.load(spark, "events", sf_dir)
    src = str(tmp_path / "stream_in")
    ev.coalesce(4).write.mode("overwrite").parquet(src)

    stream = SW.approx_reach_stream(
        SW.read_event_stream(spark, src, max_files_per_trigger=1), "1 day", "2 hours", "event_type"
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("reach_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    streamed = {
        (r["window_start"], r["event_type"]): r["reach_est"]
        for r in spark.sql("SELECT * FROM reach_stream").collect()
    }

    batch = {
        (r["window_start"], r["event_type"]): r["reach_est"]
        for r in (
            ev.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
            .agg(F.hll_sketch_agg("user_id", F.lit(12)).alias("hll"))
            .select(
                F.col("w.start").alias("window_start"),
                "event_type",
                F.hll_sketch_estimate("hll").alias("reach_est"),
            )
        ).collect()
    }
    assert streamed == batch and len(streamed) > 0


def test_heavy_hitters_exact_under_skew(spark):
    """Forced eviction: zipf-ish skew with capacity far below the domain —
    the sketch+verify result must STILL equal plain GROUP BY + HAVING."""
    import itertools

    rows = list(
        itertools.chain.from_iterable(
            [f"k{i}"] * n
            for i, n in enumerate([400, 250, 120, 60, 30] + [7] * 100 + [1] * 300)
        )
    )
    df = spark.createDataFrame([(v,) for v in rows], "k string").repartition(8)
    # capacity 51 > 1/min_frac keeps the superset guarantee while the
    # 105-key domain still forces MG eviction
    got = {
        (r["k"], r["cnt"])
        for r in SK.heavy_hitters(df, "k", min_frac=0.02, capacity=51).collect()
    }
    n = len(rows)
    exact = {
        (r["k"], r["cnt"])
        for r in df.groupBy("k")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= -(-int(0.02 * n) // 1))
        .collect()
        if r["cnt"] * 50 >= n
    }
    assert got == exact and len(exact) >= 3


def test_theta_overlap_accuracy(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    row = SK.theta_distinct_overlap(
        ev, "event_type", "user_id", ["click", "purchase"]
    ).collect()[0]
    c = {r[0] for r in ev.filter(F.col("event_type") == "click").select("user_id").distinct().collect()}
    p = {r[0] for r in ev.filter(F.col("event_type") == "purchase").select("user_id").distinct().collect()}
    assert abs(row["distinct_0"] - len(c)) <= max(2, 0.05 * len(c))
    assert abs(row["distinct_1"] - len(p)) <= max(2, 0.05 * len(p))
    assert abs(row["intersection_est"] - len(c & p)) <= max(3, 0.1 * len(c & p))
    assert abs(row["union_est"] - len(c | p)) <= max(3, 0.05 * len(c | p))


def test_kll_rollup_rank_accuracy(spark, sf_dir):
    from mapreduce_big_data_processing_spark import catalog

    ev = catalog.load(spark, "events", sf_dir).withColumn(
        "day", F.date_trunc("day", "ts")
    )
    got = {
        r["event_type"]: r
        for r in SK.kll_quantile_rollup(
            ev, ["event_type", "day"], "value", ["event_type"]
        ).collect()
    }
    vals = {}
    for r in ev.select("event_type", "value").collect():
        vals.setdefault(r["event_type"], []).append(r["value"])
    for et, xs in vals.items():
        xs.sort()
        for q, col in [(0.5, "q_0_5"), (0.95, "q_0_95")]:
            est = got[et][col]
            # rank of the estimate must be within ±4% of the target rank
            import bisect

            rank = bisect.bisect_left(xs, est) / len(xs)
            assert abs(rank - q) <= 0.04, (et, q, rank, est)


def test_streaming_kll_quantiles_match_batch(spark, sf_dir, tmp_path):
    """Streaming KLL: sketch `value` per (event_type, day) window under
    Structured Streaming, then answer per-type quantiles by merging the
    streamed sketch states — must equal the batch kll_quantile_rollup on
    the same data (sketch merges are order-insensitive)."""
    from mapreduce_big_data_processing_spark import catalog
    from mapreduce_big_data_processing_spark.streaming import windows as SW

    ev = catalog.load(spark, "events", sf_dir)
    src = str(tmp_path / "kll_stream_in")
    ev.coalesce(4).write.mode("overwrite").parquet(src)

    stream = SW.read_event_stream(spark, src, max_files_per_trigger=1)
    windowed = (
        stream.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.kll_sketch_agg_double(F.col("value").cast("double")).alias("kll")
        )
    )
    q = (
        windowed.writeStream.format("memory")
        .queryName("kll_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    streamed_cells = spark.sql("SELECT event_type, kll FROM kll_stream")
    lst = F.collect_list("kll")
    folded = F.aggregate(
        F.slice(lst, F.lit(2), F.greatest(F.size(lst) - 1, F.lit(0))),
        F.element_at(lst, 1),
        lambda acc, x: F.kll_sketch_merge_double(acc, x),
    )
    got = {
        r["event_type"]: (r["p50"], r["p95"])
        for r in streamed_cells.groupBy("event_type")
        .agg(folded.alias("kll"))
        .select(
            "event_type",
            F.kll_sketch_get_quantile_double("kll", F.lit(0.5)).alias("p50"),
            F.kll_sketch_get_quantile_double("kll", F.lit(0.95)).alias("p95"),
        )
        .collect()
    }
    # KLL's guarantee is in RANK space (±ε of the target rank), not value
    # space — compare the streamed estimates' ranks against the exact
    # per-type distributions, same protocol as the batch rollup test
    import bisect

    vals: dict = {}
    for r in ev.select("event_type", "value").collect():
        vals.setdefault(r["event_type"], []).append(r["value"])
    assert set(got) == set(vals) and len(got) == 5
    for et, xs in vals.items():
        xs.sort()
        for target, est in [(0.5, got[et][0]), (0.95, got[et][1])]:
            rank = bisect.bisect_left(xs, est) / len(xs)
            assert abs(rank - target) <= 0.04, (et, target, rank, est)


def test_count_min_overestimates_and_merges(spark, sf_dir):
    """CM invariants: est >= exact for EVERY key (one-sided error), and
    merge-of-parts equals the single-pass sketch cell-for-cell (the
    mergeable-ingest contract)."""
    ev = catalog.load(spark, "events", sf_dir)
    cm = SK.count_min_table(ev, "user_id", depth=3, width=32)
    keys = ev.select("user_id").distinct()
    est = {
        r["user_id"]: r["est"]
        for r in SK.count_min_estimate(cm, keys, "user_id", 3, 32).collect()
    }
    exact = {
        r["user_id"]: r["n"]
        for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert set(est) == set(exact)
    assert all(est[k] >= exact[k] for k in exact)
    # width collapse forces collisions: at least one key must overcount
    tiny = SK.count_min_table(ev, "user_id", depth=2, width=4)
    est_tiny = {
        r["user_id"]: r["est"]
        for r in SK.count_min_estimate(tiny, keys, "user_id", 2, 4).collect()
    }
    if len(exact) > 4:
        assert any(est_tiny[k] > exact[k] for k in exact)

    halves = [
        SK.count_min_table(ev.filter(F.col("event_id") % 2 == i), "user_id", 3, 32)
        for i in (0, 1)
    ]
    merged = {
        (r["cm_row"], r["bucket"]): r["cnt"]
        for r in SK.count_min_merge(*halves).collect()
    }
    single = {(r["cm_row"], r["bucket"]): r["cnt"] for r in cm.collect()}
    assert merged == single


def test_count_min_estimate_unseen_key_is_zero_or_collision(spark):
    df = spark.createDataFrame([("a",)] * 5 + [("b",)] * 3, ["k"])
    cm = SK.count_min_table(df, "k", depth=3, width=64)
    keys = spark.createDataFrame([("a",), ("b",), ("never",)], ["k"])
    est = {r["k"]: r["est"] for r in SK.count_min_estimate(cm, keys, "k", 3, 64).collect()}
    assert est["a"] == 5 and est["b"] == 3
    assert est["never"] in (0, 3, 5, 8)  # 0 unless all d cells collide


def test_theta_overlap_aqe_off_proper_subset(spark, tmp_path):
    """With AQE off, an aggregate intersection over a table of per-group
    sketches raised SketchesStateException (an empty shuffle partition's
    buffer had seen no intersection). The data has a proper-subset
    overlap — 1000 clickers, 1000 purchasers, 666 in both — which the
    fixtures, whose click and purchase audiences coincide, cannot tell
    from a wrong intersection. Below the sketch's nominal size every
    estimate is exact."""
    rows = (
        [(u, "click") for u in range(1000)]
        + [(u, "purchase") for u in range(334, 1334)]
        + [(u, "view") for u in range(2000, 2100)]
    )
    path = str(tmp_path / "events.parquet")
    spark.createDataFrame(rows, "user_id long, event_type string").repartition(
        4
    ).write.parquet(path)
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        row = SK.theta_distinct_overlap(
            spark.read.parquet(path), "event_type", "user_id", ["click", "purchase"]
        ).collect()[0]
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert (
        row["distinct_0"], row["distinct_1"], row["intersection_est"], row["union_est"]
    ) == (1000, 1000, 666, 1334)
