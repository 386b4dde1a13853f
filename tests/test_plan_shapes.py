"""Physical-plan regression tests for the analytics queries.

Correctness is covered by the DuckDB oracle (test_oracle_parity); these
tests pin the SCALE properties — which joins broadcast, how many
exchanges a plan is allowed, whether a window reuses the aggregation
shuffle. A regression here is invisible at sf0.001 but is the difference
between one shuffle and two at 100 TB.
"""

from __future__ import annotations

import pytest

from mapreduce_big_data_processing_spark import queries as Q


def _plan(spark, sf_dir, name: str) -> str:
    df = Q.QUERIES[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def _count(plan: str, token: str) -> int:
    return plan.count(token)


def test_pivot_broadcasts_dims_single_fact_pass(spark, sf_dir):
    """Pivot with explicit values: both dims broadcast (no shuffle of the
    fact for the joins) and no extra distinct-collect job for the pivot
    column values."""
    plan = _plan(spark, sf_dir, "segment_pivot_revenue")
    assert _count(plan, "BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan
    # pivotfirst aggregate: values are compile-time literals, one pass
    assert "pivotfirst" in plan


def test_q17_correlated_subquery_one_fact_shuffle(spark, sf_dir):
    """The per-part average must come from a window over the brand-filtered
    rows: one hash exchange on l_partkey plus the final single-partition
    agg — never a second scan/shuffle of the full lineitem table."""
    plan = _plan(spark, sf_dir, "small_quantity_part_revenue")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "LeftSemi" in plan and "BroadcastHashJoin" in plan


def test_lag_delta_window_and_agg_share_exchange(spark, sf_dir):
    """Window(user_id) and groupBy(user_id) must reuse ONE exchange —
    Catalyst sees the window output is already partitioned on the group
    key. Two exchanges here doubles the shuffle volume of the query."""
    plan = _plan(spark, sf_dir, "user_value_deltas")
    assert plan.count("Exchange hashpartitioning") == 1


def test_repetition_score_is_shuffle_free(spark, sf_dir):
    """Per-document repetition is a pure projection: no exchange at all."""
    plan = _plan(spark, sf_dir, "doc_repetition_scores")
    assert "Exchange" not in plan


def test_ngram_repetition_is_shuffle_free(spark, sf_dir):
    """The n-gram repetition metrics (dup-5-gram frac, modal-2-gram
    coverage) are per-row array math — they must ride the documents scan
    with no exchange, like the word-level score."""
    plan = _plan(spark, sf_dir, "doc_ngram_repetition")
    assert "Exchange" not in plan


def test_q19_disjunction_derives_per_side_pushdown(spark, sf_dir):
    """OR-of-ANDs mixing both join sides: Catalyst must derive the per-side
    implications — quantity bounds reach the lineitem scan, brand/size reach
    the part scan — and the join must broadcast with zero hash exchanges."""
    plan = _plan(spark, sf_dir, "disjunctive_part_revenue")
    assert "l_quantity" in plan.split("PushedFilters")[1][:400]
    assert _count(plan, "BroadcastHashJoin") == 1
    assert _count(plan, "Exchange hashpartitioning") == 0


def test_q18_aggregates_below_the_joins(spark, sf_dir):
    """Aggregate-then-join: the per-order quantity rollup (the only hash
    exchange) must sit BELOW both dimension joins, so the join input is the
    filtered aggregate, not the raw fact table."""
    plan = _plan(spark, sf_dir, "large_volume_customers")
    assert _count(plan, "Exchange hashpartitioning") == 1
    first_join = plan.index("Join")
    assert "HashAggregate" in plan[first_join:]


def test_q7_nation_inlist_reaches_dim_scans(spark, sf_dir):
    """The disjunctive nation-pair predicate's IN-list superset must push
    into BOTH nation dimension scans (pruning 23/25 nations pre-join)."""
    plan = _plan(spark, sf_dir, "nation_trade_flows")
    assert _count(plan, "In(n_name, [NATION_1,NATION_2]") == 2
    assert "SortMergeJoin" not in plan


def test_udtf_chunking_is_shuffle_free(spark, sf_dir):
    """Token chunking fans rows out over the scan — any Exchange here means
    the lateral join was mis-planned."""
    plan = _plan(spark, sf_dir, "doc_token_chunks")
    assert "Exchange" not in plan


def test_moving_avg_window_input_is_preaggregated(spark, sf_dir):
    """The ordered single-partition window must consume the per-day
    aggregate (tiny), not raw orders: partial+final hash aggregates appear
    below the window."""
    plan = _plan(spark, sf_dir, "daily_revenue_moving_avg")
    w = plan.index("Window")
    assert "HashAggregate" in plan[w:]


def test_chunk_dedup_two_shuffles_only(spark, sf_dir):
    """Passage dedup = fingerprint window + doc reassembly: exactly two
    hash exchanges, no self-join (the groupBy+rejoin formulation would
    shuffle the chunk text a third time)."""
    plan = _plan(spark, sf_dir, "chunk_dedup_docs")
    assert plan.count("Exchange hashpartitioning") == 2
    assert "Join" not in plan


def test_split_assignment_is_scan_side(spark, sf_dir):
    """Stratified split: the md5-range CASE is a projection — the only
    exchange is the counting aggregation itself."""
    plan = _plan(spark, sf_dir, "corpus_split_counts")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_bm25_broadcasts_stats_and_df(spark, sf_dir):
    """BM25: per-term df and corpus stats must broadcast; the only
    data-sized join is tf⋈dl on doc_id."""
    plan = _plan(spark, sf_dir, "bm25_ranked_docs")
    assert "BroadcastHashJoin" in plan  # df table
    assert "BroadcastNestedLoopJoin" in plan  # 1-row stats crossJoin
    assert "SortMergeJoin" not in plan  # dl+tf fused into one groupBy(id)
    # stats / df / main branch all read the CACHED per-doc table — the
    # tokenize scan + groupBy(id) runs once, not three times
    assert plan.count("InMemoryTableScan") >= 3


def test_contamination_probe_broadcasts_benchmark(spark, sf_dir):
    """Decontamination: the eval shingle set broadcasts — the corpus-side
    shingle stream must NOT shuffle for the membership probe."""
    plan = _plan(spark, sf_dir, "benchmark_contamination")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_aqe_splits_skewed_join_partition(spark):
    """Runtime skew handling: with a 90%-hot key, AQE's skew-join rule must
    split the oversized partition (SortMergeJoin marked skew=true in the
    FINAL adaptive plan). Thresholds are lowered to trigger at test scale;
    this is the mechanism that absorbs unplanned hot keys at 100 TB —
    planned-ahead skew uses the salted operators instead."""
    from pyspark.sql import functions as F

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.enabled",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        left = spark.range(0, 200000).select(
            F.when(F.col("id") % 10 != 0, 0).otherwise(F.col("id")).alias("k"),
            F.concat(F.lit("x"), F.col("id").cast("string")).alias("payload"),
        )
        right = spark.range(0, 2000).select(
            F.col("id").alias("k"), F.lit("dim").alias("d")
        )
        j = left.join(right, "k").groupBy().count()
        assert j.collect()[0]["count"] == 180200
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_ann_operators_never_collect_query_or_corpus(spark, sf_dir):
    """The ANN/near-dup scale paths must not pull the query or corpus side
    to the driver: probe generation (multi-probe LSH, IVF) and PQ LUTs are
    Arrow stages over the query TABLE; the only legitimate driver state is
    the tiny plane/centroid/codebook constants, which these operators take
    as plain Python lists. Executed end-to-end with DataFrame.collect
    patched to raise — any internal collect fails the run."""
    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from mapreduce_big_data_processing_spark import catalog
    from mapreduce_big_data_processing_spark.operators import ml as ML
    from mapreduce_big_data_processing_spark.operators import quantization as QZ
    from mapreduce_big_data_processing_spark.operators import similarity as S
    from mapreduce_big_data_processing_spark.queries import _seeded_planes

    emb = catalog.load(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = [list(r.embedding) for r in emb.orderBy("vec_id").limit(8).collect()]
    cb = QZ.pq_train(emb, m=2, k=4, iters=1)
    cb_rows = cb.collect()  # codebook: driver-held by design (m×k rows)
    codes = QZ.pq_encode(emb, cb, m=2)
    index = QZ.ivf_pq_index(emb, cents, cb, m=2)  # build collects codebook only

    real_collect = DataFrame.collect

    def boom(self, *a, **kw):
        raise AssertionError("driver-side collect inside an ANN operator")

    DataFrame.collect = boom
    try:
        builds = [
            S.lsh_topk(emb, q, _seeded_planes(), k=5, n_probe=4),
            S.ivf_topk(emb, q, cents, k=5, n_probe=2),
            QZ.pq_topk(codes, q, cb_rows, k=5, m=2),
            QZ.ivf_pq_topk(index, q, cents, cb_rows, k=5, n_probe=2, m=2),
            # kNN's large-test route: the test side stays a table (no
            # driver collect of the query matrix)
            ML.knn_classify(
                emb.filter(F.col("vec_id") % 5 != 0),
                emb.filter(F.col("vec_id") % 5 == 0),
                k=3,
                method="lsh",
                planes=_seeded_planes(),
                n_probe=2,
            ),
            S.embedding_near_dup(
                emb,
                threshold=0.45,
                plane_tables=[_seeded_planes(n_planes=4, seed=s) for s in (42, 43)],
            ),
        ]
        for df in builds:
            assert df.count() > 0
    finally:
        DataFrame.collect = real_collect


def test_ivf_pq_plan_is_bucket_equijoin(spark, sf_dir):
    """IVF-PQ search must score through a bucket equi-join against the
    index table — never the round-2 codes×queries CartesianProduct. The
    float embedding column must not appear in the search-side scan (codes
    and bucket are the only corpus data read)."""
    from pyspark.sql import functions as F

    from mapreduce_big_data_processing_spark import catalog
    from mapreduce_big_data_processing_spark.operators import quantization as QZ

    emb = catalog.load(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = [list(r.embedding) for r in emb.orderBy("vec_id").limit(8).collect()]
    cb = QZ.pq_train(emb, m=2, k=4, iters=1)
    index = QZ.ivf_pq_index(emb, cents, cb, m=2)
    out = QZ.ivf_pq_topk(index, q, cents, cb.collect(), k=5, n_probe=2, m=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the join key is the coarse bucket
    assert "bucket" in plan and ("BroadcastHashJoin" in plan or "SortMergeJoin" in plan)


def test_keyed_scan_range_predicate_reaches_parquet(spark, sf_dir):
    """S10 keyed_scan_latest: the row-key range scan must push to the
    parquet source (the LSM row-key index analogue — at 100 TB this is
    partition/row-group pruning, not a post-scan filter), and the
    newest-k window must be the only exchange."""
    from mapreduce_big_data_processing_spark.queries import QUERIES

    plan = (
        QUERIES["keyed_scan_latest"](spark, sf_dir)
        ._jdf.queryExecution()
        .explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    )
    assert "PushedFilters" in plan
    pushed = [
        ln for ln in plan.splitlines() if "PushedFilters" in ln
    ][0]
    assert "GreaterThanOrEqual(user_id" in pushed and "LessThanOrEqual(user_id" in pushed
    assert plan.count("Exchange") <= 2  # one hashpartitioning for the window


def test_profile_is_one_scan(spark, sf_dir):
    """profile_table computes every column's stats from ONE scan in both
    distinct modes — approx (production: HLL aggregates, no Expand, no
    per-column re-scan) and exact (verification: the N distincts plan as
    a single Expand over the same one scan)."""
    from mapreduce_big_data_processing_spark import catalog
    from mapreduce_big_data_processing_spark.operators import relational as R

    ev = catalog.load(spark, "events", sf_dir)
    approx = R.profile_table(ev)._jdf.queryExecution().executedPlan().toString()
    assert approx.count("Scan parquet") == 1
    assert "Expand" not in approx
    exact = (
        R.profile_table(ev, distinct_mode="exact")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert exact.count("Scan parquet") == 1
    assert "Expand" in exact


def test_funnel_single_exchange(spark, sf_dir):
    """All k funnel-stage window minima partition by user_id — Catalyst
    must chain the Window nodes behind ONE hash exchange (plus the final
    1-row rollup); a per-stage re-shuffle would k-multiply the funnel's
    cost."""
    plan = _plan(spark, sf_dir, "funnel_view_click_purchase")
    assert plan.count("Exchange hashpartitioning") == 1


def test_bigram_lm_bigrams_are_shuffle_free(spark, sf_dir):
    """The bigram build must stay scan-side (arrays_zip/slice/explode —
    no Window sort, no doc-keyed exchange): the only exchanges allowed are
    the model-table aggregations (vocab-sized) and the final per-doc agg.
    No SortMergeJoin anywhere — model joins broadcast at any vocab that
    fits; the vocab scalar rides a BroadcastNestedLoopJoin cross."""
    # cache state changes how many times InMemoryRelation subplans print
    # in the flattened tree (seen: 7 exchanges cold, 11 with the parity
    # run's caches warm) — clear so the count below is deterministic
    spark.catalog.clearCache()
    plan = _plan(spark, sf_dir, "bigram_lm_cross_entropy")
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan
    # a Sort anywhere would mean the window/lead formulation crept back
    assert "+- Sort" not in plan and "- *(1) Sort" not in plan
    # aggregation exchanges only (per-doc agg + model tables + cached-
    # subtree repeats in the flattened string); a raw token-stream
    # exchange on top would raise this
    assert _count(plan, "Exchange hashpartitioning") <= 7


def test_gap_fill_single_data_sized_exchange(spark, sf_dir):
    """Everything after the (key, bucket) aggregation must be
    bucket-count-sized: one data-sized exchange total (the bucket agg);
    the span agg, grid join, and ffill window operate on its output."""
    plan = _plan(spark, sf_dir, "user_daily_series_filled")
    # raw events are exchanged exactly once: for the (user_id, bucket) agg
    assert _count(plan, "Exchange hashpartitioning(user_id#") <= 4
    assert "SortMergeJoin" not in plan or "BroadcastHashJoin" in plan
    assert _count(plan, "Window") == 1


def test_anomaly_series_is_bucket_sized(spark, sf_dir):
    """The rolling window must run on the aggregated series — a Window
    whose input is the bucket agg, never the raw event stream — and the
    whole plan carries exactly one aggregation of the raw data."""
    plan = _plan(spark, sf_dir, "hourly_count_anomalies")
    assert _count(plan, "Window") == 1
    # one partial+final agg pair over the events scan, nothing else
    # touches the raw stream
    assert _count(plan, "Scan parquet") == 1


def test_status_intervals_single_exchange(spark, sf_dir):
    """SCD2 interval construction is the one-shuffle shape: the change
    window, cumulative sum, run groupBy, and lead window all reuse the
    user_id partitioning. A second hash exchange means one of them
    repartitioned."""
    plan = _plan(spark, sf_dir, "user_status_intervals")
    assert _count(plan, "Exchange hashpartitioning") == 1
    assert "Exchange SinglePartition" not in plan


def test_rank_auc_cumulative_pass_is_histogram_sized(spark, sf_dir):
    """The Mann-Whitney AUC must aggregate per distinct score BEFORE the
    ordered cumulative pass — a global rank() window over raw rows plans
    as Exchange SinglePartition of the whole table and dies at scale.
    Pin: one data-sized hash exchange (the per-score groupBy); the
    single-partition stage consumes only the aggregate."""
    plan = _plan(spark, sf_dir, "doc_length_auc")
    assert _count(plan, "Exchange hashpartitioning") == 1
    # the Window must sit above the HashAggregate output, i.e. the plan
    # has no rank() and only the one cumulative-sum window
    assert "rank(" not in plan
    assert _count(plan, "Window") == 1


def test_pmi_word_joins_broadcast(spark, sf_dir):
    """The df-normalization joins must broadcast the word-frequency table
    at fixture scale (3 broadcasts: df1, df2, corpus-size scalar) — a
    SortMergeJoin here would shuffle the pair table twice more."""
    plan = _plan(spark, sf_dir, "pmi_collocations")
    assert _count(plan, "BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_dynamic_partition_pruning_on_partitioned_fact(spark, sf_dir, tmp_path):
    """Scale posture: a dim-filtered join against a disk-partitioned fact
    must plan a dynamicpruning subquery on the fact's partition column —
    at 100 TB this is the difference between scanning 2 partitions and
    scanning all of them. Exercised on a partitioned parquet write of the
    events fixture (partition column = event_type)."""
    from pyspark.sql import functions as F

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    fact_path = str(tmp_path / "events_by_type")
    events.write.partitionBy("event_type").mode("overwrite").parquet(fact_path)

    dim = spark.createDataFrame(
        [(t, i) for i, t in enumerate(["view", "click", "purchase", "error"])],
        "event_type string, type_rank int",
    ).filter(F.col("type_rank") <= 1)

    fact = spark.read.parquet(fact_path)
    joined = fact.join(dim, "event_type").groupBy("event_type").count()
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan, plan[:2000]


def test_duplicate_spans_exchanges_all_natural_keys(spark, sf_dir):
    """Exact-substring span dedup: three hash exchanges total — the
    (h, doc_id) distinct expansion, the h count-distinct, and ONE doc_id
    exchange that the two island windows and the final span groupBy all
    share (the final HashAggregate must not add a fourth)."""
    plan = _plan(spark, sf_dir, "duplicate_text_spans")
    assert _count(plan, "Exchange hashpartitioning") == 3
    assert _count(plan, "Exchange hashpartitioning(doc_id") == 1
    assert _count(plan, "Window") == 2


def test_bloom_probe_rides_the_big_scan(spark, sf_dir):
    """The Bloom probe must be a pure-codegen Filter directly over the
    big-side file scan — no Python/Arrow stage (measured 3x slower than
    the naive join at 100x: Arrow serialization of the big side costs
    more than the shuffle it saves), and no exchange below the probe
    (pruning AFTER an exchange would shuffle the rows it exists to
    drop)."""
    plan = _plan(spark, sf_dir, "bloom_filtered_orders")
    assert _count(plan, "MapInArrow") == 0
    assert _count(plan, "ArrowEvalPython") == 0
    probe = plan.index("xxhash64")  # the probe filter's hash expressions
    scan = plan.index("FileScan parquet", probe)
    assert "Exchange" not in plan[probe:scan]


def test_distinctive_terms_broadcasts_derived_totals(spark, sf_dir):
    """The data-sized path shuffles ONCE to (source, word) partials; the
    word/group/grand totals derive from the partials and must come back
    as broadcasts, never as shuffle joins."""
    plan = _plan(spark, sf_dir, "source_distinctive_terms")
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert _count(plan, "BroadcastHashJoin") >= 2  # wt + st probes
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row grand total


def test_ngram_diversity_gram_build_is_scan_side(spark, sf_dir):
    """Trigrams ride the documents scan (arrays_zip slices — no window
    exchange, no per-gram shuffle before the count): the only exchanges
    are the (source, gram) count and the tiny per-source rollup."""
    plan = _plan(spark, sf_dir, "source_ngram_diversity")
    assert plan.count("Exchange hashpartitioning") == 2
    assert "Window" not in plan


def test_incremental_dedup_batch_sized_shuffles_only(spark, sf_dir):
    """The new batch joins the fingerprint index and its own canonical on
    the fingerprint key — no join may materialize corpus×corpus, and the
    doc scan count is bounded (fp projection cached, history projection)."""
    plan = _plan(spark, sf_dir, "incremental_ingest_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_incremental_near_dup_no_cartesian(spark, sf_dir):
    """The near-dup ingest is band-bucket equi-joins end to end (new x
    index on (band, sig); verify joins on (pair, h)) — a cartesian or
    nested-loop anywhere means the LSH candidate pruning fell out of the
    plan and the query degraded to all-pairs."""
    plan = _plan(spark, sf_dir, "incremental_ingest_near_dup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_prefix_jaccard_no_cartesian(spark, sf_dir):
    """The prefix-filtered Jaccard join must stay an equi-join pipeline:
    no cartesian/nested-loop anywhere (the lossless filter is pointless
    if the planner degrades to all-pairs)."""
    plan = _plan(spark, sf_dir, "prefix_jaccard_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_count_min_estimate_probe_is_broadcast(spark, sf_dir):
    """The CM counter table is sketch-sized (<= d*w rows): the estimate
    probe must broadcast it — the key table never shuffles for the
    lookup."""
    plan = _plan(spark, sf_dir, "user_freq_countmin")
    assert "BroadcastHashJoin" in plan


def test_volume_shipping_dims_broadcast_one_agg_exchange(spark, sf_dir):
    """Q7: nation (both sides) and supplier must broadcast; the only
    shuffle beyond the (size-dependent) fact joins is the one aggregation
    exchange. At the fixtures the whole join tree is broadcast, so exactly
    one hash exchange survives."""
    plan = _plan(spark, sf_dir, "volume_shipping")
    assert _count(plan, "BroadcastHashJoin") >= 3  # supplier + 2x nation
    assert _count(plan, "Exchange hashpartitioning") == 1


def test_grouping_sets_one_scan_through_expand(spark, sf_dir):
    """GROUPING SETS must be ONE scan through the Expand node (three
    grouping arrangements), never three unioned scans."""
    plan = _plan(spark, sf_dir, "grouping_sets_revenue")
    assert _count(plan, "Expand") == 1
    assert _count(plan, "Scan parquet") == 1
    assert _count(plan, "Exchange hashpartitioning") == 1


def test_gram_matrix_exchange_is_cell_sized(spark, sf_dir):
    """The Gram pass: one Arrow stage over the (possibly repartitioned)
    corpus, then ONE aggregation exchange whose rows are d(d+1)/2 cells
    per partition — never a corpus-sized shuffle after the kernel."""
    plan = _plan(spark, sf_dir, "embedding_gram_matrix")
    assert _count(plan, "MapInPandas") == 1
    assert _count(plan, "Exchange hashpartitioning") == 1


def test_slope_broadcasts_part_single_exchange(spark, sf_dir):
    plan = _plan(spark, sf_dir, "brand_price_quantity_slope")
    assert _count(plan, "BroadcastHashJoin") == 1
    assert "SortMergeJoin" not in plan
    assert _count(plan, "Exchange hashpartitioning") == 1


def test_dup_rate_documents_never_shuffle_for_labeling(spark, sf_dir):
    """Both labeling joins broadcast the pairs side: the documents
    projection must reach its joins with no exchange of its own (the
    LSH chain's exchanges are internal to the pairs subtree)."""
    plan = _plan(spark, sf_dir, "dup_rate_by_source_pair")
    # the two labeling joins are broadcast joins
    assert _count(plan, "BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_waiting_suppliers_single_fact_pass(spark, sf_dir):
    """Q21 shape: the two correlated EXISTS subqueries are rewritten into
    ONE per-order aggregation — lineitem must not self-join (no cartesian,
    no extra fact-sized exchange beyond the distinct-agg pair on
    l_orderkey + the name rollup), and all dimension joins broadcast."""
    plan = _plan(spark, sf_dir, "waiting_suppliers")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert _count(plan, "Exchange hashpartitioning") <= 3
    assert _count(plan, "BroadcastHashJoin") == 3


def test_zipf_window_reuses_count_exchange(spark, sf_dir):
    """(source, word) count exchange + per-source window; the final
    per-source OLS rollup must reuse the window's source partitioning —
    exactly two data-sized exchanges, no joins."""
    plan = _plan(spark, sf_dir, "token_zipf_slope")
    assert _count(plan, "Exchange hashpartitioning") == 2
    assert "Join" not in plan


def test_entropy_two_exchanges_no_window(spark, sf_dir):
    plan = _plan(spark, sf_dir, "source_token_entropy")
    assert _count(plan, "Exchange hashpartitioning") == 2
    assert "Window" not in plan and "Join" not in plan


def test_semantic_contamination_rides_lsh_chain(spark, sf_dir):
    """The contamination rollup runs on the pairs-only egress of the
    near-dup LSH chain: the window on train_id and the final groupBy
    share one exchange, and nothing reintroduces an all-pairs join."""
    plan = _plan(spark, sf_dir, "semantic_contamination")
    assert "CartesianProduct" not in plan
    assert _count(plan, "Exchange hashpartitioning") <= 3
    assert _count(plan, "Window") == 1


def test_random_projection_zero_shuffle_arrow(spark, sf_dir):
    """The JL projection is ONE vectorized Arrow stage on the scan — no
    hash exchange, no join, no per-element expression HOFs."""
    plan = _plan(spark, sf_dir, "embedding_random_projection")
    assert _count(plan, "MapInPandas") == 1
    assert _count(plan, "Exchange hashpartitioning") == 0
    assert "Join" not in plan.replace("MapInPandas", "")


def test_cluster_balanced_sample_broadcast_centroids(spark, sf_dir):
    """Assignment must be the broadcast-centroid scan (k-row nested-loop
    broadcast, never a shuffled join of the corpus) and the quota window
    adds at most the cid exchange on the assignment output."""
    plan = _plan(spark, sf_dir, "cluster_balanced_sample")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert _count(plan, "Exchange hashpartitioning") <= 2


def test_q8_dual_role_dims_broadcast(spark, sf_dir):
    """Q8 shape: every dimension join (both nation roles, region,
    supplier) must broadcast — the fact chain is the only shuffle
    surface — and the region filter prunes inside its join, never as a
    post-join filter of the full fact output."""
    plan = _plan(spark, sf_dir, "supplier_mkt_share_by_year")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert _count(plan, "BroadcastHashJoin") >= 4
    assert _count(plan, "Exchange hashpartitioning") <= 3


def test_winsorize_single_fact_exchange_broadcast_bounds(spark, sf_dir):
    """The rank window and the bounds aggregation share the event_type
    exchange; the group-cardinality bounds table broadcasts back onto
    the windowed projection (never a second fact shuffle for the clip)."""
    plan = _plan(spark, sf_dir, "winsorized_event_stats")
    assert "SortMergeJoin" not in plan
    assert _count(plan, "BroadcastHashJoin") == 1
    assert _count(plan, "Exchange hashpartitioning") <= 2


def test_q20_aggregates_below_joins_prefix_semi_pushed(spark, sf_dir):
    """Q20 shape (excess_stock_parts): the correlated scalar subquery must
    NOT become a lineitem self-join — the per-part total is a window over
    the already-aggregated (part, supplier) rollup. The part-prefix filter
    broadcast-semi-joins against the fact scan BELOW the rollup (the scan
    prunes to shipdate+prefix before the only fact-sized exchange), and
    supplier/nation broadcast onto the dominated rows."""
    plan = _plan(spark, sf_dir, "excess_stock_parts")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # dims + prefix semi all broadcast; exactly one FileScan of lineitem
    assert _count(plan, "BroadcastHashJoin") == 3
    assert plan.count("lineitem.parquet") == 1
    # fact rollup + window repartition + final cell rollup
    assert _count(plan, "Exchange hashpartitioning") <= 3
    # shipdate range and p_name prefix reach the parquet scans
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "StringStartsWith(p_name" in plan or "StartsWith(p_name" in plan
    # semi join sits below the first aggregate exchange
    semi = plan.index("LeftSemi")
    first_agg_exchange = plan.index("Exchange hashpartitioning(l_partkey")
    assert semi > first_agg_exchange  # deeper in the printed tree = below


def test_sized_near_dup_two_exchanges_arrow_verify(spark, sf_dir):
    """The 100 TB dedup path (embedding_near_dup_sized): corpus-sized
    plane signatures and the tiled NumPy verify are Arrow stages, pairs
    flow through at most two hash exchanges, and nothing falls back to a
    sort-merge self-join, a cartesian pair expansion, or a row-at-a-time
    Python UDF."""
    plan = _plan(spark, sf_dir, "embedding_near_dup_sized")
    assert _count(plan, "Exchange hashpartitioning") <= 2
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert plan.count("MapInPandas") + plan.count("ArrowEvalPython") >= 1


def test_band_index_single_exchange(spark, sf_dir):
    """The persisted LSH index write half (minhash_band_index) is ONE
    aggregation pass: a single hash exchange builds the per-(doc, band)
    signatures; no joins anywhere in the plan."""
    plan = _plan(spark, sf_dir, "minhash_band_index")
    assert _count(plan, "Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_multi_epoch_ingest_no_cartesian_no_python(spark, sf_dir):
    """The N-epoch backfill classifies every doc in one plan built from
    band-bucket EQUI-joins (shuffle joins are correct here — both sides
    are corpus indexes) with epoch predicates on top: no cartesian pair
    expansion, no Python row UDFs, and the small helper tables broadcast."""
    plan = _plan(spark, sf_dir, "multi_epoch_ingest_near_dup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_pq_topk_bucketed_probe_arrow_stages(spark, sf_dir):
    """PQ/ADC top-k: codebook training collects a bounded sample but the
    query-side probe is Arrow-staged against the bucketed corpus — one
    exchange, one broadcast, no sort-merge or cartesian fallback."""
    plan = _plan(spark, sf_dir, "pq_similarity_topk")
    assert _count(plan, "Exchange hashpartitioning") <= 1
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("MapInPandas") + plan.count("ArrowEvalPython") >= 1


def test_top_pc_projection_is_shuffle_free(spark, sf_dir):
    """Power iteration's corpus work (the Gram pass and the projection
    pass) is mapInPandas partition partials — the STRONGEST plan property
    an operator can have: ZERO hash exchanges end to end."""
    plan = _plan(spark, sf_dir, "embedding_top_pc")
    assert _count(plan, "Exchange hashpartitioning") == 0
    assert "BatchEvalPython" not in plan


def test_q2_groupwise_min_single_exchange(spark, sf_dir):
    """Q2's groupwise-min-with-ties: the per-type minimum is a window
    over ONE exchange of the dimension projection — no join, no second
    pass."""
    plan = _plan(spark, sf_dir, "cheapest_parts_per_type")
    assert _count(plan, "Exchange hashpartitioning") <= 1
    assert "SortMergeJoin" not in plan


def test_q15_agg_below_broadcast_dims(spark, sf_dir):
    """Q15 view shape (top_revenue_supplier): the revenue rollup is the
    only fact-sized exchange and sits BELOW the supplier/nation joins,
    which broadcast onto the aggregated rows."""
    plan = _plan(spark, sf_dir, "top_revenue_supplier")
    assert _count(plan, "Exchange hashpartitioning") <= 2
    assert _count(plan, "BroadcastHashJoin") >= 1
    assert "SortMergeJoin" not in plan
    first_join = plan.index("Join")
    assert "HashAggregate" in plan[first_join:]


def test_spend_quartiles_single_exchange(spark, sf_dir):
    """NTILE spend quartiles: per-customer rollup and the quartile window
    share ONE exchange (the window reuses the aggregation partitioning)."""
    plan = _plan(spark, sf_dir, "customer_spend_quartiles")
    assert _count(plan, "Exchange hashpartitioning") <= 1


def test_salted_totals_two_phase_exchanges(spark, sf_dir):
    """The skew demo (salted_user_value_totals): exactly the two-phase
    shape — a salted partial-aggregate exchange then the final per-key
    exchange; no joins involved."""
    plan = _plan(spark, sf_dir, "salted_user_value_totals")
    assert _count(plan, "Exchange hashpartitioning") == 2
    assert "Join" not in plan


def test_kcenter_coreset_is_shuffle_free(spark, sf_dir):
    """Greedy FPS coreset: every round is a broadcast-centroid distance
    scan — zero hash exchanges (the iterative sibling of the
    mapInPandas-only property)."""
    plan = _plan(spark, sf_dir, "kcenter_coreset")
    assert _count(plan, "Exchange hashpartitioning") == 0


def test_theta_overlap_joins_are_sketch_sized(spark, sf_dir):
    """Theta-sketch overlap: the per-type sketches are aggregated rows, so
    the pairwise-overlap join may be a nested-loop of SKETCH-sized inputs
    — what must never appear is a sort-merge join (that would mean a
    row-level join of the raw events)."""
    plan = _plan(spark, sf_dir, "event_type_user_overlap")
    assert "SortMergeJoin" not in plan
    assert _count(plan, "Exchange hashpartitioning") <= 2


def test_q9_like_filter_reaches_part_scan(spark, sf_dir):
    """TPC-H Q9 shape (part_profit_by_nation_year): the name pattern must
    compile to a parquet-pushed StringContains on the part scan (so the
    ~87% fact prune happens before any join), the dimension joins must
    not demote to sort-merge at fixture scale, and the rollup is a single
    hash exchange."""
    plan = _plan(spark, sf_dir, "part_profit_by_nation_year")
    assert "StringContains(p_name,blue)" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert _count(plan, "Exchange hashpartitioning") == 1


def test_q10_pushdowns_and_topk(spark, sf_dir):
    """TPC-H Q10 shape (returned_revenue_top_customers): the returnflag
    and date-window predicates must reach their parquet scans, the top-20
    must plan as TakeOrderedAndProject (never a full sort), and the
    rollup is a single hash exchange."""
    plan = _plan(spark, sf_dir, "returned_revenue_top_customers")
    assert "EqualTo(l_returnflag,R)" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan
    assert _count(plan, "Exchange hashpartitioning") == 1


def test_routed_knn_is_bucket_equijoin(spark, sf_dir):
    """The bench-graded kNN route must score through a broadcast
    equi-join on the LSH bucket — never a CartesianProduct or
    broadcast-nested-loop (the exact baseline's shape) — with both
    signature passes and the pair scoring as Arrow stages
    (ArrowEvalPython/MapInPandas nodes, no per-element HOF fold in the
    hot path)."""
    plan = _plan(spark, sf_dir, "knn_predictions_routed")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan  # bucket join, query side broadcast
    assert "MapInPandas" in plan  # Arrow signature + scoring kernels
    # the vote's label join must not resort to a nested loop either
    assert _count(plan, "SortMergeJoin") <= 1


def test_q11_threshold_is_broadcast_scalar(spark, sf_dir):
    """The Q11 shape's global threshold must reach the per-part filter as
    a broadcast 1-row scalar (the Q15 pattern): no second aggregation of
    the fact, no sort, and the nation dimension broadcast into the
    supplier semi side."""
    plan = _plan(spark, sf_dir, "important_parts_by_value")
    assert "CartesianProduct" not in plan
    assert _count(plan, "Scan parquet") <= 5  # lineitem read ≤2 (val+tot), dims once
    # two independent prohibitions (an `or` would pass whenever either
    # token was absent — r8 advice): no sort-merge join anywhere, and no
    # stray Sort operator (every join is broadcast-hinted, nothing orders)
    assert "SortMergeJoin" not in plan
    assert "Sort " not in plan


def test_hybrid_retrieval_fusion_stays_bounded(spark, sf_dir):
    """Hybrid retrieval's scale contract: corpus-sized work is the BM25
    tokenize scan and the LSH bucket equi-join — no cartesian anywhere,
    the lexical top-20 cut is a TakeOrderedAndProject (not a global
    sort), and the fusion join runs on the bounded top-k legs."""
    plan = _plan(spark, sf_dir, "hybrid_retrieval_rrf")
    assert "CartesianProduct" not in plan
    # exactly one nested-loop join: BM25's 1-row stats scalar crossJoin
    # (the pattern test_bm25_broadcasts_stats_and_df pins) — any second
    # one would be a corpus-sized nested loop
    assert _count(plan, "BroadcastNestedLoopJoin") == 1
    assert "TakeOrderedAndProject" in plan  # lexical top-20 cut
    assert "BroadcastHashJoin" in plan  # LSH bucket join, query broadcast


def test_language_id_ngram_is_one_arrow_stage(spark, sf_dir):
    """The n-gram LID is a pure scan→Arrow-stage projection: zero hash
    exchanges (the strongest scale property a plan can have) and exactly
    one MapInPandas node."""
    plan = _plan(spark, sf_dir, "language_id_ngram")
    assert "Exchange hashpartitioning" not in plan
    assert _count(plan, "MapInPandas") == 1


def test_ranking_metrics_never_shuffles_the_rel_table(spark, sf_dir):
    """The graded-eval DCG join must not exchange the corpus-sized
    relevance table: grades reach the <= queries*k candidates via a
    map-side semi join against the BROADCAST candidate list, then the
    survivors broadcast into the left join; the only rel-lineage
    exchange is the grade-COUNT aggregate (grade-cardinality x queries
    rows, partial-aggregated map-side). A SortMergeJoin anywhere in
    this plan means a corpus shuffle snuck back in."""
    plan = _plan(spark, sf_dir, "retrieval_ndcg_eval")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_global_rank_has_no_single_partition_window(spark, sf_dir):
    """corpus_sample_ids must NOT plan a global Window (the single-
    partition funnel the operator exists to avoid): rank comes from
    range partitioning + a zero-shuffle Arrow index pass + a broadcast
    offsets join."""
    plan = _plan(spark, sf_dir, "corpus_sample_ids")
    assert "Window" not in plan
    assert "Exchange SinglePartition" not in plan
    assert "rangepartitioning" in plan
    assert "BroadcastHashJoin" in plan  # the offsets join
    assert "MapInPandas" in plan  # the index pass


def _plan_nodes(node):
    """Every node of a physical plan, descending into the adaptive plan."""
    yield node
    if node.nodeName() == "AdaptiveSparkPlan":
        yield from _plan_nodes(node.executedPlan())
        return
    kids = node.children()
    for i in range(kids.size()):
        yield from _plan_nodes(kids.apply(i))


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


@pytest.mark.parametrize(
    "name", ["pricing_summary", "brand_volume", "revenue_by_nation"]
)
def test_money_aggregates_are_bigint_without_per_row_round(spark, sf_dir, name):
    """Star-schema money runs on exact integer cents: the aggregation
    buffers hold no decimal (a per-row decimal(38) sum costs ~1 s per
    600k lineitems), and nothing at or below the map-side aggregate calls
    round(), which builds a java.math.BigDecimal per row."""
    plan = Q.QUERIES[name](spark, sf_dir)._jdf.queryExecution().executedPlan()
    aggs = [n for n in _plan_nodes(plan) if "Aggregate" in n.nodeName()]
    partial = [
        n for n in aggs
        if any(e.mode().toString() == "Partial" for e in _seq(n.aggregateExpressions()))
    ]
    assert partial
    for node in aggs:
        buffers = [
            a.dataType().simpleString() for a in _seq(node.aggregateBufferAttributes())
        ]
        assert not any(b.startswith("decimal") for b in buffers), buffers
    for node in partial:
        assert "round(" not in node.simpleString(10_000)
        assert "round(" not in node.child().treeString()
