"""Golden tests: exact input→output pairs worked in the reference's slides
and specs (FIXTURES.md §B), embedded as literal DataFrames.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapreduce_big_data_processing_spark.operators import graph as G
from mapreduce_big_data_processing_spark.operators import ml as ML
from mapreduce_big_data_processing_spark.operators import relational as R
from mapreduce_big_data_processing_spark.operators import text as TX


def test_wordcount_ch2(spark):
    """B3 — WordCount example, `ppt/Ch2-MapReduce简介.pdf p.17-19`."""
    docs = spark.createDataFrame(
        [
            (1, "the weather is good"),
            (2, "today is good"),
            (3, "good weather is good"),
            (4, "today has good weather"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.word: r.cnt
        for r in TX.word_count(TX.tokenize(docs, keep_cols=["doc_id"])).collect()
    }
    assert out == {"good": 5, "is": 3, "has": 1, "the": 1, "today": 2, "weather": 3}


def test_cooccurrence_window2_ch5(spark):
    """B3 — pairs co-occurrence window 2, `ppt/Ch5….pdf p.44-48`."""
    docs = spark.createDataFrame(
        [(1, "we are not what we want to be but at least we are not what we used to be")],
        "doc_id long, text string",
    )
    out = {
        (r.w1, r.w2): r.cnt
        for r in TX.cooccurrence_window_pairs(docs, window=2).collect()
    }
    assert out[("we", "are")] == 2
    assert out[("are", "not")] == 2
    assert out[("not", "what")] == 2
    assert out[("to", "be")] == 2
    # window-2 includes skip-one neighbors: "we ? not"
    assert out[("we", "not")] == 2


def test_inverted_index_ch5(spark):
    """B3 — inverted index, `ppt/Ch5….pdf p.52`."""
    docs = spark.createDataFrame(
        [
            ("doc1", "one fish two fish"),
            ("doc2", "red fish blue fish"),
            ("doc3", "one red bird"),
        ],
        "doc_id string, text string",
    )
    toks = TX.tokenize(docs, keep_cols=["doc_id"])
    out = {
        r.word: [p.doc_id for p in r.postings]
        for r in TX.inverted_index(toks).collect()
    }
    assert out["fish"] == ["doc1", "doc2"]
    assert out["red"] == ["doc2", "doc3"]
    assert out["one"] == ["doc1", "doc3"]
    assert out["bird"] == ["doc3"]
    # tf payload: fish appears twice in each doc
    tf = {
        (r.word, p.doc_id): p.tf
        for r in TX.inverted_index(toks).collect()
        for p in r.postings
    }
    assert tf[("fish", "doc1")] == 2 and tf[("fish", "doc2")] == 2


def test_join_fixture_ch7(spark):
    """B6 — customer⋈orders inner join rows, `ppt/Ch7….pdf p.42`."""
    customers = spark.createDataFrame(
        [(1, "王二", "025-1111111"), (2, "张三", "025-2222222"),
         (3, "李四", "025-3333333"), (4, "孙五", "025-4444444")],
        "cid int, name string, phone string",
    )
    orders = spark.createDataFrame(
        [(3, "A", 12.95), (1, "B", 88.25), (2, "C", 32.00), (3, "D", 25.02)],
        "cid int, oid string, price double",
    )
    out = R.equi_join(customers, orders, "cid")
    rows = out.collect()
    assert len(rows) == 4
    assert {r.oid for r in rows if r.cid == 3} == {"A", "D"}
    assert all(r.cid != 4 for r in rows)  # 孙五 has no orders


def test_edge_normalization_project2(spark):
    """B4 — normalized adjacency worked example, `…课程设计2….pdf p.3-4`:
    paragraphs [狄云,戚芳],[戚芳,戚长发,卜垣],[戚芳,卜垣],[卜垣] →
    戚芳's out-edges: 狄云 0.25, 戚长发 0.25, 卜垣 0.5."""
    paras = spark.createDataFrame(
        [
            (1, ["狄云", "戚芳"]),
            (2, ["戚芳", "戚长发", "卜垣"]),
            (3, ["戚芳", "卜垣"]),
            (4, ["卜垣"]),
        ],
        "para_id long, names array<string>",
    )
    unit_words = paras.select("para_id", F.explode("names").alias("word"))
    pairs = TX.cooccurrence_pairs(
        unit_words, unit_col="para_id", symmetric=False
    )
    # spec's pair counts: <戚芳,卜垣>:2, others 1 (p.3)
    counts = {(r.w1, r.w2): r.cnt for r in pairs.collect()}
    assert counts[("卜垣", "戚芳")] == 2
    assert counts.get(("戚长发", "戚芳"), counts.get(("戚芳", "戚长发"))) == 1
    edges = G.build_cooccurrence_graph(pairs)
    qf = {r.dst: r.weight for r in edges.filter(F.col("src") == "戚芳").collect()}
    assert qf["卜垣"] == pytest.approx(0.5)
    assert qf["狄云"] == pytest.approx(0.25)
    assert qf["戚长发"] == pytest.approx(0.25)


def test_pagerank_dangling_mass(spark):
    """G3 — dangling-node handling (`ppt/Ch8….pdf p.11-14`): a→b with b a
    sink. One iteration by hand: pr(a)=0.075+0.85·(0+0.25)=0.2875,
    pr(b)=0.075+0.85·(0.5+0.25)=0.7125; mass stays 1."""
    edges = spark.createDataFrame([("a", "b", 1.0)], "src string, dst string, weight double")
    pr1 = {r.node: r.pr for r in G.pagerank(edges, max_iter=1).collect()}
    assert pr1["a"] == pytest.approx(0.2875)
    assert pr1["b"] == pytest.approx(0.7125)
    pr10 = G.pagerank(edges, max_iter=10)
    total = pr10.agg(F.sum("pr")).collect()[0][0]
    assert total == pytest.approx(1.0)


def test_label_propagation_two_communities(spark):
    """G4 — two dense triangles joined by one weak edge must resolve into
    two communities under weighted LPA."""
    pairs = [
        ("a", "b", 5.0), ("a", "c", 5.0), ("b", "c", 5.0),
        ("x", "y", 5.0), ("x", "z", 5.0), ("y", "z", 5.0),
        ("c", "x", 1.0),
    ]
    edges = spark.createDataFrame(
        [(s, d, w) for s, d, w in pairs] + [(d, s, w) for s, d, w in pairs],
        "src string, dst string, weight double",
    )
    labels = {r.node: r.label for r in G.label_propagation(edges, max_iter=8).collect()}
    assert labels["a"] == labels["b"] == labels["c"]
    assert labels["x"] == labels["y"] == labels["z"]
    assert labels["a"] != labels["x"]


def test_label_propagation_checkpoints_before_last_round(spark):
    """LPA keeps one checkpoint, after round max_iter - 1: the returned
    plan reads the checkpoint's RDD instead of re-running the loop, and
    two actions on it give the same rows."""
    pairs = [("a", "b", 2.0), ("b", "c", 1.0), ("c", "a", 1.0), ("x", "y", 1.0)]
    values = ", ".join(
        f"('{s}', '{d}', {w})" for s, d, w in pairs + [(d, s, w) for s, d, w in pairs]
    )
    # a VALUES relation, not createDataFrame: no input RDD scan of its own
    edges = spark.sql(f"SELECT * FROM VALUES {values} AS t(src, dst, weight)")
    out = G.label_propagation(edges, max_iter=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan
    assert sorted(out.collect()) == sorted(out.collect())


def test_kmeans_trace_ch9(spark):
    """B7 — K-Means numeric trace, `ppt/Ch9….pdf p.29-38`: points A(1,1),
    B(2,1), C(4,3), D(5,4), k=2, init A and C → after iter 1 clusters
    {A,B} and {C,D} with centers (1.5,1) and (4.5,3.5)."""
    pts = spark.createDataFrame(
        [(0, [1.0, 1.0]), (1, [2.0, 1.0]), (2, [4.0, 3.0]), (3, [5.0, 4.0])],
        "vec_id long, embedding array<double>",
    )
    # init = two lowest ids = A(1,1), B(2,1); one iteration regroups to the
    # slide's clusters because C,D are nearer B's replacement center.
    out = {r.vec_id: r.cid for r in ML.kmeans(pts, k=2, max_iter=3).collect()}
    assert out[0] == out[1]  # A,B together
    assert out[2] == out[3]  # C,D together
    assert out[0] != out[2]


def test_nb_toy_two_class(spark):
    """B8 — multinomial NB with add-1 smoothing on a 2-class toy corpus;
    expected posterior computed by hand (standard math, not the
    reference's quirk mode)."""
    train = spark.createDataFrame(
        [
            (1, "spam", "buy"), (1, "spam", "cheap"), (1, "spam", "buy"),
            (2, "spam", "cheap"), (2, "spam", "pills"),
            (3, "ham", "meeting"), (3, "ham", "tomorrow"),
            (4, "ham", "buy"), (4, "ham", "coffee"),
        ],
        "doc_id long, label string, word string",
    )
    test = spark.createDataFrame(
        [(10, "buy"), (10, "cheap"), (11, "meeting"), (11, "coffee")],
        "doc_id long, word string",
    )
    model = ML.nb_train(train)
    pred = {r.doc_id: r.pred for r in ML.nb_predict(test, model).collect()}
    assert pred == {10: "spam", 11: "ham"}


def test_nb_reference_quirk_mode(spark):
    """M3 quirk mode (`…/PredictMapper.java:79-86`): class = argmin of
    |Π_w log((c_wl+1)/(T_l+V)) · log P(l)| over distinct words, no tf.
    Expected values computed by an independent pure-Python scorer here."""
    import math

    train_rows = [
        (1, "spam", "buy"), (1, "spam", "cheap"), (1, "spam", "buy"),
        (2, "spam", "cheap"), (2, "spam", "pills"),
        (3, "ham", "meeting"), (3, "ham", "tomorrow"),
        (4, "ham", "buy"), (4, "ham", "coffee"),
    ]
    test_rows = [(10, "buy"), (10, "cheap"), (11, "meeting"), (11, "coffee"),
                 (12, "pills"), (12, "pills"), (12, "tomorrow")]
    train = spark.createDataFrame(train_rows, "doc_id long, label string, word string")
    test = spark.createDataFrame(test_rows, "doc_id long, word string")

    # independent scorer
    from collections import Counter

    docs_by_label = {}
    for d, l, w in train_rows:
        docs_by_label.setdefault(l, set()).add(d)
    n_docs = len({d for d, _, _ in train_rows})
    wc = Counter((l, w) for _, l, w in train_rows)
    totals = Counter()
    for (l, _), c in wc.items():
        totals[l] += c
    vocab = len({w for _, _, w in train_rows})
    expected = {}
    test_docs = {}
    for d, w in test_rows:
        test_docs.setdefault(d, set()).add(w)
    for d, ws in test_docs.items():
        best = None
        for l in docs_by_label:
            prior = math.log(len(docs_by_label[l]) / n_docs)
            prod = 1.0
            for w in ws:
                prod *= math.log((wc.get((l, w), 0) + 1) / (totals[l] + vocab))
            v = abs(prod * prior)
            if best is None or (v, l) < best:
                best = (v, l)
        expected[d] = best[1]

    model = ML.nb_train(train)
    pred = {
        r.doc_id: r.pred
        for r in ML.nb_predict(test, model, reference_semantics=True).collect()
    }
    assert pred == expected


def test_accuracy_ratio(spark):
    """A4 — T/(T+F), `…/AccuracyReducer.java:26-29`."""
    df = spark.createDataFrame(
        [("a", "a"), ("a", "b"), ("b", "b"), ("b", "b")], "truth string, pred string"
    )
    assert ML.accuracy(df, "truth", "pred").collect()[0].accuracy == 0.75


def test_tfidf_reference_semantics_flag(spark):
    """§2.9 quirk — reference IDF has no log (`…/TF_IDF_Compute.java:232`):
    idf == N/df under the flag, log(N/df) by default."""
    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a c")], "doc_id long, text string"
    )
    toks = TX.tokenize(docs, keep_cols=["doc_id"])
    ref = {r.word: r.idf for r in TX.tf_idf(toks, reference_semantics=True).select("word", "idf").distinct().collect()}
    std = {r.word: r.idf for r in TX.tf_idf(toks).select("word", "idf").distinct().collect()}
    assert ref["a"] == pytest.approx(1.0)  # N/df = 2/2
    assert ref["b"] == pytest.approx(2.0)  # 2/1
    assert std["a"] == pytest.approx(0.0)  # log(1)
    import math
    assert std["b"] == pytest.approx(math.log(2.0))


def test_skew_join_equivalence(spark):
    """§4 — salted join must produce exactly the plain join's rows."""
    import random

    random.seed(3)
    big = spark.createDataFrame(
        [(random.choice([1, 1, 1, 1, 2, 3]), i) for i in range(500)], "k int, v int"
    )
    small = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c"), (4, "d")], "k int, tag string")
    plain = sorted(tuple(r) for r in big.join(small, "k").collect())
    salted = sorted(tuple(r) for r in R.skew_join(big, small, "k").collect())
    assert plain == salted


def test_salted_group_agg_equivalence(spark):
    df = spark.createDataFrame(
        [(i % 3, float(i)) for i in range(1000)], "k int, v double"
    )
    direct = {
        (r.k): (r.n, round(r.total, 6))
        for r in df.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("total"))
        .collect()
    }
    salted = {
        (r.k): (r.n, round(r.total, 6))
        for r in R.salted_group_agg(
            df, ["k"], {"n": ("count", ""), "total": ("sum", "v")}
        ).collect()
    }
    assert direct == salted


def test_partial_aggregation_invariance(spark):
    """§5.5 property — result independent of partition count (the combiner
    correctness property, `ppt/Ch9….pdf p.27`)."""
    docs = spark.createDataFrame(
        [(i, "a b a") for i in range(20)], "doc_id long, text string"
    )
    for parts in (1, 7):
        out = {
            r.word: r.cnt
            for r in TX.word_count(
                TX.tokenize(docs.repartition(parts), keep_cols=["doc_id"])
            ).collect()
        }
        assert out == {"a": 40, "b": 20}


@pytest.mark.slow
def test_connected_components_golden(spark):
    """Hash-min CC on a handmade graph: a 4-path (deeper than one round),
    a triangle, and a disjoint pair — exact component minima expected."""
    from mapreduce_big_data_processing_spark.operators import graph as G

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (12, 10), (20, 21)],
        "src long, dst long",
    )
    got = {r.node: r.comp for r in G.connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_pagerank_convergence_mode(spark):
    """tol-mode must stop early on a quickly-mixing graph and land within
    tol-scale distance of a long fixed-iteration run."""
    pairs = [
        ("a", "b", 0.5), ("a", "c", 0.5), ("b", "a", 1.0),
        ("c", "b", 0.5), ("c", "d", 0.5), ("d", "a", 1.0),
    ]
    edges = spark.createDataFrame(pairs, "src string, dst string, weight double")
    fixed = {r.node: r.pr for r in G.pagerank(edges, max_iter=40).collect()}
    conv = {r.node: r.pr for r in G.pagerank(edges, max_iter=40, tol=1e-9).collect()}
    assert set(fixed) == set(conv)
    for n in fixed:
        assert conv[n] == pytest.approx(fixed[n], abs=1e-6)
    total = sum(conv.values())
    assert total == pytest.approx(1.0)


@pytest.mark.slow
def test_svm_one_vs_rest_separable(spark):
    """M5 (`ppt/Ch9….pdf p.63-68`): one-vs-rest linear SVM on a cleanly
    separable 3-class 2-D set must classify train AND held-out points
    perfectly; the per-class margins must pick the right model via max
    score."""
    pts = [
        # class 0: cluster at (-4, 0)
        (0, [-4.0, 0.2], 0), (1, [-4.3, -0.1], 0), (2, [-3.8, 0.0], 0),
        (3, [-4.1, 0.4], 0),
        # class 1: cluster at (4, 0)
        (4, [4.0, 0.1], 1), (5, [4.2, -0.3], 1), (6, [3.9, 0.2], 1),
        (7, [4.4, 0.0], 1),
        # class 2: cluster at (0, 4)
        (8, [0.1, 4.0], 2), (9, [-0.2, 4.3], 2), (10, [0.0, 3.9], 2),
        (11, [0.3, 4.1], 2),
    ]
    train = spark.createDataFrame(pts, "vec_id long, embedding array<double>, label int")
    classes, W = ML.svm_train(train, lam=0.1, iters=40)
    assert classes == [0, 1, 2]
    assert W.shape == (3, 3)  # 2 dims + bias
    pred = {
        r.vec_id: r.pred
        for r in ML.svm_predict(train, classes, W).collect()
    }
    assert pred == {p[0]: p[2] for p in pts}
    # held-out points near each cluster center
    test = spark.createDataFrame(
        [(100, [-4.0, 0.0]), (101, [4.0, 0.0]), (102, [0.0, 4.0])],
        "vec_id long, embedding array<double>",
    )
    got = {r.vec_id: r.pred for r in ML.svm_predict(test, classes, W).collect()}
    assert got == {100: 0, 101: 1, 102: 2}


@pytest.mark.slow
def test_svm_threshold_other_bucket(spark):
    """M5 predict with a score threshold: a low-confidence point (on the
    midline, where every one-vs-rest margin is ~0) falls back to the
    `other` label (the reference's none-of-the-480 bucket,
    `ppt/Ch9….pdf p.67-68`), while a point inside a cluster clears the
    margin."""
    pts = [
        (0, [-4.0, 0.0], 0), (1, [-4.2, 0.1], 0), (2, [-3.9, -0.2], 0),
        (3, [4.0, 0.0], 1), (4, [4.1, 0.2], 1), (5, [3.8, -0.1], 1),
    ]
    train = spark.createDataFrame(pts, "vec_id long, embedding array<double>, label int")
    classes, W = ML.svm_train(train, lam=0.1, iters=40)
    test = spark.createDataFrame(
        [(10, [-4.0, 0.0]), (11, [0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    got = {
        r.vec_id: r.pred
        for r in ML.svm_predict(
            test, classes, W, threshold=0.5, other_label=-1
        ).collect()
    }
    assert got[10] == 0
    assert got[11] == -1


@pytest.mark.slow
def test_knn_weighted_vote_disagrees_with_majority(spark):
    """M1 weighted mode (`ppt/Ch9….pdf p.55-57`): one near neighbor of
    class 0 (cos≈1) must outvote two distant class-1 neighbors
    (cos≈0.45 each) under similarity weighting, while plain majority
    picks class 1."""
    import math

    def vec(angle_deg):
        a = math.radians(angle_deg)
        return [math.cos(a), math.sin(a)]

    train = spark.createDataFrame(
        [
            (0, vec(1.0), 0),     # cos(query, .) ≈ 0.9998
            (1, vec(64.0), 1),    # ≈ cos 64° ≈ 0.438
            (2, vec(-64.0), 1),   # ≈ 0.438
        ],
        "vec_id long, embedding array<double>, label int",
    )
    test = spark.createDataFrame(
        [(10, vec(0.0))], "vec_id long, embedding array<double>"
    )
    majority = ML.knn_classify(train, test, k=3).collect()[0].pred
    weighted = ML.knn_classify(train, test, k=3, weighted=True).collect()[0].pred
    assert majority == 1   # two votes beat one
    assert weighted == 0   # 0.9998 beats 0.438 + 0.438


@pytest.mark.slow
def test_knn_lsh_route_matches_broadcast_at_full_probe(spark, sf_dir):
    """The collect-free LSH route at full probe (every bucket scanned) is
    EXACT — predictions must equal the broadcast path's on the same
    train/test split. Also pins the auto threshold: a tiny
    max_broadcast_queries forces the LSH route through `auto`."""
    from mapreduce_big_data_processing_spark import catalog
    from mapreduce_big_data_processing_spark.queries import _seeded_planes

    emb = catalog.load(spark, "embeddings", sf_dir)
    train = emb.filter(F.col("vec_id") % 5 != 0)
    test = emb.filter(F.col("vec_id") % 5 == 0)
    broadcast = {
        r.vec_id: r.pred for r in ML.knn_classify(train, test, k=5).collect()
    }
    lsh = {
        r.vec_id: r.pred
        for r in ML.knn_classify(
            train, test, k=5, method="lsh", planes=_seeded_planes()
        ).collect()
    }
    assert lsh == broadcast
    routed = {
        r.vec_id: r.pred
        for r in ML.knn_classify(
            train, test, k=5, max_broadcast_queries=3
        ).collect()
    }
    assert routed == broadcast
    # COST gate: a tiny |test|x|train| budget must route to LSH even
    # though the row-count gate passes (small test side, big train side);
    # at the default full probe the LSH route is exact, so the routing is
    # observable only through the budget — results must still match.
    cost_routed = {
        r.vec_id: r.pred
        for r in ML.knn_classify(
            train, test, k=5, max_broadcast_pairs=10
        ).collect()
    }
    assert cost_routed == broadcast


@pytest.mark.slow
def test_knn_routed_pruned_probe_quality_on_clustered_corpus(spark, sf_dir):
    """The registered routed kNN (home-bucket probe, corpus-sized plane
    count — the knn_predictions_routed configuration) must track the
    exact broadcast route where cluster structure exists, as in real
    embedding corpora: >= 0.9 label agreement on the synthetic clustered
    fixture (the IVF recall test's construction, label = cluster id). On
    the UNIFORM random fixture agreement collapses toward the 1/10
    chance floor — a property of that fixture, not the route (the
    BENCH_SCALE r3 lesson)."""
    from mapreduce_big_data_processing_spark import catalog
    from mapreduce_big_data_processing_spark.operators import similarity as S

    emb = catalog.load(spark, "embeddings", sf_dir)
    cmod = (F.col("vec_id") % 8).cast("int")
    clustered = emb.select(
        "vec_id",
        cmod.alias("label"),
        F.transform(
            "embedding",
            lambda x, i: F.when((i % 8) == cmod, F.lit(1.0)).otherwise(F.lit(0.0))
            + x.cast("double") * F.lit(0.05),
        ).alias("embedding"),
    )
    train = clustered.filter(F.col("vec_id") % 5 != 0)
    test = clustered.filter(F.col("vec_id") % 5 == 0)
    exact = {
        r.vec_id: r.pred for r in ML.knn_classify(train, test, k=5).collect()
    }
    planes = S.seeded_planes(S.sized_plane_count(400), dim=64, seed=42)
    routed = {
        r.vec_id: r.pred
        for r in ML.knn_classify(
            train, test, k=5, method="lsh", planes=planes, n_probe=1
        ).collect()
    }
    agree = sum(1 for k, v in routed.items() if exact.get(k) == v)
    assert len(exact) > 0
    assert agree / len(exact) >= 0.9, agree / len(exact)


def test_bpe_classic_merges(spark):
    """Sennrich ACL'16 worked example (no end-of-word marker): corpus
    low×5 lower×2 newest×6 widest×3. Pair counts: (e,s)=9 ties (s,t)=9 ->
    lexicographic tie-break picks (e,s); then (es,t)=9; then (l,o)=7 ties
    (o,w) -> (l,o)."""
    docs = spark.createDataFrame(
        [(1, " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3))],
        "doc_id long, text string",
    )
    got = [tuple(r) for r in TX.bpe_train(docs, n_merges=3).collect()]
    assert got == [
        (1, "e", "s", "es", 9),
        (2, "es", "t", "est", 9),
        (3, "l", "o", "lo", 7),
    ]


def test_bpe_self_pair_merges_leftmost_nonoverlapping(spark):
    """Overlapping matches only exist for lhs==rhs: 'aaaa' has three (a,a)
    occurrences but merging is leftmost-non-overlapping -> [aa, aa], and
    the next round merges (aa, aa)."""
    docs = spark.createDataFrame(
        [(1, "aaaa aaaa")], "doc_id long, text string"
    )
    got = [tuple(r) for r in TX.bpe_train(docs, n_merges=2).collect()]
    assert got == [
        (1, "a", "a", "aa", 6),
        (2, "aa", "aa", "aaaa", 2),
    ]


def test_bpe_oracle_replays_self_pair_rule():
    """The SQL oracle's run-parity merge (gaps-and-islands windows) must
    reproduce the leftmost-non-overlapping scan on the self-pair corpus —
    the only case where matches overlap and the rules could diverge."""
    import duckdb
    import pandas as pd

    from mapreduce_big_data_processing_spark.queries import _bpe_sql

    con = duckdb.connect()
    pdf = pd.DataFrame({"doc_id": [1], "text": ["aaaa aaaa"]})
    con.register("documents", pdf)
    rows = sorted(map(tuple, con.sql(_bpe_sql(2)).fetchall()))
    assert rows == [(1, "a", "a", "aa", 6), (2, "aa", "aa", "aaaa", 2)]


def test_bpe_segment_applies_merges_in_order(spark):
    docs = spark.createDataFrame([(1, "lower lower")], "doc_id long, text string")
    seg = {
        r.word: (r.freq, r.tokens)
        for r in TX.bpe_segment(docs, [("l", "o"), ("lo", "w")]).collect()
    }
    assert seg == {"lower": (2, ["low", "e", "r"])}


def test_triangle_counts_golden(spark):
    """K4 (4 triangles, 3 per vertex) plus a pendant path: path vertices
    close no triangle; the attachment vertex keeps only its K4 count.
    Edges given directed/duplicated to check undirected canonicalization."""
    from mapreduce_big_data_processing_spark.operators import graph as G

    k4 = [(a, b) for a in "abcd" for b in "abcd" if a != b]  # both directions
    path = [("d", "e"), ("e", "f"), ("f", "e")]  # pendant path d-e-f + dup
    edges = spark.createDataFrame(k4 + path, "src string, dst string")
    out = {
        r["node"]: (r["degree"], r["triangles"])
        for r in G.triangle_counts(edges).collect()
    }
    assert out == {
        "a": (3, 3), "b": (3, 3), "c": (3, 3),
        "d": (4, 3),  # 3 K4 triangles; the pendant edge adds degree only
        "e": (2, 0), "f": (1, 0),
    }


def test_pagerank_encoded_loop_matches_string_loop(spark, monkeypatch):
    """The r10 dictionary-encoding fast path (string node ids -> xxhash64
    int64 for the iteration loop, decoded at the end) must return exactly
    the rows the string loop returns — on a covered graph AND on a
    dangling graph (the dangling set is itself encoded). Both runs take
    the driver loop: a gate of one edge per partition sends these toy
    graphs past the one-task path."""
    from mapreduce_big_data_processing_spark.operators import graph as G

    monkeypatch.setattr(G, "_PARTITION_EDGES", 1)
    sym = [
        ("a", "b", 0.5), ("b", "a", 1.0), ("a", "c", 0.5),
        ("c", "d", 1.0), ("d", "c", 0.5), ("d", "a", 0.5),
    ]
    dangling = [("a", "b", 1.0), ("b", "c", 0.5), ("b", "d", 0.5)]
    for pairs in (sym, dangling):
        edges = spark.createDataFrame(
            pairs, "src string, dst string, weight double"
        )
        base = {
            r.node: round(r.pr, 12)
            for r in G.pagerank(edges, max_iter=7).collect()
        }
        with monkeypatch.context() as m:
            m.setattr(G, "_ENCODE_MIN_EDGES", 1)
            enc = {
                r.node: round(r.pr, 12)
                for r in G.pagerank(edges, max_iter=7).collect()
            }
        assert enc == base


@pytest.mark.parametrize("tol", [None, 1e-3])
def test_pagerank_empty_edges(spark, tol):
    """An empty edge set ranks no node, in fixed and convergence mode."""
    edges = spark.createDataFrame([], "src string, dst string, weight double")
    ranks = G.pagerank(edges, max_iter=3, tol=tol)
    assert ranks.columns == ["node", "pr"]
    assert ranks.collect() == []


@pytest.mark.parametrize(
    "pairs, tol",
    [
        # covered: every node has an out-edge, "s" has no in-edge
        ([("s", "a", 1.0), ("a", "b", 0.5), ("a", "c", 0.5), ("b", "a", 1.0),
          ("c", "b", 1.0)], None),
        # dangling: "c" and "d" have no out-edge
        ([("a", "b", 0.5), ("a", "c", 0.5), ("b", "d", 1.0)], None),
        # every node has an in-edge and an out-edge
        ([("a", "b", 0.5), ("b", "a", 1.0), ("a", "c", 0.5), ("c", "d", 1.0),
          ("d", "c", 0.5), ("d", "a", 0.5)], None),
        # convergence mode: Σ|Δpr| first drops under 1e-3 in round 13 of 30
        ([("a", "b", 0.5), ("a", "c", 0.5), ("b", "a", 1.0), ("c", "b", 0.5),
          ("c", "d", 0.5), ("d", "a", 1.0)], 1e-3),
    ],
    ids=["covered", "dangling", "all_have_in", "tol"],
)
def test_pagerank_one_task_matches_loop(spark, monkeypatch, pairs, tol):
    """The one-task kernel that ranks one-partition graphs runs the driver
    loop's recurrence: the same nodes, values within 1e-12."""
    edges = spark.createDataFrame(pairs, "src string, dst string, weight double")
    k = 12 if tol is None else 30
    kernel = {r.node: r.pr for r in G.pagerank(edges, max_iter=k, tol=tol).collect()}
    with monkeypatch.context() as m:
        m.setattr(G, "_PARTITION_EDGES", 1)  # every toy graph takes the loop
        loop = {r.node: r.pr for r in G.pagerank(edges, max_iter=k, tol=tol).collect()}
    assert set(kernel) == set(loop)
    for node, pr in loop.items():
        assert kernel[node] == pytest.approx(pr, rel=0, abs=1e-12)
