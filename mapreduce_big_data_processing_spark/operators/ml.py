"""ML-as-dataflow operators (SURVEY.md §2.9 M1-M6).

The reference implements classifiers as multi-job MapReduce pipelines over
sparse-vector text files; here each is a DataFrame plan:

  - Naive Bayes train = two grouped aggregations (the reference's TrainModel
    job, `…/final_NB_src/phase2/TrainModel/*`); predict = broadcast model
    join + log-space scoring + window argmax (`…/Predict/PredictMapper.java:54-89`
    — standard multinomial math by default; the reference's quirks
    (multiplying logs, dropping the tf multiplier) are NOT reproduced unless
    ``reference_semantics=True``).
  - kNN = broadcast queries + cosine + per-query top-k + majority vote
    (`…/final_kNN_src/phase2/KNNMapper.java:14-189`).
  - K-Means = driver loop of nearest-center assignment + per-center mean
    (`ppt/Ch9….pdf p.21-39`), arrays averaged via posexplode.
  - Frequent itemsets = level-wise Apriori as self-joins (exact, equals
    what SON computes, `ppt/Ch9….pdf p.71-78`); a `mapInPandas`
    per-partition SON variant demonstrates the 2-job structure.
  - accuracy = T/(T+F) ratio aggregate (`…/AccuracyReducer.java:26-29`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from mapreduce_big_data_processing_spark.operators import similarity as _S
from mapreduce_big_data_processing_spark.operators.similarity import cosine


# ---------------------------------------------------------------------------
# Naive Bayes (M2/M3)
# ---------------------------------------------------------------------------


def nb_train(
    tokens: DataFrame,
    label_col: str = "label",
    doc_col: str = "doc_id",
    word_col: str = "word",
) -> dict[str, DataFrame]:
    """M2 — multinomial NB model as three small DataFrames.

    priors: (label, n_docs, log_prior); word_counts: (label, word, cnt);
    class_totals: (label, total_tf); plus vocab size folded into totals.
    Two shuffles; model sides are broadcast at predict time.
    """
    priors = (
        tokens.select(label_col, doc_col)
        .distinct()
        .groupBy(label_col)
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    total_docs = priors.agg(F.sum("n_docs").alias("nd"))
    priors = priors.crossJoin(F.broadcast(total_docs)).select(
        label_col,
        "n_docs",
        F.log(F.col("n_docs") / F.col("nd")).alias("log_prior"),
    )
    word_counts = tokens.groupBy(label_col, word_col).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    vocab = tokens.select(word_col).distinct().agg(F.count(F.lit(1)).alias("v"))
    class_totals = (
        word_counts.groupBy(label_col)
        .agg(F.sum("cnt").alias("total_tf"))
        .crossJoin(F.broadcast(vocab))
    )
    return {"priors": priors, "word_counts": word_counts, "class_totals": class_totals}


def nb_predict(
    test_tokens: DataFrame,
    model: dict[str, DataFrame],
    label_col: str = "label",
    doc_col: str = "doc_id",
    word_col: str = "word",
    out: str = "pred",
    reference_semantics: bool = False,
) -> DataFrame:
    """M3 — log-space multinomial NB with add-1 smoothing.

    score(d, l) = log P(l) + Σ_w tf·log(c_wl + 1) − tf_d·log(T_l + V)

    The identity folds unseen-word smoothing (log(0+1)=0) into the matched
    join, so scoring is a single equi-join on (word,label-broadcast) — no
    per-(doc × class × word) expansion. Output: (doc_id, pred).

    ``reference_semantics=True`` reproduces the reference's scoring quirks
    (`…/final_NB_src/phase2/Predict/PredictMapper.java:54-89`): it
    MULTIPLIES the per-word log-probabilities instead of summing (`:79`),
    ignores the term-frequency multiplier (`:68-69` parsed, unused), and
    picks the class minimizing |Π log(p_w|l) · log P(l)| (`:82-86`).
    Computed stably as argmin of Σ_w ln(−log p_w|l) + ln(−log P(l)) over
    the doc's *distinct* words (every log factor is negative, so |Π| is
    monotone in that sum).
    """
    if reference_semantics:
        return _nb_predict_reference(
            test_tokens, model, label_col, doc_col, word_col, out
        )
    tf = test_tokens.groupBy(doc_col, word_col).agg(F.count(F.lit(1)).alias("tf"))
    doc_len = tf.groupBy(doc_col).agg(F.sum("tf").alias("tf_d"))
    wc = model["word_counts"].select(
        F.col(label_col).alias("__l"), word_col, F.col("cnt")
    )
    matched = (
        tf.join(F.broadcast(wc), word_col)
        .groupBy(doc_col, "__l")
        .agg(F.sum(F.col("tf") * F.log(F.col("cnt") + 1)).alias("match_score"))
    )
    # every (doc, label) cell: smoothing floor + prior
    cls = (
        model["priors"]
        .join(model["class_totals"], label_col)
        .select(
            F.col(label_col).alias("__l"),
            "log_prior",
            F.log(F.col("total_tf") + F.col("v")).alias("log_denom"),
        )
    )
    cells = doc_len.crossJoin(F.broadcast(cls))
    scored = cells.join(matched, [doc_col, "__l"], "left").select(
        doc_col,
        F.col("__l"),
        (
            F.col("log_prior")
            + F.coalesce(F.col("match_score"), F.lit(0.0))
            - F.col("tf_d") * F.col("log_denom")
        ).alias("score"),
    )
    w = Window.partitionBy(doc_col).orderBy(F.desc("score"), F.asc("__l"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(doc_col, F.col("__l").alias(out))
    )


def _nb_predict_reference(
    test_tokens: DataFrame,
    model: dict[str, DataFrame],
    label_col: str,
    doc_col: str,
    word_col: str,
    out: str,
) -> DataFrame:
    """Quirk-faithful NB scoring (see nb_predict docstring). Distinct words
    only (no tf), product-of-logs via Σ ln(−log p), argmin of the product's
    magnitude times |log prior|."""
    words = test_tokens.select(doc_col, word_col).distinct()
    n_words = words.groupBy(doc_col).agg(F.count(F.lit(1)).alias("nw"))
    wc = model["word_counts"].select(
        F.col(label_col).alias("__l"), word_col, F.col("cnt")
    )
    cls = (
        model["priors"]
        .join(model["class_totals"], label_col)
        .select(
            F.col(label_col).alias("__l"),
            F.log(-F.col("log_prior")).alias("ln_abs_logprior"),
            F.log(F.col("total_tf") + F.col("v")).alias("log_denom"),
        )
    )
    # matched words: ln(−log((c+1)/(T+V))) − ln(−log(1/(T+V))); the second
    # term is the unmatched floor ln(log(T+V)), added back for all words
    matched = (
        words.join(F.broadcast(wc), word_col)
        .join(F.broadcast(cls), "__l")
        .groupBy(doc_col, "__l")
        .agg(
            F.sum(
                F.log(F.col("log_denom") - F.log(F.col("cnt") + 1))
                - F.log(F.col("log_denom"))
            ).alias("adj")
        )
    )
    cells = n_words.crossJoin(F.broadcast(cls))
    scored = cells.join(matched, [doc_col, "__l"], "left").select(
        doc_col,
        F.col("__l"),
        (
            F.coalesce(F.col("adj"), F.lit(0.0))
            + F.col("nw") * F.log(F.col("log_denom"))
            + F.col("ln_abs_logprior")
        ).alias("v"),
    )
    w = Window.partitionBy(doc_col).orderBy(F.asc("v"), F.asc("__l"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(doc_col, F.col("__l").alias(out))
    )


# ---------------------------------------------------------------------------
# kNN (M1)
# ---------------------------------------------------------------------------


def knn_classify(
    train: DataFrame,
    test: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    out: str = "pred",
    weighted: bool = False,
    method: str = "auto",
    max_broadcast_queries: int = 100_000,
    max_broadcast_pairs: int = 10_000_000_000,
    planes: list | None = None,
    n_probe: int | None = None,
) -> DataFrame:
    """M1 — kNN by cosine similarity + majority vote (ties → smallest
    label, then nearest neighbor order). The reference broadcasts the train
    set and keeps a manual K-best buffer per test row
    (`…/KNNMapper.java:113-183`); here the *test* side broadcasts (queries
    are the small side in batch scoring) and top-k is a window.

    ``weighted=True`` switches the vote to similarity-weighted
    (`ppt/Ch9….pdf p.55-57`): each neighbor votes its cosine similarity
    instead of 1, so a single very-close neighbor can outvote two distant
    ones — same plan shape, only the vote aggregate changes.

    Large inputs: ``method='auto'`` routes by COST — it broadcasts only
    when the test side fits the driver (``max_broadcast_queries``) AND
    the |test|·|train| score-matrix work is affordable
    (``max_broadcast_pairs``); otherwise it switches to the LSH-bucketed
    scorer, where the test side stays a TABLE end to end (probe
    expansion is an Arrow stage, scoring a bucket equi-join), so a
    100 TB test table never reaches the driver — and a small test set
    against a 100 TB train table no longer triggers a full quadratic
    scan just because the row-count gate passed. ``method='lsh'``
    forces that path with zero driver collects (requires ``planes``).
    ``n_probe`` defaults to 2**len(planes) — every bucket probed, which
    makes the LSH route EXACT (same answer as the broadcast path), at the
    cost of scanning all buckets; pass a smaller n_probe to trade recall
    for probe pruning.
    """
    from mapreduce_big_data_processing_spark.operators.similarity import (
        _batch_scored_candidates,
        lsh_topk,
    )

    if method not in ("auto", "broadcast", "lsh"):
        raise ValueError(f"knn_classify: unknown method {method!r}")
    q = test.select(F.col(id_col).alias("__tid"), F.col(vec_col))
    q_rows = None
    if method == "auto":
        # COST-based routing (r3 verdict #7), not a bare row-count gate:
        # the broadcast path's work is the |test|·|train| score matrix, so
        # a small test side against a huge train side must still route to
        # LSH. |test| comes from the bounded collect (also the broadcast
        # payload); |train| from a count — one column-pruned scan, noise
        # against the matmul it sizes. The collect cap still applies
        # independently (the driver must hold the test matrix at all).
        # When the test side alone already exceeds the broadcast cap the
        # route is LSH regardless of |train| — skip the train count (one
        # wasted full scan of a potentially huge table otherwise).
        q_rows = q.limit(max_broadcast_queries + 1).collect()
        if len(q_rows) <= max_broadcast_queries:
            pairs = len(q_rows) * train.count()
        else:
            pairs = max_broadcast_pairs + 1
        if len(q_rows) <= max_broadcast_queries and pairs <= max_broadcast_pairs:
            method = "broadcast"
        else:
            method = "lsh"
            if planes is None:  # seeded normals — deterministic, d known
                import numpy as np

                d = len(q_rows[0][1])
                planes = np.random.default_rng(8191).standard_normal((6, d)).tolist()
            q_rows = None
    if method == "lsh":
        if planes is None:
            raise ValueError(
                "knn_classify: the collect-free LSH route needs `planes` "
                "(deterministic hyperplanes, e.g. seeded normals)"
            )
        cand = lsh_topk(
            train,
            q,
            planes,
            k=k,
            n_probe=2 ** len(planes) if n_probe is None else n_probe,
            id_col=id_col,
            vec_col=vec_col,
            query_id_col="__tid",
        ).select("__tid", F.col(id_col).alias("__nbr"), "cosine")
        # lsh_topk already cut to the global top-k per query with the
        # identical (desc cosine, asc id) order — re-windowing here would
        # re-sort the same ≤k rows for nothing (two WindowGroupLimit
        # passes in the executed plan)
    else:
        # batch-local top-k: up to k candidates PER ARROW BATCH survive,
        # so the global per-query cut still has to run
        cand = _batch_scored_candidates(
            train, q, k, id_col, vec_col, "__tid", q_rows=q_rows,
            max_broadcast_queries=max_broadcast_queries,
        ).withColumnRenamed(id_col, "__nbr")
        w = Window.partitionBy("__tid").orderBy(
            F.desc("cosine"), F.asc("__nbr")
        )
        cand = cand.withColumn("rn", F.row_number().over(w)).filter(
            F.col("rn") <= k
        )
    top = cand.join(
        train.select(F.col(id_col).alias("__nbr"), label_col), "__nbr"
    ).withColumnRenamed("cosine", "sim")
    vote_expr = F.sum("sim") if weighted else F.count(F.lit(1)).cast("double")
    votes = top.groupBy("__tid", label_col).agg(
        vote_expr.alias("votes"), F.max("sim").alias("best_sim")
    )
    wv = Window.partitionBy("__tid").orderBy(
        F.desc("votes"), F.desc("best_sim"), F.asc(label_col)
    )
    return (
        votes.withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select(F.col("__tid").alias(id_col), F.col(label_col).alias(out))
    )


# ---------------------------------------------------------------------------
# K-Means (M4)
# ---------------------------------------------------------------------------


def kmeans(
    points: DataFrame,
    k: int = 8,
    max_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """M4 — K-Means driver loop (`ppt/Ch9….pdf p.21-39`).

    Deterministic init: the k lowest ids. Assignment = crossJoin with the
    broadcast centroid table (k rows) + min distance; update = elementwise
    mean via posexplode/groupBy(cid, dim) — the combiner-style partial mean
    of `ppt/Ch9….pdf p.24-28` is automatic partial aggregation here.
    Output: (vec_id, cid).
    """
    pts = points.select(
        F.col(id_col), F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v")
    ).cache()  # re-scanned every assignment round otherwise
    w_init = Window.orderBy(F.asc(id_col))
    centroids = (
        pts.withColumn("rn", F.row_number().over(w_init))
        .filter(F.col("rn") <= k)
        .select((F.col("rn") - 1).alias("cid"), F.col("v").alias("c"))
    )

    def assign(cents: DataFrame) -> DataFrame:
        d2 = F.aggregate(
            F.zip_with(F.col("v"), F.col("c"), lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        scored = pts.crossJoin(F.broadcast(cents)).select(
            id_col, "v", "cid", d2.alias("d2")
        )
        w = Window.partitionBy(id_col).orderBy(F.asc("d2"), F.asc("cid"))
        return (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(id_col, "v", "cid")
        )

    from mapreduce_big_data_processing_spark.plans.iterate import iterate

    def step(cents: DataFrame, i: int) -> DataFrame:
        assigned = assign(cents)
        return (
            assigned.select("cid", F.posexplode("v").alias("dim", "x"))
            .groupBy("cid", "dim")
            .agg(F.avg("x").alias("m"))
            .groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "m"))),
                    lambda s: s["m"],
                ).alias("c")
            )
        )

    # centroid table is k rows — checkpoint every round to keep the
    # assignment crossJoin plan flat
    centroids = iterate(centroids, step, max_iter, checkpoint_every=1)
    return assign(centroids).select(id_col, "cid")


# ---------------------------------------------------------------------------
# SVM one-vs-rest (M5)
# ---------------------------------------------------------------------------


def svm_train(
    train: DataFrame,
    lam: float = 0.01,
    iters: int = 30,
    vec_col: str = "embedding",
    label_col: str = "label",
):
    """M5 — one-vs-rest linear SVM (`ppt/Ch9….pdf p.63-68`: the reference
    trains one 2-class model per class, 480 of them, then predicts by max
    score). Training is Pegasos-style full-batch subgradient descent
    (Shalev-Shwartz et al., ICML'07): minimize λ/2‖w‖² + mean hinge loss,
    step η_t = 1/(λt).

    Scale posture: the DATA never moves — each iteration is one scan of the
    cached feature table where every Arrow batch emits a single partial
    gradient row for ALL classes at once ((C·(d+1))-vector), so the driver
    only ever holds the tiny weight matrix and per-partition partials
    (map-side combine, same driver-loop contract as :func:`kmeans` /
    PageRank). All C one-vs-rest problems share each scan instead of
    running C jobs like the reference.

    Returns ``(classes, W)``: the sorted class list and the (C, d+1) NumPy
    weight matrix (last column = bias).
    """
    import numpy as np

    X = train.select(
        F.col(label_col).alias("__y"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v"),
    ).cache()
    # ONE probe job materializes the feature cache and returns the sorted
    # class list, the row count and the dimension. Labels are collected as
    # one-field structs so a null label is kept, sorted first as
    # orderBy(label) would.
    label_rows, n, d = X.agg(
        F.sort_array(F.collect_set(F.struct("__y"))),
        F.count("*"),
        F.max(F.size("__v")),
    ).first()
    classes = [r[0] for r in label_rows]
    cls_idx = {c: j for j, c in enumerate(classes)}
    C = len(classes)
    W = np.zeros((C, d + 1))

    spark = train.sparkSession
    idx_bc = spark.sparkContext.broadcast(cls_idx)

    for t in range(1, iters + 1):
        w_bc = spark.sparkContext.broadcast(W)

        def partial(batches):
            import numpy as np
            import pandas as pd

            W_ = w_bc.value
            ci = idx_bc.value
            C_, d1 = W_.shape
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                V = np.vstack(pdf["__v"].to_numpy()).astype("float64")
                V = np.concatenate([V, np.ones((len(V), 1))], axis=1)
                # Y[i, c] = +1 if row i belongs to class c else -1
                y_idx = pdf["__y"].map(ci).to_numpy()
                Y = -np.ones((len(V), C_))
                Y[np.arange(len(V)), y_idx] = 1.0
                margin = Y * (V @ W_.T)  # (b, C)
                viol = (margin < 1.0).astype("float64")
                G = (Y * viol).T @ V  # (C, d+1): Σ y_i x_i over violations
                yield pd.DataFrame({"g": [G.reshape(-1)]})

        # treeAggregate shape: per-batch partial vectors fold EXECUTOR-SIDE
        # (posexplode → hash-agg with map-side combine), so the driver
        # receives exactly C·(d+1) scalar rows per iteration regardless of
        # partition count — at thousands of partitions the old
        # one-row-per-batch collect was model-size × partition-count.
        parts = (
            X.mapInPandas(partial, schema="g array<double>")
            .select(F.posexplode("g").alias("i", "v"))
            .groupBy("i")
            .agg(F.sum("v").alias("g"))
            .collect()
        )
        G = np.zeros(C * (d + 1))
        for r in parts:
            G[r["i"]] = r["g"]
        eta = 1.0 / (lam * t)
        W = (1.0 - eta * lam) * W + (eta / n) * G.reshape(C, d + 1)
        w_bc.destroy()
    return classes, W


def svm_predict(
    test: DataFrame,
    classes: list,
    W,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out: str = "pred",
    threshold: float | None = None,
    other_label=None,
    label_type: str | None = None,
) -> DataFrame:
    """M5 predict — score all C models in one vectorized pass (X @ Wᵀ),
    take the max-margin class; with ``threshold``, scores below it fall
    back to ``other_label`` (the reference's "none of the 480 people"
    bucket, `ppt/Ch9….pdf p.67-68`). Ties break to the smallest class.
    The weight matrix is tiny broadcast state; the test side streams.
    """
    import numpy as np

    spark = test.sparkSession
    Wm = np.asarray(W, dtype="float64")
    bc = spark.sparkContext.broadcast((list(classes), Wm, threshold, other_label))

    def score(batches):
        import numpy as np
        import pandas as pd

        cls, W_, thr, other = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.vstack(pdf["__v"].to_numpy()).astype("float64")
            V = np.concatenate([V, np.ones((len(V), 1))], axis=1)
            S = V @ W_.T  # (b, C)
            # argmax with smallest-class tiebreak: argmax scans left-to-right
            # over classes already sorted ascending
            best = S.argmax(axis=1)
            preds = [cls[j] for j in best]
            if thr is not None:
                mx = S.max(axis=1)
                preds = [
                    other if m < thr else p for p, m in zip(preds, mx)
                ]
            yield pd.DataFrame({"id": pdf["__id"], "p": preds})

    if not classes:
        raise ValueError("svm_predict: empty class list (was svm_train given rows?)")
    if label_type is not None:
        lbl_type = label_type  # caller passes the training label's Spark dtype
    elif isinstance(classes[0], str):
        lbl_type = "string"
    elif isinstance(classes[0], float):
        lbl_type = "double"
    else:
        lbl_type = "bigint"  # never narrow an integral label
    id_type = dict(test.dtypes)[id_col]
    return (
        test.select(
            F.col(id_col).alias("__id"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v"),
        )
        .mapInPandas(score, schema=f"id {id_type}, p {lbl_type}")
        .select(F.col("id").alias(id_col), F.col("p").alias(out))
    )


# ---------------------------------------------------------------------------
# Frequent itemsets (M6)
# ---------------------------------------------------------------------------


def frequent_itemsets(
    basket_items: DataFrame,
    min_support: int,
    max_size: int = 3,
    basket_col: str = "basket_id",
    item_col: str = "item",
) -> DataFrame:
    """M6 — exact frequent itemsets (what SON/PSON computes,
    `ppt/Ch9….pdf p.71-78`) by level-wise Apriori self-joins.

    Level L candidates extend frequent (L-1)-itemsets with a frequent item
    greater than the set's max — candidate pruning via the equi-join itself.
    Output: (itemset csv-string, size, support).
    """
    items = basket_items.select(
        F.col(basket_col).alias("b"), F.col(item_col).alias("i")
    ).distinct()
    freq1 = (
        items.groupBy("i")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= min_support)
    )
    frequent_items = items.join(freq1.select("i"), "i", "left_semi")
    out = freq1.select(
        F.col("i").alias("itemset"), F.lit(1).alias("size"), "support"
    )
    level = frequent_items.select("b", F.col("i").alias("last"), F.col("i").alias("itemset"))
    for size in range(2, max_size + 1):
        ext = frequent_items.select("b", F.col("i").alias("nxt"))
        level = (
            level.join(ext, "b")
            .filter(F.col("nxt") > F.col("last"))
            .select(
                "b",
                F.col("nxt").alias("last"),
                F.concat_ws(",", "itemset", "nxt").alias("itemset"),
            )
        )
        freq = (
            level.groupBy("itemset")
            .agg(F.count(F.lit(1)).alias("support"))
            .filter(F.col("support") >= min_support)
        )
        level = level.join(freq.select("itemset"), "itemset", "left_semi")
        out = out.unionByName(
            freq.select("itemset", F.lit(size).alias("size"), "support")
        )
    return out


def son_frequent_itemsets(
    basket_items: DataFrame,
    min_support: int,
    max_size: int = 3,
    basket_col: str = "basket_id",
    item_col: str = "item",
) -> DataFrame:
    """M6 — the 2-stage SON structure itself (`ppt/Ch9….pdf p.74-78`):
    stage 1 mines each partition with in-memory Apriori at scaled support
    (mapInPandas) and unions candidates; stage 2 recounts candidates
    globally and filters — exact, no false negatives. Same output schema as
    :func:`frequent_itemsets`.
    """
    import pandas as pd  # noqa: F401 — required by mapInPandas batches

    items = basket_items.select(
        F.col(basket_col).alias("b"), F.col(item_col).alias("i")
    ).distinct()
    n_total = items.select("b").distinct().count()

    def mine(batches):
        from itertools import combinations

        baskets: dict = {}
        for pdf in batches:
            for b, i in zip(pdf["b"], pdf["i"]):
                baskets.setdefault(b, set()).add(i)
        n_local = len(baskets)
        if n_local == 0:
            return
        local_sup = max(1, int(min_support * n_local / n_total))
        cands: set = set()
        counts: dict = {}
        for s in baskets.values():
            for i in s:
                counts[(i,)] = counts.get((i,), 0) + 1
        frequent = {k for k, v in counts.items() if v >= local_sup}
        cands |= frequent
        prev = frequent
        for size in range(2, max_size + 1):
            counts = {}
            for s in baskets.values():
                for combo in combinations(sorted(s), size):
                    if all(tuple(sub) in prev or len(sub) > size - 1
                           for sub in combinations(combo, size - 1)):
                        counts[combo] = counts.get(combo, 0) + 1
            prev = {k for k, v in counts.items() if v >= local_sup}
            cands |= prev
            if not prev:
                break
        import pandas as pd

        yield pd.DataFrame({"itemset": [",".join(c) for c in cands]})

    candidates = (
        items.repartition(8, "b")
        .mapInPandas(mine, schema="itemset string")
        .distinct()
    )
    exploded = candidates.select(
        "itemset", F.explode(F.split("itemset", ",")).alias("i")
    )
    sizes = candidates.select("itemset", F.size(F.split("itemset", ",")).alias("size"))
    # stage 2: global recount — candidate contained in basket iff all its
    # items match (count of matched items == itemset size)
    matched = (
        exploded.join(items, "i")
        .groupBy("itemset", "b")
        .agg(F.count(F.lit(1)).alias("hit"))
        .join(sizes, "itemset")
        .filter(F.col("hit") == F.col("size"))
        .groupBy("itemset")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= min_support)
    )
    return matched.join(sizes, "itemset").select("itemset", "size", "support")


def association_rules(
    itemsets: DataFrame,
    min_conf_num: int = 1,
    min_conf_den: int = 2,
) -> DataFrame:
    """M6 — rule generation from frequent itemsets (the step after
    Apriori/SON in the reference's association-mining chapter,
    `ppt/Ch9….pdf p.71-78`): for every frequent itemset S (|S| ≥ 2) and
    single-item consequent y ∈ S, emit X→y with X = S∖{y} when
    confidence(X→y) = support(S)/support(X) ≥ min_conf_num/min_conf_den.

    The antecedent X is frequent by downward closure, so its support is a
    self-join against the itemsets table — no second pass over the
    baskets. The confidence threshold is integer cross-multiplication
    (den·sup(S) ≥ num·sup(X)); output carries the exact integer supports
    so any confidence/lift derives downstream (zero-float protocol).

    Input: ``frequent_itemsets``/``son_frequent_itemsets`` output
    (itemset csv-string with items in ascending order, size, support).
    Output: (antecedent, consequent, support_rule, support_antecedent).
    """
    arr = F.split(F.col("itemset"), ",")
    ex = itemsets.filter(F.col("size") >= 2).select(
        "itemset",
        F.col("support").alias("support_rule"),
        F.posexplode(arr).alias("__pos", "consequent"),
    )
    arr2 = F.split(F.col("itemset"), ",")
    ante = F.array_join(
        F.concat(
            F.slice(arr2, F.lit(1), F.col("__pos")),
            F.slice(
                arr2, F.col("__pos") + 2, F.greatest(F.size(arr2) - F.col("__pos") - 1, F.lit(0))
            ),
        ),
        ",",
    )
    sup_x = itemsets.select(
        F.col("itemset").alias("antecedent"),
        F.col("support").alias("support_antecedent"),
    )
    return (
        ex.withColumn("antecedent", ante)
        .join(sup_x, "antecedent")
        .filter(
            F.lit(min_conf_den) * F.col("support_rule")
            >= F.lit(min_conf_num) * F.col("support_antecedent")
        )
        .select("antecedent", "consequent", "support_rule", "support_antecedent")
    )


# ---------------------------------------------------------------------------
# Evaluation (A4, A17)
# ---------------------------------------------------------------------------


def accuracy(pred: DataFrame, truth_col: str, pred_col: str, out: str = "accuracy") -> DataFrame:
    """A4 — T/(T+F) (`…/AccuracyReducer.java:26-29`)."""
    return pred.agg(
        F.round(
            F.avg(F.when(F.col(truth_col) == F.col(pred_col), 1.0).otherwise(0.0)), 6
        ).alias(out)
    )


def rank_auc(
    df: DataFrame,
    score_col: str,
    label_col: str,
    positive,
) -> DataFrame:
    """ROC-AUC as exact integer rank sums (Mann-Whitney U): the evaluation
    metric for "does this scalar signal separate the positive class",
    extending the reference's closing Accuracy job (A4,
    `…/AccuracyReducer.java:26-29`) to threshold-free evaluation.

    AUC = U / (n_pos·n_neg) with U = Σ_pos midrank − n_pos(n_pos+1)/2 and
    midrank = avg rank within a score-tie group. Midranks are
    half-integers, so the emitted statistic is 2U — an exact integer —
    alongside n_pos and n_neg (the zero-float protocol: the caller divides
    2U / (2·n_pos·n_neg); the hash compares only integers).

    Physical shape (the bucket-sized-series doctrine, not a global rank
    window — rank() over a full ORDER BY plans as a single-partition
    window over EVERY row): one hash shuffle groups rows by score value,
    and only the per-score aggregate (distinct scores — histogram-sized)
    flows through the ordered cumulative pass and final fold. For a tie
    group of size c starting after cum_before rows, each member's
    2·midrank is 2·cum_before + c + 1, so the positive contribution is
    pos_c·(2·cum_before + c + 1) — computed from counts alone.
    """
    per_score = df.groupBy(F.col(score_col).alias("s")).agg(
        F.count(F.lit(1)).alias("c"),
        F.sum((F.col(label_col) == F.lit(positive)).cast("long")).alias("pos_c"),
    )
    wcum = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    cum = per_score.select(
        "c",
        "pos_c",
        F.coalesce(F.sum("c").over(wcum), F.lit(0)).alias("cum_before"),
    )
    agg = cum.agg(
        F.sum(
            F.col("pos_c") * (2 * F.col("cum_before") + F.col("c") + 1)
        ).alias("spos"),
        F.sum("pos_c").alias("n_pos"),
        F.sum(F.col("c") - F.col("pos_c")).alias("n_neg"),
    )
    return agg.select(
        (F.col("spos") - F.col("n_pos") * (F.col("n_pos") + 1)).alias("auc_num_2u"),
        "n_pos",
        "n_neg",
    )


def gram_matrix(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Distributed Gram matrix G = Σ_rows v·vᵀ over a vector column — the
    data-sized half of PCA/covariance (the reference's ML chapter stops at
    K-Means/SVM; this is the decomposition primitive a training-data
    pipeline needs for embedding whitening and spectral diagnostics).

    Shape: ONE Arrow mapInPandas stage computes a per-partition d×d
    partial (`Vᵀ·V`, a NumPy matmul — the same vectorized-stage doctrine
    as the LSH signatures), emitting only the d(d+1)/2 upper-triangle
    cells per partition; a hash aggregation folds partials map-side, so
    the exchange carries O(partitions · d²) scalars and the result is
    d²-sized regardless of corpus rows. No driver collect here — callers
    that need the matrix locally (64×64 = codebook-sized) collect the
    RESULT, which is constant-size.

    Output: (i int, j int, g double) for 0-based i ≤ j.
    """
    src = df.select(F.col(vec_col).alias("__v"))
    spark = df.sparkSession
    # fan-out byte-gated from plan statistics (see similarity.arrow_signature)
    if _S._plan_size_bytes(src) > _S._FANOUT_MIN_BYTES:
        dp = spark.sparkContext.defaultParallelism
        if _S._est_scan_partitions(src) < dp:
            src = src.repartition(dp)

    def partial(batches):
        import numpy as np
        import pandas as pd

        G = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.vstack(pdf["__v"].to_numpy()).astype("float64")
            g = V.T @ V
            G = g if G is None else G + g
        if G is None:
            return
        iu = np.triu_indices(G.shape[0])
        yield pd.DataFrame(
            {"i": iu[0].astype("int32"), "j": iu[1].astype("int32"), "g": G[iu]}
        )

    return (
        src.mapInPandas(partial, schema="i int, j int, g double")
        .groupBy("i", "j")
        .agg(F.sum("g").alias("g"))
    )


def top_principal_component(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    iters: int = 12,
    gram_decimals: int = 6,
) -> DataFrame:
    """First principal direction by power iteration on the Gram matrix,
    returning each row's UNROUNDED projection onto it (callers round).

    The heavy work is data-sized and distributed: one `gram_matrix` pass
    (the only corpus-sized stage) plus one vectorized projection pass.
    The iteration itself runs driver-side on the collected d×d matrix —
    constant-sized work, the same codebook-collect policy as PQ/IVF
    training — starting from the all-ones vector and normalizing each
    step, so the sign and value of the result are a deterministic
    function of the (rounded) Gram matrix with no eigensolver involved.

    Oracle protocol: the Gram matrix is rounded to ``gram_decimals``
    BEFORE iterating, making the recurrence input bit-identical across
    engines (margins from the round-half boundary are fixture-verified);
    the unrolled matvec/normalize recurrence is then replayable as
    DuckDB CTEs (the kmeans/pagerank unroll trick), and power iteration
    is contractive toward the dominant eigenvector, so per-step
    summation-order noise (~1e-15) does not accumulate.
    """
    import numpy as np

    spark = df.sparkSession
    rows = gram_matrix(df, vec_col).collect()  # d²-sized: constant, not data
    d = max(r["j"] for r in rows) + 1
    G = np.zeros((d, d))
    # Round HALF-AWAY-FROM-ZERO on the exact binary value, matching
    # DuckDB's round() (what the oracle computes). NOT the same as
    # Spark's F.round, which rounds the shortest-decimal repr via
    # BigDecimal.valueOf (2.675 -> 2.68 there, 2.67 here) — don't route
    # gram values through F.round expecting parity with this. Python's
    # built-in round() is half-to-even and would diverge from the oracle
    # on a Gram entry sitting exactly on the gram_decimals .5 boundary.
    from decimal import ROUND_HALF_UP, Decimal

    quant = Decimal(1).scaleb(-gram_decimals)
    for r in rows:
        G[r["i"], r["j"]] = G[r["j"], r["i"]] = float(
            Decimal(r["g"]).quantize(quant, rounding=ROUND_HALF_UP)
        )
    v = np.ones(d)
    for _ in range(iters):
        w = G @ v
        v = w / float(np.sqrt(np.dot(w, w)))

    v_bc = spark.sparkContext.broadcast(v)
    src = df.select(F.col(id_col).alias(id_col), F.col(vec_col).alias("__v"))
    # fan-out byte-gated from plan statistics (see similarity.arrow_signature)
    if _S._plan_size_bytes(src) > _S._FANOUT_MIN_BYTES:
        dp = spark.sparkContext.defaultParallelism
        if _S._est_scan_partitions(src) < dp:
            src = src.repartition(dp)
    id_type = dict(df.dtypes)[id_col]

    def project(batches):
        import numpy as np
        import pandas as pd

        v_ = v_bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.vstack(pdf["__v"].to_numpy()).astype("float64")
            yield pd.DataFrame({id_col: pdf[id_col].to_numpy(), "pc1": V @ v_})

    return src.mapInPandas(project, schema=f"{id_col} {id_type}, pc1 double")
