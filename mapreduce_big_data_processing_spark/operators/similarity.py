"""Embedding similarity search (driver extension; BASELINE.json north star).

The reference's closest surface is the kNN classifier's broadcast
nested-loop cosine scoring (`…/final_kNN_src/phase2/KNNMapper.java:120-160`);
these operators generalize it to ANN over an `array<float>` column.

Paths:
  - brute-force top-k: broadcast the (small) query set against the corpus —
    the exact baseline; scales in corpus size, not query-set size;
  - LSH-bucketed (random hyperplane): equi-join on signature buckets, then
    exact re-rank inside buckets — the 100 TB path (probes > 1 bucket via
    multiple tables);
  - IVF (centroid-bucketed): kmeans centroids → probe nearest centroids —
    built on operators.ml.kmeans (round 2).

Dot products run JVM-side via `F.zip_with`/`F.aggregate` (no Python UDF in
the hot path).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window


#: inputs the optimizer bounds under this many bytes skip the single-split
#: fan-out repartition (an exchange + dp-1 near-empty Python tasks buys
#: nothing there). NOTE the statistic is ON-DISK file bytes for a parquet
#: scan — compressed, and the downstream work per row (bucket-join
#: candidate scoring) can be super-linear — so the bound is deliberately
#: ONE MiB, not "what one core can matmul": a 2.5 MB / 20 k-row corpus
#: left unfanned serialized the whole 10× knn scoring stage through one
#: task (measured 5.3 s → 19.9 s — the r3 single-split trap, re-learned).
_FANOUT_MIN_BYTES = 1024 * 1024


def _plan_size_bytes(df: DataFrame) -> int:
    """Optimizer size estimate for ``df`` (bytes) — plan statistics only,
    no job, no RDD conversion. Returns a huge sentinel when statistics are
    unavailable so callers keep their scale-safe default."""
    try:
        return int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return 1 << 62


#: the split packing size Spark's file scans use; this engine never
#: overrides spark.sql.files.maxPartitionBytes, so the default is exact
_SPLIT_BYTES = 128 * 1024 * 1024


def _est_scan_partitions(df: DataFrame) -> int:
    """Estimated task count for ``df`` from optimizer byte statistics —
    no job and no RDD conversion (``df.rdd.getNumPartitions()`` pays a
    ~50-100 ms driver-side plan→RDD conversion per call, the r10 verdict's
    item 5). Mirrors the scan's file-split packing: ceil(bytes /
    maxPartitionBytes). Two deliberate biases, both toward the safe side
    of the r3 single-split trap: statistics unavailable → 1 (assume one
    split, keep the fan-out), and post-exchange lineages whose byte
    estimate is small report few partitions even if the physical shuffle
    had more — the extra repartition of a provably-small table costs an
    in-process exchange, while skipping a needed fan-out serializes a
    whole Arrow compute stage through one task."""
    size = _plan_size_bytes(df)
    if size >= 1 << 62:
        return 1
    return max(1, -(-size // _SPLIT_BYTES))


def _dot(a: Column, b: Column) -> Column:
    """Σ a[i]*b[i] in declared array order (deterministic fold, codegen'd)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v)
    )


def cosine(a: Column, b: Column) -> Column:
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    return _dot(ad, bd) / (_norm(ad) * _norm(bd))


def _batch_scored_candidates(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    exclude_self: bool = True,
    max_broadcast_queries: int | None = None,
    q_rows: list | None = None,
    max_cosine: float | None = None,
) -> DataFrame:
    """Per-partition-batch top-k candidates per query, scored with a NumPy
    matmul over Arrow batches (mapInPandas). The query matrix is closure-
    broadcast (small side); the corpus streams — no shuffle, no per-element
    lambda evaluation (the expression-tree cosine is ~50× slower per pair).
    Global top-k over the union of batch-local top-k is exact.

    The query side is COLLECTED: this is the documented small-side
    contract. ``max_broadcast_queries`` bounds it (raise instead of
    collecting an unexpectedly large table — route those through
    :func:`lsh_topk` / :func:`ivf_topk`, whose query side stays a table);
    ``q_rows`` lets a caller that already did the bounded collect pass the
    rows in.
    """
    if q_rows is None:
        sel = queries.select(query_id_col, vec_col)
        if max_broadcast_queries is None:
            q_rows = sel.collect()  # small side
        else:
            q_rows = sel.limit(max_broadcast_queries + 1).collect()
    if max_broadcast_queries is not None and len(q_rows) > max_broadcast_queries:
        raise ValueError(
            f"query side exceeds max_broadcast_queries={max_broadcast_queries}; "
            "use lsh_topk/ivf_topk (query side stays a table) for large query sets"
        )
    import numpy as np

    q_ids = [r[0] for r in q_rows]
    q_mat = np.array([r[1] for r in q_rows], dtype="float64")
    q_norm = np.linalg.norm(q_mat, axis=1)
    spark = corpus.sparkSession
    bc = spark.sparkContext.broadcast((q_ids, q_mat, q_norm))

    #: query-side tile width — bounds the per-batch score matrix at
    #: arrow_batch(10k) × 2048 × 8 B ≈ 160 MB regardless of query count
    #: (round-3 scale run found the untiled matrix goes multi-GB at 40k
    #: queries, and the per-query argsort loop serialized a 10-minute task)
    q_tile = 2048

    def score(batches, mc=max_cosine):
        import numpy as np
        import pandas as pd

        ids, qm, qn = bc.value
        ids_arr = np.asarray(ids)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            c = np.vstack(pdf[vec_col].to_numpy()).astype("float64")
            cn = np.linalg.norm(c, axis=1)
            cids = pdf[id_col].to_numpy()
            frames = []
            for j0 in range(0, len(ids_arr), q_tile):
                j1 = min(j0 + q_tile, len(ids_arr))
                sims = (c @ qm[j0:j1].T) / np.outer(cn, qn[j0:j1])
                if exclude_self:
                    sims[cids[:, None] == ids_arr[None, j0:j1]] = -np.inf
                if mc is not None:
                    # ceiling mask BEFORE batch-local top-k: a batch whose
                    # best scores are all above the ceiling must still
                    # surface its best qualifying candidates
                    sims[sims >= mc] = -np.inf
                kk = min(k, sims.shape[0])
                if kk < sims.shape[0]:
                    # per-column kth-largest boundary, then keep EVERYTHING
                    # >= it: boundary ties all survive to the global window,
                    # so the composite (cosine desc, id asc) order stays
                    # exact; only the window discards them
                    part = np.partition(-sims, kk - 1, axis=0)
                    boundary = -part[kk - 1]
                    # & isfinite: a -inf boundary (column with < k finite
                    # scores) must not resurrect masked self-matches
                    keep = (sims >= boundary[None, :]) & np.isfinite(sims)
                else:
                    keep = np.isfinite(sims)
                rows, cols = np.nonzero(keep)
                frames.append(
                    pd.DataFrame(
                        {
                            "qid": ids_arr[cols + j0],
                            "cid": cids[rows],
                            "cosine": sims[rows, cols],
                        }
                    )
                )
            yield pd.concat(frames) if frames else pd.DataFrame(
                {"qid": [], "cid": [], "cosine": []}
            )

    src = corpus.select(id_col, vec_col)
    # compute here is O(corpus × queries) while the corpus bytes may be one
    # input split (200k embeddings ≈ 51 MB < maxPartitionBytes): for large
    # query sets, fan the corpus out so the matmul parallelizes — the
    # round-3 100× run showed a single-split corpus pinning one core
    if len(q_ids) >= 1024:
        dp = spark.sparkContext.defaultParallelism
        if _est_scan_partitions(src) < dp:
            src = src.repartition(dp)
    id_type = dict(corpus.dtypes)[id_col]
    cand = src.mapInPandas(
        score, schema=f"qid {id_type}, cid {id_type}, cosine double"
    )
    return cand.select(
        F.col("qid").alias(query_id_col), F.col("cid").alias(id_col), "cosine"
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k: every query scored against every corpus vector.

    ``queries`` has (query_id, embedding); it broadcasts, the corpus — the
    100 TB side — streams through one NumPy-vectorized stage emitting
    batch-local top-k candidates; a window takes the global top-k (exact:
    the global winner is a batch winner). Output: (query_id, vec_id,
    cosine, rank).
    """
    scored = _batch_scored_candidates(
        corpus, queries, k, id_col, vec_col, query_id_col
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine"), F.asc(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def hard_negative_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    max_cosine: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Hard-negative mining for contrastive training: per query, the k
    MOST similar corpus vectors strictly BELOW the near-duplicate ceiling
    — similar enough to be informative negatives, not so similar they are
    positives in disguise (the standard ANN-mined-negatives construction,
    e.g. DPR, Karpukhin et al. EMNLP'20).

    Exactness under the ceiling is preserved by masking INSIDE the scoring
    kernel before batch-local top-k (a batch whose best matches are all
    near-dups still surfaces its best qualifying candidates); plan shape
    is identical to :func:`brute_force_topk` — queries broadcast, corpus
    streams, no shuffle before the per-query top-k window.
    """
    scored = _batch_scored_candidates(
        corpus, queries, k, id_col, vec_col, query_id_col,
        max_cosine=max_cosine,
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine"), F.asc(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def seeded_planes(n_planes: int, dim: int = 64, seed: int = 42) -> list[list[float]]:
    """Deterministic hyperplanes (seeded LCG, no numpy dependency at plan
    build): reproducible across sessions and clusters — the property that
    lets a recall<1 LSH path still hash-match a SQL oracle replaying the
    same buckets."""
    state = seed
    planes = []
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            row.append(((state >> 11) / float(1 << 53)) * 2.0 - 1.0)
        planes.append(row)
    return planes


def sized_plane_count(n_rows: int, target_bucket_rows: int = 1024) -> int:
    """Plane count for a corpus of ``n_rows``: the smallest p in [4, 24]
    with ``target_bucket_rows * 2**p >= n_rows`` — i.e.
    ceil(log2(n/target)) clamped, but computed in PURE INTEGER arithmetic
    so a SQL oracle can replay the rule exactly (float log2 is not
    guaranteed correctly rounded; an off-by-ulp at a power-of-two
    boundary would silently pick a different plane count in one engine
    and the bucketing would diverge wholesale)."""
    p = 4
    n = int(n_rows)
    while p < 24 and (int(target_bucket_rows) << p) < n:
        p += 1
    return p


def sized_plane_tables(
    n_rows: int,
    n_tables: int = 4,
    target_bucket_rows: int = 1024,
    dim: int = 64,
    seeds: tuple[int, ...] = (42, 43, 44, 45),
) -> list[list[list[float]]]:
    """Corpus-sized multi-table LSH config for `embedding_near_dup`:
    planes/table = ceil(log2(n_rows / target_bucket_rows)), clamped to
    [4, 24], so mean bucket size stays ~target as the corpus grows.

    Why planes must scale with the corpus: per-bucket verification is
    O(|bucket|²) pairs, and at FIXED planes |bucket| ∝ n — the one
    quadratic cliff in the dedup family. A cos ≥ 0.9 pair collides per
    plane with scale-INDEPENDENT probability (~0.956), so adding planes
    prunes only the low-cosine random tail while near-dup recall holds.
    Measured on the 1000× embeddings fixture (2 M × 64, threshold 0.45,
    4 tables): 8 planes = 186 s; 12 planes (this sizing picks 11 there —
    one step finer-grained than the measured point) = 40 s with
    3999/4000 of the cos ≥ 0.9 pairs retained at the 100× cross-check —
    and 12-plane marginal cost 100×→1000× is 6.2× for 10× data (the
    8-plane config's was 33×).

    Since r5 the sizing rule is integer-exact (`sized_plane_count`) and
    the SQL oracle replays it together with the seeded-LCG plane
    generator, so corpus-sized configs are themselves oracle-checkable
    (`semantic_contamination_sized`, `embedding_near_dup_sized`); the
    pinned 8-plane queries remain registered as the fixed-config
    tradeoff points.
    """
    planes = sized_plane_count(n_rows, target_bucket_rows)
    return [seeded_planes(planes, dim=dim, seed=s) for s in seeds[:n_tables]]


def _signature_expr(vec: Column, planes: list[list[float]]) -> Column:
    """Hyperplane-signature expression: bit i = sign(<v, plane_i>).

    Measured shapes for this expression (sf0.1, 32 planes/row): the
    sequential HOF fold below is the best EXPRESSION form — an unrolled
    element_at chain (6k nodes/row) falls out of whole-stage codegen and
    ran 6× slower. Callers that need signatures over big corpora use the
    Arrow path in embedding_near_dup (NumPy matmul), keeping this
    expression for oracle-exact small-table use."""
    sig = F.lit(0).cast("bigint")
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(float(x)) for x in p])
        bit = (_dot(F.transform(vec, lambda x: x.cast("double")), plane) > 0).cast("bigint")
        sig = sig + F.shiftleft(bit, i)
    return sig


def hyperplane_signature(
    df: DataFrame, planes: list[list[float]], vec_col: str = "embedding", out: str = "bucket"
) -> DataFrame:
    """Random-hyperplane LSH signature: bit i = sign(<v, plane_i>).

    ``planes`` are driver-provided constants (seeded NumPy normals embedded
    as literals), so signatures are deterministic and cluster-reproducible.
    """
    return df.withColumn(out, _signature_expr(F.col(vec_col), planes))


def _flip_sets(n_planes: int) -> list[tuple[tuple[int, ...], int]]:
    """Candidate signature-bit flip sets for multi-probe LSH, enumeration
    order = (no flip), then 1-bit, 2-bit, 3-bit combinations in
    lexicographic order (the cost-sort tiebreak, so probe order is
    deterministic)."""
    from itertools import combinations

    out: list[tuple[tuple[int, ...], int]] = [((), 0)]
    for r in range(1, min(n_planes, 3) + 1):
        for comb in combinations(range(n_planes), r):
            mask = 0
            for i in comb:
                mask |= 1 << i
            out.append((comb, mask))
    return out


def multiprobe_buckets(
    queries: DataFrame,
    planes: list[list[float]],
    n_probe: int,
    vec_col: str = "__qvec",
    out: str = "bucket",
) -> DataFrame:
    """Query-directed multi-probe bucket expansion (Lv et al., VLDB'07):
    each query probes its own bucket first, then the buckets reached by
    flipping its lowest-|margin| signature bits, in increasing
    sum-of-squared-margin cost. Flip sets are capped at 3 bits
    (cost-sorted, ample for practical n_probe); ``n_probe >= 2**L``
    degenerates to scanning every bucket, which makes the ANN exact.

    Runs as ONE Arrow-batched pandas stage over the query table — the
    plane matrix and flip-set enumeration are tiny broadcast state, so the
    query side never collects to the driver (it may itself be a table).
    Emits one row per (query row, probed bucket).
    """
    import numpy as np

    P = np.asarray(planes, dtype="float64")
    L = len(planes)
    fsets = _flip_sets(L)
    # (n_flipsets, L) 0/1 incidence: cost of a flip set = cost2 @ row
    inc = np.zeros((len(fsets), L))
    masks = np.array([m for _, m in fsets], dtype="int64")
    for j, (comb, _) in enumerate(fsets):
        for i in comb:
            inc[j, i] = 1.0
    spark = queries.sparkSession
    bc = spark.sparkContext.broadcast((P, inc, masks, L, n_probe))

    def probes(batches):
        import numpy as np
        import pandas as pd

        P_, inc_, masks_, L_, np_ = bc.value
        exhaustive = np_ >= (1 << L_)
        all_buckets = list(range(1 << L_)) if exhaustive else None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if exhaustive:
                pdf = pdf.copy()
                pdf[out] = [all_buckets] * len(pdf)
                yield pdf
                continue
            V = np.vstack(pdf[vec_col].to_numpy()).astype("float64")
            D = V @ P_.T  # (batch, L) margins
            base = ((D > 0).astype("int64") * (1 << np.arange(L_))).sum(axis=1)
            costs = (D * D) @ inc_.T  # (batch, n_flipsets)
            order = np.argsort(costs, axis=1, kind="stable")[:, :np_]
            pdf = pdf.copy()
            pdf[out] = [
                (b ^ masks_[order[r]]).tolist()
                for r, b in enumerate(base)
            ]
            yield pdf

    fields = ", ".join(f"`{c}` {t}" for c, t in queries.dtypes)
    expanded = queries.mapInPandas(
        probes, schema=f"{fields}, {out} array<bigint>"
    )
    return expanded.withColumn(out, F.explode(out))


def arrow_signature(
    df: DataFrame,
    planes: list[list[float]],
    vec_col: str,
    out: str = "bucket",
) -> DataFrame:
    """Hyperplane-LSH signature as ONE Arrow stage: a (batch, dim) ×
    (dim, L) NumPy matmul + sign-bit packing, keeping every input column.
    Same bucket math as :func:`hyperplane_signature` (bit i =
    sign(<v, plane_i>)) at ~10 ns/row of kernel time instead of the
    expression form's per-element lambda invocations (the
    interpreted-HOF pathology — measured ~0.3 ms/row at 4 planes × 64
    dims, which made the signature pass a dominant term of `lsh_topk`
    at fixture scale). The sign test
    compares a NumPy dot against the oracle's fold — summation orders
    differ only in the last ulp, the accepted hazard class documented in
    `embedding_near_dup`'s kernel (a flip needs |dot| ≲ 1e-15·‖v‖‖p‖).
    Includes the single-split fan-out guard (compute is O(n·L·dim) while
    the bytes may be one input split — the r3 scale lesson).

    Input contract (stricter than the expression form, r8 advice): every
    ``vec_col`` value must be non-null and the same dimension as the
    planes — ``np.vstack`` raises inside the Arrow kernel on a null or
    ragged vector, where :func:`hyperplane_signature` would have yielded
    a null bucket. Callers with dirty corpora must filter first. ``out``
    must not name an existing column (mapInPandas would emit a duplicate
    field rather than replace it, unlike ``withColumn``) — checked here.
    """
    import numpy as np

    if out in df.columns:
        raise ValueError(
            f"arrow_signature: output column {out!r} already exists; "
            "mapInPandas cannot replace a column in place — drop or "
            "rename it first"
        )
    P = np.asarray(planes, dtype="float64")
    spark = df.sparkSession
    # single-split fan-out guard, BYTE-GATED from plan statistics (no job,
    # no RDD conversion): the fan-out exists so the downstream bucket-join
    # + re-rank stages inherit real parallelism when the corpus bytes fit
    # one input split (the r3 lesson) — but for a table the optimizer
    # already bounds under a few MB, the repartition is an extra exchange
    # plus dp-1 near-empty Python tasks per stage. Stats only shrink with
    # CBO, so an over-estimate keeps the fan-out (the safe side).
    if _plan_size_bytes(df) > _FANOUT_MIN_BYTES:
        dp = spark.sparkContext.defaultParallelism
        if _est_scan_partitions(df) < dp:
            df = df.repartition(dp)
    bc = spark.sparkContext.broadcast(P)

    def sign(batches):
        import numpy as np

        P_ = bc.value
        w = 1 << np.arange(P_.shape[0], dtype="int64")
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.vstack(pdf[vec_col].to_numpy()).astype("float64")
            pdf = pdf.copy()
            pdf[out] = ((V @ P_.T) > 0).astype("int64") @ w
            yield pdf

    fields = ", ".join(f"`{c}` {t}" for c, t in df.dtypes)
    return df.mapInPandas(sign, schema=f"{fields}, {out} bigint")


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    planes: list[list[float]],
    k: int = 10,
    n_probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """ANN top-k: bucket by hyperplane signature, exact re-rank per bucket.

    ``n_probe`` > 1 enables query-directed multi-probe (flip the
    lowest-margin signature bits): recall grows with n_probe at the cost of
    probing more buckets, and n_probe ≥ 2**len(planes) is exact. The corpus
    keeps ONE signature per vector either way — multi-probe expands only the
    (small, broadcast) query side, so the 100 TB side is never replicated.
    The scale win is that the join is an equi-join on bucket instead of a
    crossJoin. Output schema matches brute_force_topk.

    Both signature passes and the per-candidate cosine run as Arrow/NumPy
    stages (r8): the expression-HOF forms cost a per-element interpreted
    lambda each — measured 2.26 s → 1.56 s on the sf0.1 routed-kNN
    headline (the remainder is local-mode stage floor, not compute) with
    identical output (the ulp-level summation-order hazard class is the
    same one `embedding_near_dup`'s kernel documents; cosines feed a
    rank whose spacing is ~1e-4, six orders above it).
    """
    cb = arrow_signature(corpus, planes, vec_col)
    if n_probe > 1:
        qb = multiprobe_buckets(
            queries.select(query_id_col, F.col(vec_col).alias("__qvec")),
            planes,
            n_probe,
        )
    else:
        qb = arrow_signature(
            queries.select(query_id_col, F.col(vec_col).alias("__qvec")),
            planes,
            "__qvec",
        )
    joined = (
        cb.join(F.broadcast(qb), "bucket")
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(query_id_col, id_col, "__qvec", vec_col)
    )
    qid_t = dict(qb.dtypes)[query_id_col]
    id_t = dict(corpus.dtypes)[id_col]

    def score(batches):
        import numpy as np

        for pdf in batches:
            if len(pdf) == 0:
                continue
            Q = np.vstack(pdf["__qvec"].to_numpy()).astype("float64")
            V = np.vstack(pdf[vec_col].to_numpy()).astype("float64")
            num = np.einsum("ij,ij->i", Q, V)
            den = np.sqrt(np.einsum("ij,ij->i", Q, Q)) * np.sqrt(
                np.einsum("ij,ij->i", V, V)
            )
            out = pdf[[query_id_col, id_col]].copy()
            out["cosine"] = num / den
            yield out

    scored = joined.mapInPandas(
        score,
        schema=f"`{query_id_col}` {qid_t}, `{id_col}` {id_t}, cosine double",
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def ivf_assign(
    corpus: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out: str = "bucket",
) -> DataFrame:
    """IVF bucketing: assign each vector to its nearest centroid (NumPy
    batch pass). ``centroids`` is a small driver-side list — from
    operators.ml.kmeans output or a deterministic sample."""
    import numpy as np

    c = np.array(centroids, dtype="float64")
    cn = np.linalg.norm(c, axis=1)
    spark = corpus.sparkSession
    bc = spark.sparkContext.broadcast((c, cn))

    def assign(batches):
        import numpy as np
        import pandas as pd

        cm, cnn = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.vstack(pdf[vec_col].to_numpy()).astype("float64")
            vn = np.linalg.norm(v, axis=1)
            sims = (v @ cm.T) / np.outer(vn, cnn)
            pdf = pdf.copy()
            pdf[out] = np.argmax(sims, axis=1).astype("int32")
            yield pdf

    fields = ", ".join(f"{c_} {t}" for c_, t in corpus.dtypes)
    return corpus.mapInPandas(assign, schema=f"{fields}, {out} int")


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF ANN top-k: score each query only against the ``n_probe`` nearest
    centroid buckets. Recall grows with n_probe (n_probe = n_centroids is
    exact). The corpus-side win at scale: the bucket column is a partition/
    cluster key, so probes prune partitions instead of scanning 100 TB.

    Probe generation runs as an Arrow-batched pandas stage over the query
    table (the centroid matrix is tiny broadcast state) — the query side is
    never collected to the driver, so it may itself be a table. Scoring is
    a bucket equi-join + the JVM-side expression cosine. Output schema
    matches brute_force_topk."""
    import numpy as np

    cb = ivf_assign(corpus, centroids, id_col, vec_col)
    c = np.array(centroids, dtype="float64")
    cn = np.linalg.norm(c, axis=1)
    spark = corpus.sparkSession
    bc = spark.sparkContext.broadcast((c, cn, n_probe))

    def probes(batches):
        import numpy as np

        cm, cnn, np_ = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.vstack(pdf["__qvec"].to_numpy()).astype("float64")
            vn = np.linalg.norm(V, axis=1)
            sims = (V @ cm.T) / np.outer(vn, cnn)
            order = np.argsort(-sims, axis=1, kind="stable")[:, :np_]
            pdf = pdf.copy()
            pdf["bucket"] = [row.astype("int32").tolist() for row in order]
            yield pdf

    q = queries.select(query_id_col, F.col(vec_col).alias("__qvec"))
    fields = ", ".join(f"`{c_}` {t}" for c_, t in q.dtypes)
    qb = q.mapInPandas(probes, schema=f"{fields}, bucket array<int>").withColumn(
        "bucket", F.explode("bucket")
    )
    scored = (
        cb.join(F.broadcast(qb), "bucket")
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            id_col,
            cosine(F.col("__qvec"), F.col(vec_col)).alias("cosine"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def incremental_embedding_near_dup(
    batch_sigs: DataFrame,
    index: DataFrame,
    threshold: float = 0.30,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Continuous-ingest EMBEDDING near-dedup — the cosine sibling of
    ``dedup.incremental_near_dup`` (same status protocol, embedding-LSH
    candidates instead of minhash bands): each new vector is classified
    against the PERSISTED bucket index of every previously accepted
    vector, then within its own batch.

    ``batch_sigs`` / ``index``: (id, vector, bucket) — bucket from
    :func:`arrow_signature` / :func:`hyperplane_signature` with the SAME
    planes on both sides. Statuses (history precedence, so retried
    ingests converge): ``near_dup_of_history`` (some history vector in
    the home bucket has cosine ≥ threshold; matched_id = the best one,
    ties to the smaller id), else ``near_dup_in_batch`` (a SMALLER-id
    batch sibling qualifies — later vectors dup against earlier, the
    batch-canonical rule), else ``kept``. Output: (id, status,
    matched_id, cosine) with matched_id = -1 and cosine = 0.0 for kept
    (NULL-free).

    Scale shape: the batch side broadcasts into the bucket equi-join
    against the 100 TB index (per-trigger cost = batch × bucket
    collisions, never corpus × corpus); the in-batch pass is a
    batch-sized self-join on bucket. Candidate ranking is raw cosine
    with id tiebreak (the ANN-family convention — random-embedding
    cosines are well separated where rounded grids collide); the
    DISPLAYED cosine rounds to 6 dp."""
    b = batch_sigs.select(
        F.col(id_col).alias("b_id"), F.col(vec_col).alias("b_v"), "bucket"
    )
    h = index.select(
        F.col(id_col).alias("h_id"), F.col(vec_col).alias("h_v"), "bucket"
    )
    hc = (
        h.join(F.broadcast(b), "bucket")
        .withColumn("c", cosine(F.col("b_v"), F.col("h_v")))
        .filter(F.col("c") >= threshold)
    )
    wh = Window.partitionBy("b_id").orderBy(F.desc("c"), F.asc("h_id"))
    hist_best = (
        hc.withColumn("rn", F.row_number().over(wh))
        .filter(F.col("rn") == 1)
        .select("b_id", F.col("h_id").alias("hist_id"), F.col("c").alias("hist_c"))
    )
    a = b.select(
        F.col("b_id").alias("a_id"), F.col("b_v").alias("a_v"), "bucket"
    )
    bc = (
        b.join(a, "bucket")
        .filter(F.col("a_id") < F.col("b_id"))
        .withColumn("c", cosine(F.col("a_v"), F.col("b_v")))
        .filter(F.col("c") >= threshold)
    )
    wb = Window.partitionBy("b_id").orderBy(F.desc("c"), F.asc("a_id"))
    batch_best = (
        bc.withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") == 1)
        .select("b_id", F.col("a_id").alias("small_id"), F.col("c").alias("batch_c"))
    )
    return (
        b.select("b_id")
        .join(F.broadcast(hist_best), "b_id", "left")
        .join(F.broadcast(batch_best), "b_id", "left")
        .select(
            F.col("b_id").alias(id_col),
            F.when(F.col("hist_id").isNotNull(), F.lit("near_dup_of_history"))
            .when(F.col("small_id").isNotNull(), F.lit("near_dup_in_batch"))
            .otherwise(F.lit("kept"))
            .alias("status"),
            F.coalesce("hist_id", "small_id", F.lit(-1))
            .cast("bigint")
            .alias("matched_id"),
            F.round(
                F.coalesce(
                    F.when(F.col("hist_id").isNotNull(), F.col("hist_c")),
                    F.col("batch_c"),
                    F.lit(0.0),
                ),
                6,
            ).alias("cosine"),
        )
    )


def rrf_fuse(
    legs: dict[str, DataFrame],
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. SIGIR'09) of bounded
    rankings — the standard hybrid-retrieval combiner (lexical BM25 leg +
    semantic ANN leg, or any number of retrievers):

        rrf(d) = Σ_legs 1 / (k + rank_leg(d))    over legs that ranked d

    ``legs``: name -> DataFrame of (id_col, rank_col) TOP-K rows (a full
    corpus ranking would defeat the point and make the final global sort
    corpus-sized; every leg must already be truncated — the fused input is
    at most Σ k_i rows, so the unpartitioned rank window below is a
    few-row sort, not a single-partition data funnel). Output: id,
    ``{name}_rank`` per leg (0 = not retrieved by that leg — the NULL-free
    sentinel), ``rrf`` (9 dp), ``hybrid_rank``.

    Determinism: ranks are integers, each term 1/(k + r) is one exact
    double division, and the terms add in ``legs`` iteration order — both
    engines of a differential test compute bit-identical scores, so
    ranking on the raw score (doc-id tiebreak) is cross-engine stable
    (no summation-noise lottery: the sum has one fixed order, not a
    parallel reduction).

    Leg ranks MUST be 1-based: 0 is the 'not retrieved' sentinel, so a
    leg supplying 0-based ranks would silently drop its top document
    from the fusion score. Enforced per-row inside the plan (a lazy
    CASE branch raises on the first rank < 1 — no extra driver-side
    action per leg)."""
    names = list(legs)
    if not names:
        raise ValueError("rrf_fuse: at least one leg required")
    fused = None
    for name in names:
        df = legs[name].select(
            F.col(id_col),
            F.when(F.col(rank_col) >= 1, F.col(rank_col))
            .otherwise(
                F.raise_error(
                    F.lit(
                        f"rrf_fuse: leg '{name}' supplied a rank < 1 — "
                        "ranks must be 1-based (0 is the missing-leg "
                        "sentinel)"
                    )
                )
            )
            .alias(f"__{name}_rank"),
        )
        fused = df if fused is None else fused.join(df, id_col, "full_outer")
    fused = fused.select(
        id_col,
        *[
            F.coalesce(F.col(f"__{n}_rank"), F.lit(0))
            .cast("int")
            .alias(f"{n}_rank")
            for n in names
        ],
    )
    score = None
    for name in names:
        r = F.col(f"{name}_rank")
        term = F.when(
            r > 0, F.lit(1.0) / (F.lit(float(k)) + r)
        ).otherwise(F.lit(0.0))
        score = term if score is None else score + term
    w = Window.orderBy(F.desc("__score"), F.asc(id_col))
    return (
        fused.withColumn("__score", score)
        .withColumn("hybrid_rank", F.row_number().over(w))
        .withColumn("rrf", F.round("__score", 9))
        .drop("__score")
    )


def ranking_metrics(
    ranked: DataFrame,
    rel: DataFrame,
    k: int = 10,
    query_col: str = "query_id",
    id_col: str = "doc_id",
    rank_col: str = "rank",
    rel_col: str = "rel",
) -> DataFrame:
    """Graded ranking-quality metrics per query — the eval a pipeline
    runs BEFORE trusting a retriever (the graded companion to the
    set-overlap `ann_recall_eval`): hits@k, first-relevant rank (the
    integer MRR sufficient statistic; 0 = none retrieved), DCG@k, the
    IDEAL DCG@k, and nDCG@k (Järvelin & Kekäläinen, TOIS'02).

    ``ranked``: (query_col, id_col, rank_col) candidate lists, 1-based
    ranks. ``rel``: (query_col, id_col, rel_col) graded relevance over
    the FULL eligible corpus per query (rows with grade 0 may be
    omitted) — IDCG is derived from this table's per-grade COUNTS, so it
    normalizes against the best ranking attainable anywhere in the
    corpus, not just among retrieved candidates.

    Distributed shape: the DCG side joins only the ≤ queries×k retained
    candidate rows against ``rel`` by key; the IDCG side reduces ``rel``
    to per-(query, grade) counts (one partial-aggregated shuffle of
    grade-cardinality×queries rows) and expands them over a broadcast
    1..k rank series by cumulative-interval join — no per-query sort of
    the corpus, no collect. Float protocol: DCG and IDCG are each a ≤k-
    term sum of grade/log2(rank+1) rounded at 6 dp (margins pinned in
    tests), and nDCG is ONE division of those two already-rounded
    doubles — bit-identical across engines — rounded again at 6 dp.
    Output: (query_col, n_retrieved, rel_hits, first_rel_rank, dcg,
    idcg, ndcg), all NULL-free."""
    if rel_col in ranked.columns:
        # the left join below would make F.col(rel_col) ambiguous and
        # silently grade against the wrong column (the arrow_signature /
        # language_id_ngram output-collision rule)
        raise ValueError(
            f"ranking_metrics: ranked input already carries {rel_col!r}"
        )
    # and symmetrically: a rel table carrying extra columns (e.g. its own
    # 'rank') would duplicate names through the join — keep only the
    # three the metrics read
    rel = rel.select(query_col, id_col, rel_col)
    spark = ranked.sparkSession
    # cache the <= queries*k candidate list: it feeds BOTH the broadcast
    # semi-filter below and the DCG join's stream side, and without the
    # cache the (possibly corpus-sized) ranked lineage executes twice —
    # the shared-upstream double-compute trap
    top = ranked.filter(F.col(rank_col) <= k).cache()
    # grade lookup for the retained candidates WITHOUT shuffling the
    # corpus-sized rel table: stream rel past the broadcast candidate
    # list (map-side semi join), then broadcast the <= queries*k
    # survivors into the left join — no exchange carries rel rows
    rel_top = rel.join(
        F.broadcast(top.select(query_col, id_col)),
        [query_col, id_col],
        "left_semi",
    )
    j = top.join(F.broadcast(rel_top), [query_col, id_col], "left").withColumn(
        "__rel", F.coalesce(F.col(rel_col), F.lit(0))
    )
    disc = F.log2(F.col(rank_col) + F.lit(1))
    per = j.groupBy(query_col).agg(
        F.count(F.lit(1)).cast("int").alias("n_retrieved"),
        F.sum(F.when(F.col("__rel") > 0, 1).otherwise(0))
        .cast("int")
        .alias("rel_hits"),
        F.coalesce(
            F.min(F.when(F.col("__rel") > 0, F.col(rank_col))), F.lit(0)
        )
        .cast("int")
        .alias("first_rel_rank"),
        F.round(F.sum(F.col("__rel") / disc), 6).alias("dcg"),
    )
    grades = (
        rel.filter(F.col(rel_col) > 0)
        .groupBy(query_col, rel_col)
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )
    wg = (
        Window.partitionBy(query_col)
        .orderBy(F.desc(rel_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    grades = grades.withColumn("__cum_end", F.sum("__cnt").over(wg)).withColumn(
        "__cum_start", F.col("__cum_end") - F.col("__cnt")
    )
    ranks = spark.range(1, k + 1).select(F.col("id").cast("int").alias("__r"))
    ideal = (
        grades.join(
            F.broadcast(ranks),
            (F.col("__r") > F.col("__cum_start"))
            & (F.col("__r") <= F.col("__cum_end")),
        )
        .groupBy(query_col)
        .agg(
            F.round(
                F.sum(F.col(rel_col) / F.log2(F.col("__r") + F.lit(1))), 6
            ).alias("idcg")
        )
    )
    return (
        per.join(F.broadcast(ideal), query_col, "left")
        .withColumn("idcg", F.coalesce(F.col("idcg"), F.lit(0.0)))
        .withColumn(
            "ndcg",
            F.when(
                F.col("idcg") > 0, F.round(F.col("dcg") / F.col("idcg"), 6)
            ).otherwise(F.lit(0.0)),
        )
    )


def embedding_near_dup(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: list[list[float]] | None = None,
    plane_tables: list[list[list[float]]] | None = None,
    block_rows: int = 4096,
    max_exact_rows: int = 100_000,
    max_bucket_rows: int = 8192,
    n_probe: int = 1,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine ≥ t).

    With ``planes``, pairs generate within LSH buckets via expression-level
    joins (the 100 TB path — no broadcast of the corpus). With
    ``plane_tables`` (T independent plane sets), OR-amplified multi-table
    LSH: a pair is a candidate if it collides in ANY table — recall grows
    with T while each table's bucket join stays an equi-join; implemented
    as ONE shuffle on (table_id, bucket) via posexplode of the per-table
    signature array, not T separate joins. Without either, exact all-pairs:
    the corpus streams against a broadcast copy of itself through a NumPy
    matmul stage (bounded-corpus path; the 12.5 M-pair expression-tree
    cosine this replaced was ~100× slower).

    ``n_probe`` (plane_tables path only) adds query-directed multi-probe
    (Lv et al., VLDB'07) to the SELF-join: each vector additionally lands
    in the ``n_probe - 1`` buckets reached by flipping its lowest-margin
    signature bits (cost-sorted ≤3-bit flip sets, same enumeration as
    `multiprobe_buckets`), tagged as PROBE rows; a pair is a candidate
    when at least one side is a HOME row (probe×probe pairs are skipped —
    they are Hamming-2 noise and double-count). This recovers
    borderline-cosine recall that plane-count scaling prunes, at a
    shuffle-volume cost of ~n_probe× per table — the knob pairs with
    `sized_plane_tables`: planes track corpus growth (bucket sizes stay
    put), probes buy recall back where the threshold demands it.
    """
    if plane_tables is not None:
        # ONE shuffle on (table_id, bucket): each row lands in T buckets
        # (its per-table signatures), and verification runs PER BUCKET as a
        # vectorized NumPy block matmul over each partition's bucket-sorted
        # batches — vectors move once per (table, bucket) copy (T× the
        # corpus, bounded), pair enumeration + exact cosine + threshold all
        # happen inside the kernel, and only SURVIVING pairs leave the
        # executor. The naive alternative (equi-join expanding to candidate
        # pairs, then an expression-tree cosine per pair) shuffles the
        # ~100×-amplified candidate set and pays an interpreted fold per
        # pair — measured 6× slower at sf0.1 and quadratically worse with
        # corpus growth.
        # The kernel's quadratic term — the similarity matrix — is TILED:
        # block pairs of ≤``block_rows`` rows bound it (128 MB at the 4096
        # default) regardless of bucket size, so a degenerate bucket (every
        # doc identical) degrades to more tiles, not an OOM. The LINEAR
        # term (a bucket's raw vectors held at once for its verify call)
        # is bounded by ``max_bucket_rows``: buckets above it are salted
        # into ceil(n/max_bucket_rows) sub-buckets by id hash and verified
        # as within-sub plus cross-sub-pair groups — every pair lands in
        # exactly one (min(sub_a,sub_b), max(sub_a,sub_b)) group, so the
        # output is identical while no verify call ever receives more
        # than ~2·max_bucket_rows vectors (AQE cannot split inside a
        # group; this does it structurally). Oversized buckets are
        # found by a cheap counting pre-pass (signature projection only,
        # no vectors shuffled) whose >cap survivors broadcast back.
        import numpy as np

        spark = corpus.sparkSession
        # Signatures run as ONE Arrow stage (a (n, dim) × (dim, planes)
        # NumPy matmul + sign-bit packing per table): the expression-HOF
        # form costs ~0.15 ms/row/table-set at 8 planes (measured at the
        # 10× fixtures — per-element lambda invocation), which the 8-plane
        # promotion doubled into the dominant term; vectorized it is
        # ~10 ns/row. The sign test compares a NumPy dot against the
        # oracle's sequential fold — summation orders differ only in the
        # last ulp, and a sign flip needs |dot| ≲ 1e-15·‖v‖‖p‖, which the
        # parity sweeps across every fixture have never produced.
        pmats = [np.array(t, dtype="float64") for t in plane_tables]
        # per-table flip-set incidence/masks for multi-probe (tiny driver
        # state; enumeration order matches _flip_sets so the cost-tie
        # break is the oracle's ORDER BY cost, fs_id)
        probe_state = []
        for Pt in pmats:
            fsets = _flip_sets(Pt.shape[0])
            inc = np.zeros((len(fsets), Pt.shape[0]))
            masks = np.array([m for _, m in fsets], dtype="int64")
            for j, (comb, _) in enumerate(fsets):
                for i in comb:
                    inc[j, i] = 1.0
            probe_state.append((inc, masks))
        n_probe = max(1, int(n_probe))
        bc_planes = spark.sparkContext.broadcast((pmats, probe_state, n_probe))
        src = corpus.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
        # Bounded smallness probe for the skew pre-pass below: every row
        # lands in exactly n_probe buckets per table, so with n corpus rows
        # no bucket can hold more than n·n_probe rows — if a limit-bounded
        # count proves n ≤ max_bucket_rows/n_probe, the counting pre-pass
        # (a full extra Arrow signature pass over the corpus) is provably
        # redundant and is skipped. The probe reads ≤ cap/n_probe + 1 rows
        # off the UN-fanned-out scan (a limit over the repartitioned src
        # would materialize the whole exchange first), so its cost is
        # O(cap) at every corpus size — guide §1.2: remove passes before
        # tuning them. The ids come back as one Arrow table: a top-level
        # limit runs as one job at any partition count and compiles the
        # same code on every call, where limit().count() compiles a new
        # counter class per call and take() scales up over several jobs.
        probe_cap = int(max_bucket_rows) // n_probe
        small_corpus = (
            probe_cap > 0
            and src.select("__id").limit(probe_cap + 1).toArrow().num_rows
            <= probe_cap
        )
        # compute is O(n·planes·dim) while the corpus bytes may be ONE
        # input split (the r3 single-split lesson) — fan out first. A
        # probe-bounded small corpus skips the fan-out: ≤ cap rows is one
        # Arrow batch of matmul, and spreading it over defaultParallelism
        # pays an exchange plus dp-1 near-empty Python tasks per stage.
        if not small_corpus:
            dp = spark.sparkContext.defaultParallelism
            if _est_scan_partitions(src) < dp:
                src = src.repartition(dp)

        def assign(with_vec):
            def gen(batches):
                import numpy as np
                import pandas as pd

                P, pstate, np_probe = bc_planes.value
                for pdf in batches:
                    if len(pdf) == 0:
                        continue
                    V = np.vstack(pdf["__v"].to_numpy()).astype("float64")
                    ids = pdf["__id"].to_numpy()
                    frames = []
                    for t, Pt in enumerate(P):
                        D = V @ Pt.T  # (batch, L) margins
                        w = 1 << np.arange(Pt.shape[0], dtype="int64")
                        b = (D > 0).astype("int64") @ w
                        d = {
                            "__id": ids,
                            "table_id": np.int32(t),
                            "bucket": b,
                            "__role": np.int32(0),
                        }
                        if with_vec:
                            d["__v"] = pdf["__v"].to_numpy()
                        frames.append(pd.DataFrame(d))
                        if np_probe > 1:
                            inc, masks = pstate[t]
                            k = min(np_probe, len(masks))
                            costs = (D * D) @ inc.T
                            order = np.argsort(costs, axis=1, kind="stable")[:, :k]
                            # rank 0 is the zero-cost no-flip set (= home,
                            # already emitted); ranks 1..k-1 are probes
                            pb = b[:, None] ^ masks[order[:, 1:]]
                            npr = pb.shape[1]
                            dprobe = {
                                "__id": np.repeat(ids, npr),
                                "table_id": np.int32(t),
                                "bucket": pb.reshape(-1),
                                "__role": np.int32(1),
                            }
                            if with_vec:
                                dprobe["__v"] = np.repeat(
                                    pdf["__v"].to_numpy(), npr
                                )
                            frames.append(pd.DataFrame(dprobe))
                    yield pd.concat(frames, ignore_index=True)

            return gen

        id_type = dict(corpus.dtypes)[id_col]
        vec_type = dict(corpus.dtypes)[vec_col]
        bucketed = src.mapInPandas(
            assign(True),
            schema=(
                f"__id {id_type}, table_id int, bucket bigint, __role int,"
                f" __v {vec_type}"
            ),
        )
        thr = float(threshold)
        blk = int(block_rows)
        cap = int(max_bucket_rows)

        # The counting pre-pass output is model-sized (over-cap buckets
        # only), so checking it is one tiny action. No oversized bucket —
        # the overwhelmingly common case — takes the direct per-bucket
        # grouping with no salting columns, no broadcast join, and no
        # group-key explosion (measured ~2x on the sf0.1 bench, where the
        # salted plan's extra stages dominate the small corpus). A corpus
        # the smallness probe above already bounded under cap/n_probe rows
        # skips even the pre-pass: its signature stage would re-run the
        # whole Arrow assign pass only to prove what the row bound proves.
        skewed = False
        if not small_corpus:
            over = (
                src.mapInPandas(
                    assign(False),
                    schema=(
                        f"__id {id_type}, table_id int, bucket bigint,"
                        " __role int"
                    ),
                )
                .groupBy("table_id", "bucket")
                .agg(F.count(F.lit(1)).alias("__cnt"))
                .filter(F.col("__cnt") > cap)
                .select(
                    "table_id",
                    "bucket",
                    F.ceil(F.col("__cnt") / cap).cast("int").alias("__ns"),
                )
            )
            skewed = not over.isEmpty()
        if skewed:
            tagged = (
                bucketed.join(F.broadcast(over), ["table_id", "bucket"], "left")
                .withColumn("__ns", F.coalesce("__ns", F.lit(1)))
                .withColumn(
                    "__sub",
                    F.pmod(F.xxhash64("__id"), F.col("__ns")).cast("int"),
                )
            )
            groups = F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.col("__ns") - 1),
                    lambda o: F.struct(
                        F.least(F.col("__sub"), o).alias("ga"),
                        F.greatest(F.col("__sub"), o).alias("gb"),
                    ),
                )
            )
            expanded = tagged.select(
                "table_id", "bucket", "__id", "__role", "__v", "__sub",
                groups.alias("g"),
            ).select(
                "table_id", "bucket", "__id", "__role", "__v", "__sub",
                "g.ga", "g.gb",
            )
        else:
            expanded = bucketed.withColumns(
                {"__sub": F.lit(0), "ga": F.lit(0), "gb": F.lit(0)}
            )

        def _tile_pairs(ids_a, Va, na, ids_b, Vb, nb, triangular):
            import numpy as np
            import pandas as pd

            outs = []
            for i0 in range(0, len(ids_a), blk):
                A = Va[i0 : i0 + blk]
                j_start = i0 if triangular else 0
                for j0 in range(j_start, len(ids_b), blk):
                    # dot/(na*nb), NOT (a/|a|)·(b/|b|): matches the oracle's
                    # expression order bit-for-bit so threshold comparisons
                    # agree at float-ulp boundaries.
                    G = (A @ Vb[j0 : j0 + blk].T) / np.outer(
                        na[i0 : i0 + blk], nb[j0 : j0 + blk]
                    )
                    if triangular and j0 == i0:  # diagonal: upper triangle
                        ia, ib = np.triu_indices(len(A), 1)
                    else:
                        ia, ib = np.indices(G.shape).reshape(2, -1)
                    keep = G[ia, ib] >= thr
                    ia, ib = ia[keep], ib[keep]
                    if len(ia) == 0:
                        continue
                    a, b = ids_a[i0 + ia], ids_b[j0 + ib]
                    lo, hi = np.minimum(a, b), np.maximum(a, b)
                    outs.append(
                        pd.DataFrame({"id_a": lo, "id_b": hi, "cosine": G[ia, ib]})
                    )
            return outs

        def verify(pdf):
            import numpy as np
            import pandas as pd

            empty = pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
            if len(pdf) < 2:
                return empty

            def _mats(rows):
                ids = rows["__id"].to_numpy()
                V = np.vstack(rows["__v"].to_numpy()).astype("float64")
                n = np.maximum(np.linalg.norm(V, axis=1), 1e-12)
                return ids, V, n

            ga, gb = int(pdf["ga"].iloc[0]), int(pdf["gb"].iloc[0])
            outs = []
            if ga == gb:
                # within one sub-bucket: home×home triangular, plus
                # home×probe rectangle (probe×probe skipped — a pair of
                # probes is Hamming-2 noise; candidates need ≥1 home side)
                h = pdf[pdf["__role"] == 0]
                if len(h) == 0:
                    return empty
                ids, V, n = _mats(h)
                outs += _tile_pairs(ids, V, n, ids, V, n, triangular=True)
                p = pdf[pdf["__role"] == 1]
                if len(p) > 0:
                    ids_p, Vp, npn = _mats(p)
                    outs += _tile_pairs(ids, V, n, ids_p, Vp, npn, triangular=False)
            else:  # cross sub-buckets: home_a×all_b plus probe_a×home_b
                sa = pdf[pdf["__sub"] == ga]
                sb = pdf[pdf["__sub"] == gb]
                if len(sa) == 0 or len(sb) == 0:
                    return empty
                ha = sa[sa["__role"] == 0]
                if len(ha) > 0:
                    ids_a, Va, na = _mats(ha)
                    ids_b, Vb, nb = _mats(sb)
                    outs += _tile_pairs(ids_a, Va, na, ids_b, Vb, nb, triangular=False)
                pa = sa[sa["__role"] == 1]
                hb = sb[sb["__role"] == 0]
                if len(pa) > 0 and len(hb) > 0:
                    ids_a, Va, na = _mats(pa)
                    ids_b, Vb, nb = _mats(hb)
                    outs += _tile_pairs(ids_a, Va, na, ids_b, Vb, nb, triangular=False)
            if not outs:
                return empty
            return pd.concat(outs, ignore_index=True)

        keys = ["table_id", "bucket", "ga", "gb"]

        def verify_sorted(batches):
            # Each partition arrives sorted on ``keys`` in Arrow batches: a
            # group ends where a key changes, and the batch's trailing
            # group carries into the next batch, where it may go on. A
            # one-row group can pair with nothing, so only groups of two
            # or more rows reach ``verify``; a grouped applyInPandas would
            # build a pandas frame and make a call for every group.
            import numpy as np
            import pandas as pd

            carry = None
            for pdf in batches:
                if carry is not None:
                    pdf = pd.concat([carry, pdf], ignore_index=True)
                if len(pdf) == 0:
                    continue
                k = pdf[keys].to_numpy()
                starts = np.flatnonzero(np.any(k[1:] != k[:-1], axis=1)) + 1
                bounds = np.concatenate(([0], starts))
                outs = [
                    verify(pdf.iloc[a:b])
                    for a, b in zip(bounds[:-1], bounds[1:])
                    if b - a > 1
                ]
                outs = [o for o in outs if len(o)]
                if outs:
                    yield pd.concat(outs, ignore_index=True)
                carry = pdf.iloc[bounds[-1] :]
            if carry is not None and len(carry) > 1:
                out = verify(carry)
                if len(out):
                    yield out

        cand = (
            expanded.repartition(*keys)
            .sortWithinPartitions(*keys)
            .mapInPandas(
                verify_sorted,
                schema=f"id_a {id_type}, id_b {id_type}, cosine double",
            )
        )
        # a pair colliding in >1 table appears once per table with an
        # identical cosine — keep one copy
        return cand.dropDuplicates(["id_a", "id_b"]).select(
            F.col("id_a").alias("id_a"),
            F.col("id_b").alias("id_b"),
            "cosine",
        )
    if planes is not None:
        a = corpus.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
        b = corpus.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
        a = hyperplane_signature(a, planes, "__va")
        b = hyperplane_signature(b, planes, "__vb")
        pairs = a.join(b, "bucket").filter(F.col("id_a") < F.col("id_b"))
        return (
            pairs.withColumn("cosine", cosine(F.col("__va"), F.col("__vb")))
            .filter(F.col("cosine") >= threshold)
            .select("id_a", "id_b", "cosine")
        )

    # Exact all-pairs fallback: collects the corpus — bounded-size path ONLY.
    # Guarded so it cannot be reached by accident on a large table (the
    # registered default is the multi-table LSH path above).
    rows = corpus.select(id_col, vec_col).limit(max_exact_rows + 1).collect()
    if len(rows) > max_exact_rows:
        raise ValueError(
            f"embedding_near_dup exact path collects the corpus; got more than "
            f"max_exact_rows={max_exact_rows} rows. Pass plane_tables= (LSH, "
            f"the scale path) or raise max_exact_rows explicitly."
        )
    import numpy as np

    all_ids = np.array([r[0] for r in rows])
    mat = np.array([r[1] for r in rows], dtype="float64")
    norms = np.linalg.norm(mat, axis=1)
    spark = corpus.sparkSession
    bc = spark.sparkContext.broadcast((all_ids, mat, norms))

    def pairs_fn(batches):
        import numpy as np
        import pandas as pd

        ids, m, n = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            c = np.vstack(pdf[vec_col].to_numpy()).astype("float64")
            cn = np.linalg.norm(c, axis=1)
            sims = (c @ m.T) / np.outer(cn, n)
            cids = pdf[id_col].to_numpy()
            ra, rb, rc = [], [], []
            for i in range(len(cids)):
                mask = (ids > cids[i]) & (sims[i] >= threshold)
                hit = np.nonzero(mask)[0]
                ra.extend([cids[i]] * len(hit))
                rb.extend(ids[hit])
                rc.extend(sims[i][hit])
            yield pd.DataFrame({"id_a": ra, "id_b": rb, "cosine": rc})

    id_type = dict(corpus.dtypes)[id_col]
    return corpus.select(id_col, vec_col).mapInPandas(
        pairs_fn, schema=f"id_a {id_type}, id_b {id_type}, cosine double"
    )


def random_projection(
    corpus: DataFrame,
    planes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Johnson-Lindenstrauss random projection: reduce ``vec_col`` to
    ``len(planes)`` dimensions via a fixed (seeded) projection matrix,
    scaled by 1/sqrt(out_dim) so pairwise distances are preserved in
    expectation (Johnson & Lindenstrauss '84; Achlioptas JCSS'03 for
    database-friendly matrices) — the cheap dimensionality-reduction
    step ahead of clustering / ANN indexing when the native embedding
    width is too wide to shuffle.

    Output is LONG form ``(id, j int, proj double)`` — one row per
    (vector, output dimension) — so downstream SQL and the differential
    oracle handle scalars, never float arrays.

    Scale shape: ONE zero-shuffle Arrow stage — each batch computes a
    vectorized ``(batch, dim) @ (dim, out_dim)`` NumPy matmul against the
    broadcast plane matrix (the hyperplane-signature pattern of
    `embedding_near_dup`; per-element expression HOFs cost ~0.15 ms/row
    at this width, measured at the 10x fixtures). Nothing leaves the
    executor but the projected rows.
    """
    import math

    import numpy as np

    spark = corpus.sparkSession
    P = np.array(planes, dtype="float64")
    denom = math.sqrt(P.shape[0])
    bc = spark.sparkContext.broadcast((P, denom))
    src = corpus.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
    # compute is O(n·out_dim·dim) while the corpus bytes may be ONE input
    # split (the r3 single-split lesson) — fan out first (byte-gated from
    # plan statistics: tiny inputs skip the exchange, see arrow_signature)
    if _plan_size_bytes(src) > _FANOUT_MIN_BYTES:
        dp = spark.sparkContext.defaultParallelism
        if _est_scan_partitions(src) < dp:
            src = src.repartition(dp)
    id_type = dict(corpus.dtypes)[id_col]

    def gen(batches):
        import numpy as np
        import pandas as pd

        Pm, dn = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.vstack(pdf["__v"].to_numpy()).astype("float64")
            Y = (V @ Pm.T) / dn
            n, d = Y.shape
            yield pd.DataFrame(
                {
                    "__id": np.repeat(pdf["__id"].to_numpy(), d),
                    "j": np.tile(np.arange(d, dtype="int32"), n),
                    "proj": Y.reshape(-1),
                }
            )

    return src.mapInPandas(
        gen, schema=f"__id {id_type}, j int, proj double"
    ).withColumnRenamed("__id", id_col)
