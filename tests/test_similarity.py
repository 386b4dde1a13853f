"""Similarity-search behavior tests: LSH recall vs the exact baseline, and
bucket-join structure (the scale property: no crossJoin in the LSH plan)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from mapreduce_big_data_processing_spark import catalog
from mapreduce_big_data_processing_spark.operators import similarity as S
from mapreduce_big_data_processing_spark.queries import _seeded_planes


def _sets(df):
    out = {}
    for r in df.collect():
        out.setdefault(r.query_id, set()).add(r.vec_id)
    return out


def test_lsh_recall_vs_brute_force(spark, sf_dir):
    emb = catalog.load(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    brute = _sets(S.brute_force_topk(emb, q, k=10))
    lsh = _sets(S.lsh_topk(emb, q, _seeded_planes(), k=10))
    # every LSH hit must be a real corpus vector; candidates ⊆ same bucket
    hits = sum(len(lsh.get(k, set()) & v) for k, v in brute.items())
    total = sum(len(v) for v in brute.items() and brute.values())
    recall = hits / total
    # single-probe 3-plane LSH on random unit vectors: recall is modest by
    # design; the assertion pins it's materially better than empty
    assert recall >= 0.1, f"recall {recall}"
    # exactness inside buckets: every returned pair's cosine matches brute
    b = {
        (r.query_id, r.vec_id): round(r.cosine, 6)
        for r in S.brute_force_topk(emb, q, k=10).collect()
    }
    l = {
        (r.query_id, r.vec_id): round(r.cosine, 6)
        for r in S.lsh_topk(emb, q, _seeded_planes(), k=10).collect()
    }
    for k_, v in l.items():
        if k_ in b:
            assert v == b[k_]


def test_lsh_plan_has_no_cartesian(spark, sf_dir):
    """The 100 TB property: LSH joins on bucket (equi-join), never a
    cartesian/broadcast nested loop over the corpus."""
    emb = catalog.load(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    plan = S.lsh_topk(emb, q, _seeded_planes(), k=10)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    brute_plan = S.brute_force_topk(emb, q, k=10)._jdf.queryExecution().executedPlan().toString()
    # brute force streams the corpus through one Arrow-vectorized stage —
    # no join of the corpus against itself at all
    assert "MapInPandas" in brute_plan
    assert "CartesianProduct" not in brute_plan


def _centroids(spark, sf_dir, n=16):
    emb = catalog.load(spark, "embeddings", sf_dir)
    return [r.embedding for r in emb.orderBy("vec_id").limit(n).collect()]


def test_ivf_recall_and_exactness(spark, sf_dir):
    emb = catalog.load(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = _centroids(spark, sf_dir, 16)
    brute = _sets(S.brute_force_topk(emb, q, k=10))
    ivf = _sets(S.ivf_topk(emb, q, cents, k=10, n_probe=4))
    hits = sum(len(ivf.get(k_, set()) & v) for k_, v in brute.items())
    recall4 = hits / sum(len(v) for v in brute.values())
    assert recall4 >= 0.2, recall4
    # probing every bucket must be exact (ANN → exact continuum)
    full = _sets(S.ivf_topk(emb, q, cents, k=10, n_probe=16))
    assert full == brute
    # more probes ⇒ recall never decreases
    ivf8 = _sets(S.ivf_topk(emb, q, cents, k=10, n_probe=8))
    hits8 = sum(len(ivf8.get(k_, set()) & v) for k_, v in brute.items())
    assert hits8 >= hits


def test_ivf_assign_covers_corpus(spark, sf_dir):
    emb = catalog.load(spark, "embeddings", sf_dir)
    cents = _centroids(spark, sf_dir, 8)
    assigned = S.ivf_assign(emb, cents)
    assert assigned.count() == emb.count()
    assert assigned.filter((F.col("bucket") < 0) | (F.col("bucket") >= 8)).count() == 0


def test_multiprobe_recall_monotone_and_exact(spark, sf_dir):
    """Multi-probe LSH: recall never decreases with n_probe, and probing
    all 2^L buckets is exact (the ANN → exact continuum, like IVF)."""
    emb = catalog.load(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    planes = _seeded_planes()
    brute = _sets(S.brute_force_topk(emb, q, k=10))

    def recall(n_probe):
        got = _sets(S.lsh_topk(emb, q, planes, k=10, n_probe=n_probe))
        return sum(len(got.get(k_, set()) & v) for k_, v in brute.items())

    r1, r4 = recall(1), recall(4)
    assert r4 >= r1
    # 3 planes → 8 buckets; n_probe=8 scans them all → exact
    assert _sets(S.lsh_topk(emb, q, planes, k=10, n_probe=8)) == brute


def test_multiprobe_plan_has_no_cartesian(spark, sf_dir):
    """Multi-probe expands only the broadcast query side; the corpus join
    stays a bucket equi-join."""
    emb = catalog.load(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    plan = (
        S.lsh_topk(emb, q, _seeded_planes(), k=10, n_probe=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan


def test_near_dup_multitable_recall(spark, sf_dir):
    """OR-amplified multi-table near-dup: still a subset of the exact pair
    set, and T=4 tables find at least as many pairs as table 1 alone."""
    emb = catalog.load(spark, "embeddings", sf_dir)
    exact = {
        (r.id_a, r.id_b)
        for r in S.embedding_near_dup(emb, threshold=0.45).collect()
    }
    tables = [_seeded_planes(n_planes=4, seed=s) for s in (42, 43, 44, 45)]
    multi = {
        (r.id_a, r.id_b)
        for r in S.embedding_near_dup(
            emb, threshold=0.45, plane_tables=tables
        ).collect()
    }
    single = {
        (r.id_a, r.id_b)
        for r in S.embedding_near_dup(
            emb, threshold=0.45, planes=tables[0]
        ).collect()
    }
    assert multi <= exact
    assert single <= multi
    # no duplicate pairs despite collisions in several tables
    rows = S.embedding_near_dup(emb, threshold=0.45, plane_tables=tables).collect()
    assert len(rows) == len({(r.id_a, r.id_b) for r in rows})


@pytest.mark.slow
def test_near_dup_bucket_cap_identical_pairs(spark, sf_dir):
    """Sub-bucket salting of oversized verify groups (max_bucket_rows)
    must not change the pair set: every pair lands in exactly one
    (min(sub_a,sub_b), max(sub_a,sub_b)) group. A tiny cap forces the
    salted path on every bucket (the forced-skew case)."""
    emb = catalog.load(spark, "embeddings", sf_dir)
    tables = [_seeded_planes(n_planes=4, seed=s) for s in (42, 43, 44, 45)]
    uncapped = {
        (r.id_a, r.id_b, round(r.cosine, 9))
        for r in S.embedding_near_dup(
            emb, threshold=0.45, plane_tables=tables, max_bucket_rows=10**9
        ).collect()
    }
    capped = {
        (r.id_a, r.id_b, round(r.cosine, 9))
        for r in S.embedding_near_dup(
            emb, threshold=0.45, plane_tables=tables, max_bucket_rows=7
        ).collect()
    }
    assert capped == uncapped and len(capped) > 0


def test_ivf_single_probe_recall_on_clustered_corpus(spark, sf_dir):
    """Where cluster structure exists (as in real embedding corpora),
    single-probe IVF — scanning 1/8 of the corpus — must reach recall@5
    >= 0.9 against exact brute force. (The unstructured-fixture recall
    collapse measured in BENCH_SCALE r3 was a property of that fixture,
    not of the ANN route.)"""
    from pyspark.sql import functions as F

    emb = catalog.load(spark, "embeddings", sf_dir)
    cmod = (F.col("vec_id") % 8).cast("int")
    clustered = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x, i: F.when((i % 8) == cmod, F.lit(1.0)).otherwise(F.lit(0.0))
            + x.cast("double") * F.lit(0.05),
        ).alias("embedding"),
    )
    q = clustered.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = [[1.0 if i % 8 == c else 0.0 for i in range(64)] for c in range(8)]
    ivf = {
        (r.query_id, r.vec_id)
        for r in S.ivf_topk(clustered, q, cents, k=5, n_probe=1).collect()
    }
    brute = {
        (r.query_id, r.vec_id)
        for r in S.brute_force_topk(clustered, q, k=5).collect()
    }
    assert len(brute) == 100
    assert len(brute & ivf) / len(brute) >= 0.9


def test_embedding_near_dup_lsh_path_is_subset(spark, sf_dir):
    emb = catalog.load(spark, "embeddings", sf_dir)
    exact = {
        (r.id_a, r.id_b)
        for r in S.embedding_near_dup(emb, threshold=0.45).collect()
    }
    bucketed = {
        (r.id_a, r.id_b)
        for r in S.embedding_near_dup(emb, threshold=0.45, planes=_seeded_planes()).collect()
    }
    assert bucketed <= exact


def test_near_dup_tiled_kernel_matches_untiled(spark):
    """Degenerate-bucket guard: the in-kernel tiling (block_rows) must not
    change the pair set — a 30-row single-cluster corpus (every vector in
    one LSH bucket per table) verified with 7-row tiles equals the
    untiled answer and the exact count n*(n-1)/2."""
    import math

    rows = []
    for i in range(30):
        # tight cluster: base direction + tiny deterministic wiggle
        a = 0.01 * math.sin(i)
        rows.append((i, [math.cos(a), math.sin(a), 0.5, 0.25]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    tables = [[[1.0, 0.2, -0.3, 0.4]], [[-0.2, 1.0, 0.1, -0.5]]]
    tiled = S.embedding_near_dup(
        emb, threshold=0.9, plane_tables=tables, block_rows=7
    )
    untiled = S.embedding_near_dup(
        emb, threshold=0.9, plane_tables=tables, block_rows=10**6
    )
    t = {(r.id_a, r.id_b): round(r.cosine, 9) for r in tiled.collect()}
    u = {(r.id_a, r.id_b): round(r.cosine, 9) for r in untiled.collect()}
    assert t == u
    assert len(t) == 30 * 29 // 2  # all pairs are near-dups in this cluster


def test_exact_near_dup_guard_raises_over_limit(spark):
    """The exact all-pairs fallback collects the corpus, so it refuses to
    run above max_exact_rows — the registered default is the LSH path and
    accidental exact-path use on a big table must fail loudly."""
    import pytest

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(50)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="max_exact_rows"):
        S.embedding_near_dup(emb, threshold=0.9, max_exact_rows=10).collect()
    # under the limit the exact path still works
    small = emb.filter(F.col("vec_id") < 5)
    assert S.embedding_near_dup(small, threshold=-1.0, max_exact_rows=10).count() > 0


def test_batch_scorer_tiling_boundary_ties_exact(spark):
    """r3 scorer rewrite: the per-tile kth-largest boundary cut keeps ALL
    boundary ties, so the global (cosine desc, id asc) window stays exact
    even when the k-th score is shared — exercised with many duplicated
    vectors (cosine exactly 1.0 ties) across several partitions and a tile
    width smaller than the query count."""
    import numpy as np

    from mapreduce_big_data_processing_spark.operators import similarity as Smod

    rng = np.random.default_rng(5)
    base = rng.standard_normal((8, 4))
    # 40 corpus vectors = each base repeated 5x -> cosine-1.0 tie groups
    rows = [(i, [float(x) for x in base[i % 8]]) for i in range(40)]
    corpus = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>").repartition(7)
    queries = spark.createDataFrame(rows[:12], "query_id bigint, embedding array<double>")

    got = Smod.brute_force_topk(corpus, queries, k=6)
    out = {(r.query_id, r.rank): r.vec_id for r in got.collect()}

    M = np.array([r[1] for r in rows])
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    sims = Mn[:12] @ Mn.T
    for qi in range(12):
        order = sorted(
            (i for i in range(40) if i != qi),
            key=lambda i: (-round(sims[qi, i], 12), i),
        )[:6]
        want = [rows[i][0] for i in order]
        assert [out[(qi, r + 1)] for r in range(6)] == want, f"query {qi}"


def test_batch_scorer_k_exceeds_partition_rows(spark):
    """k larger than any single Arrow batch: every candidate must surface
    (the kk==rows branch) and self-matches must stay excluded."""
    from mapreduce_big_data_processing_spark.operators import similarity as Smod

    rows = [(i, [1.0, float(i)]) for i in range(6)]
    corpus = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>").repartition(5)
    queries = spark.createDataFrame(rows[:2], "query_id bigint, embedding array<double>")
    got = Smod.brute_force_topk(corpus, queries, k=5).collect()
    per_q = {}
    for r in got:
        per_q.setdefault(r.query_id, []).append(r.vec_id)
    assert sorted(per_q) == [0, 1]
    for qid, cids in per_q.items():
        assert len(cids) == 5 and qid not in cids


def test_hard_negative_ceiling_masks_before_topk(spark):
    """A corpus whose TOP matches are all near-duplicates: if the ceiling
    were applied after batch-local top-k, the dups would crowd out every
    qualifying negative and the result would be empty. The kernel masks
    first, so the best sub-ceiling vectors surface with exact ranks."""
    from mapreduce_big_data_processing_spark.operators import similarity as S

    q = spark.createDataFrame([(0, [1.0, 0.0, 0.0, 0.0])],
                              "query_id long, embedding array<double>")
    rows = [(0, [1.0, 0.0, 0.0, 0.0])]
    # 20 near-duplicates of the query (tiny jitter in dim 1): cosine ~1
    for i in range(1, 21):
        rows.append((i, [1.0, 0.001 * i, 0.0, 0.0]))
    # 3 moderate neighbours: cos = cos(theta) well below 0.95
    rows.append((100, [1.0, 1.0, 0.0, 0.0]))   # cos ≈ 0.7071
    rows.append((101, [1.0, 2.0, 0.0, 0.0]))   # cos ≈ 0.4472
    rows.append((102, [0.0, 1.0, 0.0, 0.0]))   # cos = 0
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = [
        (r.vec_id, r.rank)
        for r in S.hard_negative_topk(
            corpus.coalesce(1), q, k=2, max_cosine=0.95
        ).orderBy("rank").collect()
    ]
    assert got == [(100, 1), (101, 2)]


def test_sized_plane_tables_sizing_and_determinism():
    from mapreduce_big_data_processing_spark.operators.similarity import (
        seeded_planes,
        sized_plane_tables,
    )

    # mean bucket ~target: planes = ceil(log2(n/target)), clamped [4, 24]
    assert len(sized_plane_tables(2_000)[0]) == 4          # clamp floor
    assert len(sized_plane_tables(200_000)[0]) == 8        # the registered config's scale
    assert len(sized_plane_tables(2_000_000)[0]) == 11     # the 1000x fixture
    assert len(sized_plane_tables(1 << 40)[0]) == 24       # clamp ceiling
    t = sized_plane_tables(200_000, n_tables=4)
    assert len(t) == 4 and t == sized_plane_tables(200_000, n_tables=4)
    # seeds line up with the registered _NEAR_DUP_TABLES generator
    assert t[0] == seeded_planes(8, seed=42) and t[3] == seeded_planes(8, seed=45)


def test_sized_plane_count_integer_rule_matches_ceil_log2():
    """The r5 integer sizing rule (smallest p in [4,24] with
    target·2^p ≥ n) must agree with the float form it replaced at every
    corpus size that matters — including exact power-of-two boundaries,
    where a misrounded log2 would silently pick a different plane count
    in one engine and diverge the whole bucketing."""
    import math

    from mapreduce_big_data_processing_spark.operators.similarity import (
        sized_plane_count,
    )

    def ref(n, target=1024):
        return max(4, min(24, math.ceil(math.log2(max(2.0, n / target)))))

    boundary = [1024 << p for p in range(4, 25)]
    around = [n + d for n in boundary for d in (-1, 0, 1)]
    for n in [1, 2, 500, 2_000, 20_000, 200_000, 2_000_000, 1 << 40, *around]:
        assert sized_plane_count(n) == ref(n), n


def test_sized_lcg_sql_replay_bit_exact():
    """The DuckDB recursive-CTE replay of the seeded-LCG plane generator
    must produce BIT-IDENTICAL plane values to `similarity.seeded_planes`
    — the property that makes corpus-sized LSH configs oracle-checkable
    without pinned constants. HUGEINT emulates the mod-2^64 walk;
    ((state>>11)/2^53)*2-1 is exact in binary floating point on both
    sides. The SQL under test is built FROM the production oracle body
    (`queries._sized_lsh_pairs_sql`), so the exact recursive-CTE shape
    the registered oracles run — including the plane-count derivation
    coupled into the recursion bound via `FROM lcg, pc WHERE
    k < pc.p * 64` — is what this pins (r5 ADVICE: a hardcoded `k < 5*64`
    copy left that coupling covered only by the slow full sweep)."""
    import duckdb

    from mapreduce_big_data_processing_spark.operators.similarity import (
        seeded_planes,
        sized_plane_count,
    )
    from mapreduce_big_data_processing_spark.queries import (
        _sized_lsh_pairs_sql,
    )

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW embeddings AS "
        "SELECT * FROM '/root/testdata/sf0.001/embeddings.parquet'"
    )
    n = con.sql("SELECT count(*) FROM embeddings").fetchone()[0]
    p = sized_plane_count(n)
    rows = con.sql(
        "WITH RECURSIVE "
        + _sized_lsh_pairs_sql(0.45)
        + " SELECT t, i, j, val FROM planes ORDER BY t, i, j"
    ).fetchall()
    expected = {
        (t, i, j): seeded_planes(p, dim=64, seed=42 + t)[i][j]
        for t in range(4)
        for i in range(p)
        for j in range(64)
    }
    assert len(rows) == 4 * p * 64
    for t, i, j, val in rows:
        assert val == expected[(t, i, j)], (t, i, j)


@pytest.mark.slow
def test_near_dup_multiprobe_recall_and_invariants(spark, sf_dir):
    """Query-directed multi-probe on the self-join: probed output is a
    SUPERSET of the home-only pair set (every home collision survives),
    a SUBSET of the exact pair set (probes add candidates, verification
    is exact), deduplicated, and invariant under the sub-bucket cap."""
    emb = catalog.load(spark, "embeddings", sf_dir)
    exact = {
        (r.id_a, r.id_b)
        for r in S.embedding_near_dup(emb, threshold=0.45).collect()
    }
    tables = [_seeded_planes(n_planes=8, seed=s) for s in (42, 43)]
    home = {
        (r.id_a, r.id_b)
        for r in S.embedding_near_dup(
            emb, threshold=0.45, plane_tables=tables
        ).collect()
    }
    probed_rows = S.embedding_near_dup(
        emb, threshold=0.45, plane_tables=tables, n_probe=4
    ).collect()
    probed = {(r.id_a, r.id_b) for r in probed_rows}
    assert home <= probed <= exact
    assert len(probed) > len(home)  # 8 planes on 500 vecs: probes must add
    assert len(probed_rows) == len(probed)  # deduped across tables/probes
    capped = {
        (r.id_a, r.id_b)
        for r in S.embedding_near_dup(
            emb, threshold=0.45, plane_tables=tables, n_probe=4,
            max_bucket_rows=7,
        ).collect()
    }
    assert capped == probed  # forced-skew path: identical pair set


def test_arrow_signature_matches_expression_form(spark, sf_dir):
    """The Arrow NumPy-matmul signature (r8, the lsh_topk hot path) must
    assign every fixture vector the SAME bucket as the oracle-exact
    expression fold — the documented ulp-level summation-order hazard
    (a sign flip needs |dot| ~ 1e-15·norms) must not fire on real data.
    Runs at two plane counts including the corpus-sized one."""
    emb = catalog.load(spark, "embeddings", sf_dir)
    for planes in (_seeded_planes(), S.seeded_planes(8, dim=64, seed=7)):
        arrow = {
            r.vec_id: r.bucket
            for r in S.arrow_signature(emb, planes, "embedding")
            .select("vec_id", "bucket")
            .collect()
        }
        expr = {
            r.vec_id: r.bucket
            for r in S.hyperplane_signature(emb, planes, "embedding")
            .select("vec_id", "bucket")
            .collect()
        }
        assert arrow == expr and len(arrow) > 0


def test_arrow_signature_rejects_output_column_collision(spark, sf_dir):
    """mapInPandas cannot replace a column in place — a pre-existing
    column named `out` would yield a duplicate field in the output
    schema instead of withColumn's replacement semantics (r8 advice), so
    the operator must refuse up front."""
    import pytest

    emb = catalog.load(spark, "embeddings", sf_dir).withColumn(
        "bucket", F.lit(0)
    )
    with pytest.raises(ValueError, match="bucket.*already exists"):
        S.arrow_signature(emb, _seeded_planes(), "embedding")


def test_rrf_fuse_matches_hand_computation(spark):
    """RRF over two bounded legs: doc in both legs sums both reciprocal
    terms; single-leg docs carry the 0 sentinel in the other column; ties
    in score break by doc_id; hybrid_rank is dense 1..n."""
    lex = spark.createDataFrame([(10, 1), (20, 2), (30, 3)], "doc_id bigint, rank int")
    sem = spark.createDataFrame([(20, 1), (40, 2), (10, 3)], "doc_id bigint, rank int")
    rows = {r.doc_id: r for r in S.rrf_fuse({"lex": lex, "sem": sem}).collect()}
    assert set(rows) == {10, 20, 30, 40}
    assert (rows[30].lex_rank, rows[30].sem_rank) == (3, 0)
    assert (rows[40].lex_rank, rows[40].sem_rank) == (0, 2)
    expect = {
        10: 1 / 61 + 1 / 63,
        20: 1 / 62 + 1 / 61,
        30: 1 / 63,
        40: 1 / 62,
    }
    for d, s in expect.items():
        assert rows[d].rrf == round(s, 9), d
    # 20 > 10 (both-leg docs), then 40 (1/62) > 30 (1/63)
    order = sorted(rows.values(), key=lambda r: r.hybrid_rank)
    assert [r.doc_id for r in order] == [20, 10, 40, 30]
    assert [r.hybrid_rank for r in order] == [1, 2, 3, 4]


def test_rrf_fuse_tie_breaks_on_doc_id(spark):
    # same single-leg rank in different legs -> exactly equal doubles ->
    # the smaller doc_id must win deterministically
    lex = spark.createDataFrame([(7, 1)], "doc_id bigint, rank int")
    sem = spark.createDataFrame([(3, 1)], "doc_id bigint, rank int")
    order = [
        r.doc_id
        for r in sorted(
            S.rrf_fuse({"lex": lex, "sem": sem}).collect(),
            key=lambda r: r.hybrid_rank,
        )
    ]
    assert order == [3, 7]


def test_rrf_fuse_requires_a_leg():
    with pytest.raises(ValueError, match="at least one leg"):
        S.rrf_fuse({})


# ---------------------------------------------------------------------------
# graded ranking metrics (nDCG / hits@k / first-relevant rank)
# ---------------------------------------------------------------------------


def test_ranking_metrics_hand_computed(spark):
    """One query with a known list: ranks 1..3 hold grades (0, 2, 1).
    DCG  = 2/log2(3) + 1/log2(4) = 2/log2(3) + 0.5
    IDCG = 2/log2(2) + 1/log2(3)  (corpus holds one 2 and one 1)
    plus a second query whose list has no relevant docs at all."""
    import math

    ranked = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3), (2, 10, 1), (2, 12, 2)],
        "query_id int, doc_id int, rank int",
    )
    rel = spark.createDataFrame(
        [(1, 11, 2), (1, 12, 1), (2, 99, 2)],
        "query_id int, doc_id int, rel int",
    )
    out = {
        r.query_id: r
        for r in S.ranking_metrics(ranked, rel, k=10).collect()
    }
    r1 = out[1]
    assert (r1.n_retrieved, r1.rel_hits, r1.first_rel_rank) == (3, 2, 2)
    assert r1.dcg == round(2 / math.log2(3) + 1 / math.log2(4), 6)
    assert r1.idcg == round(2 / math.log2(2) + 1 / math.log2(3), 6)
    assert r1.ndcg == round(round(2 / math.log2(3) + 0.5, 6)
                            / round(2.0 + 1 / math.log2(3), 6), 6)
    # no relevant retrieved: integer sentinels, zero dcg, idcg from the
    # corpus-wide grade counts (the one grade-2 doc it MISSED)
    r2 = out[2]
    assert (r2.rel_hits, r2.first_rel_rank, r2.dcg) == (0, 0, 0.0)
    assert r2.idcg == round(2 / math.log2(2), 6)
    assert r2.ndcg == 0.0


def test_ranking_metrics_k_truncation_and_idcg_interval(spark):
    """IDCG interval expansion IN THE OPERATOR: with 3 grade-2 docs and
    2 grade-1 docs but k=4, the ideal list takes ranks 1-3 at grade 2
    and rank 4 at grade 1 — the k-truncation must NOT count all five,
    and the rank>k candidate must not contribute to dcg."""
    import math

    ranked = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 5)],  # rank 5 > k: excluded everywhere
        "query_id int, doc_id int, rank int",
    )
    rel = spark.createDataFrame(
        [(1, 10, 2), (1, 20, 2), (1, 21, 2), (1, 30, 1), (1, 31, 1),
         (1, 11, 2)],
        "query_id int, doc_id int, rel int",
    )
    r = S.ranking_metrics(ranked, rel, k=4).collect()[0]
    assert r.n_retrieved == 1  # the rank-5 row is truncated away
    assert r.dcg == round(2 / math.log2(2), 6)
    # 6 relevant docs total (4 grade-2, 2 grade-1), but IDCG@4 takes
    # only the best 4: grades 2,2,2,2
    assert r.idcg == round(
        2 / math.log2(2) + 2 / math.log2(3) + 2 / math.log2(4)
        + 2 / math.log2(5),
        6,
    )


def test_ranking_metrics_idcg_truncates_into_lower_grade(spark):
    """3 grade-2 + 2 grade-1 with k=4: the ideal tail crosses the grade
    boundary (ranks 1-3 at grade 2, rank 4 at grade 1) — pins the
    cumulative-interval join against off-by-one boundary bugs."""
    import math

    ranked = spark.createDataFrame(
        [(1, 10, 1)], "query_id int, doc_id int, rank int"
    )
    rel = spark.createDataFrame(
        [(1, 10, 2), (1, 20, 2), (1, 21, 2), (1, 30, 1), (1, 31, 1)],
        "query_id int, doc_id int, rel int",
    )
    r = S.ranking_metrics(ranked, rel, k=4).collect()[0]
    assert r.idcg == round(
        2 / math.log2(2) + 2 / math.log2(3) + 2 / math.log2(4)
        + 1 / math.log2(5),
        6,
    )


def test_retrieval_ndcg_margins(spark, sf_dir):
    """The UNROUNDED dcg/idcg sums (and their quotient) must sit far
    from the 6dp round-half boundary — the guard that cross-engine
    last-ulp noise in log2 sums cannot flip a displayed digit (the
    zipf/entropy rule). Recomputed independently in Python from the
    graded ANN lists: the engines' sums agree with this value to ~1e-15,
    so a fat margin here covers both."""
    import math

    from mapreduce_big_data_processing_spark import catalog
    from mapreduce_big_data_processing_spark.queries import _seeded_planes

    emb = catalog.load(spark, "embeddings", sf_dir)
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    ann = S.lsh_topk(emb, q, _seeded_planes(), k=10).collect()

    def grade(ql, cl):
        return 2 if cl == ql else (1 if cl % 5 == ql % 5 else 0)

    dcg: dict = {}
    for r in ann:
        g = grade(labels[r.query_id], labels[r.vec_id])
        dcg[r.query_id] = dcg.get(r.query_id, 0.0) + g / math.log2(r.rank + 1)
    worst = 1.0
    for qid in range(10):
        n2 = sum(1 for v, l in labels.items() if v != qid and l == labels[qid])
        n1 = sum(
            1
            for v, l in labels.items()
            if v != qid and l != labels[qid] and l % 5 == labels[qid] % 5
        )
        idcg = sum(
            (2.0 if r <= n2 else 1.0 if r <= n2 + n1 else 0.0)
            / math.log2(r + 1)
            for r in range(1, 11)
        )
        vals = [idcg]
        if qid in dcg:
            vals.append(dcg[qid])
            if idcg > 0:
                vals.append(round(dcg[qid], 6) / round(idcg, 6))
        for v in vals:
            if v != 0.0:
                worst = min(worst, abs(((v * 1e6) % 1.0) - 0.5))
    assert worst > 1e-6, f"6dp round-half margin too thin: {worst}"


@pytest.mark.parametrize("n_probe", [1, 2])
@pytest.mark.parametrize("max_bucket_rows", [4, 8192])
@pytest.mark.parametrize("batch_rows", [3, None])
def test_near_dup_verify_kernel_matches_oracle(
    spark, sf_dir, batch_rows, max_bucket_rows, n_probe
):
    """The verify kernel walks each partition's bucket-sorted Arrow
    batches. Three-row batches split groups across batches (the carried
    trailing group); a 4-row cap forces the salted cross-sub-bucket
    groups; a second probe adds probe rows to the groups. Every
    combination must equal the DuckDB oracle for the same plane tables."""
    import duckdb

    from mapreduce_big_data_processing_spark.queries import (
        _NEAR_DUP_TABLES_DENSE as tables,
        _near_dup_lsh_sql,
        _near_dup_probed_sql,
    )

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key, None)
    if batch_rows is not None:
        spark.conf.set(key, str(batch_rows))
    try:
        emb = catalog.load(spark, "embeddings", sf_dir)
        got = {
            (r.id_a, r.id_b, r.cosine)
            for r in S.embedding_near_dup(
                emb,
                threshold=0.45,
                plane_tables=tables,
                max_bucket_rows=max_bucket_rows,
                n_probe=n_probe,
            )
            .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
            .collect()
        }
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    sql = (
        _near_dup_lsh_sql(tables, 0.45)
        if n_probe == 1
        else _near_dup_probed_sql(tables, 0.45, n_probe=n_probe)
    )
    con = duckdb.connect()
    con.sql(f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'")
    want = {tuple(r) for r in con.sql(sql).fetchall()}
    assert got == want and len(want) > 0
