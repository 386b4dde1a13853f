"""Mergeable-sketch aggregates (Apache DataSketches via Spark built-ins).

The reference computes every distinct-count exactly, re-scanning raw data
for each reporting granularity (`src/…/LogAnalysis` counts per-day uniques
with one MR job per day-file). At 100 TB the scale-correct pattern is
*sketch once, merge forever*: build an HLL sketch per fine-grained cell
(one scan), then answer ANY coarser rollup by merging sketch states —
no second pass over raw data, constant memory per cell, and the merge is
associative + commutative so it partial-aggregates map-side like any sum.

Spark ships DataSketches HLL as `hll_sketch_agg` / `hll_union_agg` /
`hll_sketch_estimate` (SPARK-16484); sketches built with the same
``lgConfigK`` merge losslessly, so the daily→monthly rollup estimate is
identical to sketching the month directly — asserted in tests.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: log2 of the HLL register count: 12 → 4 KiB dense state, ~1.6% rel. err.
LG_CONFIG_K = 12


def sketch_distinct(
    df: DataFrame,
    keys: Sequence[str],
    value: str,
    sketch_col: str = "hll",
) -> DataFrame:
    """One HLL sketch of ``value`` per ``keys`` cell (the materialized cube
    a pipeline writes alongside raw data; binary, mergeable)."""
    return df.groupBy(*keys).agg(
        F.hll_sketch_agg(F.col(value), F.lit(LG_CONFIG_K)).alias(sketch_col)
    )


def merge_rollup(
    df: DataFrame,
    keys: Sequence[str],
    sketch_col: str = "hll",
    estimate_col: str = "distinct_est",
) -> DataFrame:
    """Roll sketches up to coarser ``keys`` by merging states — never
    touching raw rows. Output carries the point estimate."""
    merged = df.groupBy(*keys).agg(
        F.hll_union_agg(F.col(sketch_col)).alias(sketch_col)
    )
    return merged.select(
        *keys, F.hll_sketch_estimate(F.col(sketch_col)).alias(estimate_col)
    )


def heavy_hitters(
    df: DataFrame,
    value_col: str,
    min_frac: float = 0.005,
    capacity: int | None = None,
) -> DataFrame:
    """Exact frequent items at scale via sketch-then-verify (Misra-Gries).

    Pass 1 (one narrow Arrow stage, NO shuffle of the data): each partition
    maintains a Misra-Gries summary of ``capacity`` counters — by the
    pigeonhole guarantee, any item with global count > N/capacity survives
    in at least one partition's summary, so the union of summaries is a
    superset of every item with frequency ≥ min_frac (capacity defaults to
    ceil(2/min_frac) for slack at the threshold boundary). Pass 2 counts
    ONLY the candidate set exactly (broadcast membership filter before the
    shuffle) and applies the threshold.

    The result is therefore EXACT — identical to GROUP BY + HAVING — while
    never shuffling the full value domain: pass-1 output is bounded by
    capacity × partitions rows regardless of data size, pass-2 shuffle by
    the candidate count. Output: (value_col, cnt) with cnt ≥
    ceil(min_frac × N).
    """
    capacity = capacity or int(2.0 / min_frac) + 1
    if capacity * min_frac < 1.0:
        # the exactness guarantee needs N/(capacity+1) < ceil(min_frac·N):
        # a smaller capacity can silently DROP true heavy hitters
        raise ValueError(
            f"capacity {capacity} < 1/min_frac ({1.0 / min_frac:.0f}): "
            "candidate superset guarantee would not hold"
        )

    def summarize(batches):
        import pandas as pd

        # mergeable-MG (Agarwal et al., "Mergeable Summaries"): merge the
        # batch's exact counts in, then if over capacity subtract the
        # (capacity+1)-th largest count from everyone and keep positives —
        # every subtraction of m is charged against ≥ capacity+1 counters,
        # so per-partition undercount ≤ n_p/(capacity+1)
        counters: dict = {}
        n = 0
        for pdf in batches:
            vc = pdf[value_col].value_counts()
            n += int(vc.sum())
            for v, c in vc.items():
                counters[v] = counters.get(v, 0) + int(c)
            if len(counters) > capacity:
                m = sorted(counters.values(), reverse=True)[capacity]
                counters = {k: c - m for k, c in counters.items() if c > m}
        out = pd.DataFrame(
            {value_col: list(counters.keys()) + [None], "n": 0}
        )
        out.loc[out.index[-1], "n"] = n
        yield out

    vtype = dict(df.dtypes)[value_col]
    rows = df.select(value_col).where(F.col(value_col).isNotNull())
    summary = rows.mapInPandas(
        summarize, schema=f"{value_col} {vtype}, n long"
    ).cache()
    total = summary.agg(F.sum("n").alias("N"))
    candidates = summary.filter(F.col(value_col).isNotNull()).select(value_col).distinct()
    exact = (
        rows.join(F.broadcast(candidates), value_col, "left_semi")
        .groupBy(value_col)
        .agg(F.count("*").alias("cnt"))
    )
    return (
        exact.crossJoin(F.broadcast(total))
        .filter(F.col("cnt") >= F.ceil(F.lit(min_frac) * F.col("N")))
        .select(value_col, "cnt")
    )


def theta_distinct_overlap(
    df: DataFrame,
    group_col: str,
    value_col: str,
    groups: Sequence[str],
) -> DataFrame:
    """Distinct-value overlap across groups via Theta sketches (the
    DataSketches set-operation family): |A ∩ B| estimated by intersecting
    per-group sketch states — the question HLL cannot answer (HLL unions
    only). One scan builds a sketch per group into ONE row (conditional
    sketch aggregates); the intersection and union are then scalar,
    sketch-sized work on that row. Output: one row (per-group estimates,
    intersection_est, union_est).

    The set operations stay scalar on purpose: ``theta_intersection_agg``
    over a table of per-group sketches throws (``SketchesStateException``)
    whenever a partition of that table is empty — with AQE off the
    sketches' shuffle leaves most partitions empty."""
    sketches = df.agg(
        *[
            F.theta_sketch_agg(F.when(F.col(group_col) == g, F.col(value_col))).alias(
                f"__theta_{i}"
            )
            for i, g in enumerate(groups)
        ]
    )
    cols = [F.col(f"__theta_{i}") for i in range(len(groups))]
    inter, union = cols[0], cols[0]
    for c in cols[1:]:
        inter, union = F.theta_intersection(inter, c), F.theta_union(union, c)
    return sketches.select(
        *[
            F.theta_sketch_estimate(c).alias(f"distinct_{i}")
            for i, c in enumerate(cols)
        ],
        F.theta_sketch_estimate(inter).alias("intersection_est"),
        F.theta_sketch_estimate(union).alias("union_est"),
    )


def kll_quantile_rollup(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    rollup_keys: Sequence[str],
    quantiles: Sequence[float] = (0.5, 0.95, 0.99),
) -> DataFrame:
    """Mergeable quantile rollup via KLL sketches: sketch ``value_col``
    once per fine ``keys`` cell, answer coarser ``rollup_keys`` quantiles
    by MERGING sketch states — the percentile twin of the HLL pattern
    (percentile_approx over raw data would re-scan; KLL merges are
    sketch-sized). Output: rollup_keys + q_* columns."""
    fine = df.groupBy(*keys).agg(
        F.kll_sketch_agg_double(F.col(value_col).cast("double")).alias("kll")
    )
    # kll_sketch_merge_double is a BINARY scalar (no merge aggregate in
    # Spark 4.1): fold it over the per-group sketch list — still
    # sketch-sized work per group, and the fine sketches are tiny
    lst = F.collect_list("kll")
    folded = F.aggregate(
        F.slice(lst, F.lit(2), F.greatest(F.size(lst) - 1, F.lit(0))),
        F.element_at(lst, 1),
        lambda acc, x: F.kll_sketch_merge_double(acc, x),
    )
    merged = fine.groupBy(*rollup_keys).agg(folded.alias("kll"))
    qs = [
        F.kll_sketch_get_quantile_double(F.col("kll"), F.lit(q)).alias(
            f"q_{str(q).replace('.', '_')}"
        )
        for q in quantiles
    ]
    return merged.select(*rollup_keys, *qs)


def _cm_bucket(key: "F.Column", seed: "F.Column", width: int) -> "F.Column":
    """Row hash for Count-Min: top-15-hex-digit md5 of "key#seed" mod
    width. md5 is the one keyed hash every SQL engine evaluates
    identically, so the oracle replays the exact bucket arithmetic."""
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws("#", key.cast("string"), seed.cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    return F.pmod(h, F.lit(width))


def count_min_table(
    df: DataFrame,
    key_col: str,
    depth: int = 3,
    width: int = 64,
) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan, J.Alg'05) counter table:
    one row per non-empty (cm_row, bucket) cell with its count.

    The sketch is d*w integers TOTAL regardless of key cardinality — the
    frequency twin of the HLL pattern above: build once per ingest batch
    with one scan (the explode is map-side; partial aggregation collapses
    each partition to <= d*w cells before the only shuffle), then MERGE
    forever by adding tables cell-wise (`count_min_merge`). Point
    estimates never overcount by less than the true frequency and
    overcount only via collisions: est >= true always, a one-sided bound
    the estimate query exposes alongside exact counts.
    """
    seeds = F.explode(
        F.array(*[F.lit(i) for i in range(depth)])
    ).alias("cm_row")
    return (
        df.select(F.col(key_col).alias("__k"))
        .select("__k", seeds)
        .select(
            "cm_row",
            _cm_bucket(F.col("__k"), F.col("cm_row"), width).alias("bucket"),
        )
        .groupBy("cm_row", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def count_min_merge(*tables: DataFrame) -> DataFrame:
    """Merge Count-Min tables built with the same (depth, width): cell-wise
    sum — associative/commutative, so partial-aggregates map-side."""
    out = tables[0]
    for t in tables[1:]:
        out = out.unionByName(t)
    return out.groupBy("cm_row", "bucket").agg(F.sum("cnt").alias("cnt"))


def count_min_estimate(
    counters: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = 3,
    width: int = 64,
    est_col: str = "est",
) -> DataFrame:
    """Point-frequency estimates: min over the sketch's d cells for each
    key. The counter table is sketch-sized (<= d*w rows), so it broadcasts;
    the probe is a BHJ against the (small or large) key table — no shuffle
    of the keys."""
    seeds = F.explode(
        F.array(*[F.lit(i) for i in range(depth)])
    ).alias("cm_row")
    probes = keys.select(F.col(key_col), seeds).withColumn(
        "bucket", _cm_bucket(F.col(key_col), F.col("cm_row"), width)
    )
    return (
        probes.join(F.broadcast(counters), ["cm_row", "bucket"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias(est_col))
    )
