"""SparkSession factory with scale-aware defaults.

The reference's "engine config" is a hand-built Hadoop ``Job`` per stage
(e.g. ``final project/src/final_kNN_src/phase1/TF_IDF_Compute.java:465-484``);
here a single session hosts every operator and Catalyst plans the stages.

Defaults are chosen for the 100 TB posture:
  - AQE on (runtime re-planning, skew-join splitting, partition coalescing)
  - broadcast threshold left at Spark default so small dims broadcast
  - Arrow enabled for the pandas_udf escape hatches
  - UTC session timezone so results are comparable across engines
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


#: the directory holding this package, for the Python workers' import path
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: compiled whole-stage-codegen classes the session keeps
#: (``spark.sql.codegen.cache.maxEntries``, Spark default 100). A first
#: sf0.001 pass of all 229 registered queries compiles 2,935 distinct
#: classes (4 CPUs, AQE off). The cache is Guava's, which evicts per
#: segment before its nominal cap (star_logs' 92 classes lost 51 per
#: pass at 100), hence the headroom.
_CODEGEN_CACHE_ENTRIES = 4096


def _local_cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def _default_driver_mem() -> str:
    """Half of the machine's memory (MemTotal in /proc/meminfo), capped at
    16g. A heap sized past the machine grows until the kernel kills the
    JVM; ``SPARK_GRAFT_DRIVER_MEM`` overrides this default."""
    cap_mb = 16 * 1024
    try:
        with open("/proc/meminfo") as f:
            total_kb = next(
                int(line.split()[1]) for line in f if line.startswith("MemTotal:")
            )
    except (OSError, StopIteration, ValueError):
        return f"{cap_mb}m"
    return f"{min(total_kb // 2048, cap_mb)}m"


def tune(spark: SparkSession) -> SparkSession:
    """Apply correctness-critical runtime conf to an existing session.

    Called inside every registered query so driver-owned sessions (whose
    builder conf we don't control) produce engine-correct results. Only
    semantics-affecting keys belong here — performance knobs (AQE, shuffle
    partitions) are set at builder time in :func:`get_session` and must not
    be stomped at runtime (AQE is on by default in Spark ≥3.2 anyway).
    """
    conf = {
        # timestamps must bucket identically across engines
        "spark.sql.session.timeZone": "UTC",
        # events.parquet stores TIMESTAMP(NANOS); Spark refuses it unless
        # read as long (catalog.load converts back to a timestamp column)
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
    }
    for k, v in conf.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable in this build; builder-time conf covers it
    return spark


def get_session(
    app_name: str = "mapreduce-bdp-spark",
    cpus: int | None = None,
    adaptive: bool = True,
) -> SparkSession:
    """Create (or fetch) the engine session.

    On a real cluster the master/memory conf comes from spark-submit; these
    builder settings only matter for local runs. ``adaptive`` switches AQE:
    on by default (the 100 TB posture — runtime re-planning, skew splits),
    but its per-stage re-optimization costs ~0.1 s/query, which only pays
    for itself when shuffles are large; callers that KNOW the workload is
    sub-GB (bench at sf≤0.1) pass False, exactly as shuffle partitions are
    sized to the local core count.

    Python workers start from this package's ``worker_daemon`` rather than
    pyspark's own daemon: it keeps each task from re-reading the
    ``pyspark.zip`` archive directory (about 0.2 s per task with Python
    3.11 on a 4-vCPU VM), with imports behaving as before.
    ``spark.executorEnv.PYTHONPATH`` lets the daemon import it from any
    working directory. Both are builder-time conf, so they apply only to
    a session this function creates; a session created elsewhere keeps
    pyspark's daemon.

    The session keeps up to ``_CODEGEN_CACHE_ENTRIES`` (4096) compiled
    whole-stage-codegen classes instead of Spark's 100. The registry's
    working set is about 2,900 classes, and one corpus_graph benchmark
    pass alone compiles about 150, so at 100 each pass recompiled 142 of
    them: Janino compiled them again on the driver and the JIT compiled
    the fresh classes again. The conf is static (``spark.conf.set``
    refuses it), so :func:`tune` cannot set it, and a session created
    elsewhere keeps Spark's 100, as it keeps pyspark's daemon.
    """
    n = cpus or _local_cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{n}]")
        # local mode: shuffles are in-process; fewer, fatter partitions beat
        # the 200 default at test scale. NOTE AQE only ever COALESCES
        # post-shuffle partitions — it never splits them (skew-join
        # splitting is join-only) — so the low static number here must be
        # paired with a high adaptive STARTING number below or every
        # shuffle at real scale is capped at this many reduce tasks.
        .config("spark.sql.shuffle.partitions", str(max(n // 4, 8)))
        .config("spark.sql.adaptive.enabled", "true" if adaptive else "false")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # scale-adaptive reduce parallelism (guide §2.2): shuffles START at
        # 8×cores map-output splits and AQE coalesces them down to
        # advisoryPartitionSizeInBytes from the measured sizes, so sf0.1
        # still collapses to a handful of tasks while a 100× shuffle fans
        # out to every core instead of the static 8 above. Only meaningful
        # when AQE is on (without AQE this key is ignored); r10 measured
        # pagerank@100× 211 s → the graph-build shuffles were running 8
        # reduce tasks on 32 cores.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(max(8 * n, 64)),
        )
        # without this, CACHED subplans plan with AQE partition-count
        # adaptation disabled (Spark keeps a cache's outputPartitioning
        # stable by default), so every .cache() lineage — iterative edge
        # tables, shingle sets, per-doc stats — would still run its
        # shuffles at the static partition count above regardless of data
        # size. Letting the cached plan's partitioning float means a
        # downstream consumer keyed on it may re-shuffle its (small) other
        # side to match — the right trade at scale, same reasoning as the
        # pagerank ranks-side shuffle.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true" if adaptive else "false",
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.python.daemon.module", f"{__package__}.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        # static conf: only the builder can size the codegen class cache
        .config("spark.sql.codegen.cache.maxEntries", str(_CODEGEN_CACHE_ENTRIES))
    )
    return tune(builder.getOrCreate())
