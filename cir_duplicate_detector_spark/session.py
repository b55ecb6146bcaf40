"""SparkSession helpers with engine-recommended configs.

The engine targets large clusters (100 TB-scale inputs); the configs here
are the ones that matter identically on local[N] and on a real cluster:
AQE (runtime re-planning, skew-join handling), sane shuffle partitioning,
a pinned UTC session zone, and Arrow for the few Pandas-UDF paths.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Configs every session running this engine should carry. Keys are plain
# public Spark SQL confs; values chosen for local[N] testing but the
# cluster-relevant ones (AQE, skew join) are scale-independent.
RECOMMENDED_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "true",
    # AQE sizes partitions by shuffle BYTES; the engine's similarity-join
    # verify stages are CPU-dense per byte (xor/bit_count over narrow
    # rows), so a byte-based advisory of 64MB under-parallelizes them.
    # 8MB keeps those stages wide without fragmenting IO-bound stages.
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8MB",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Pin the session zone so timestamp→epoch conversions are
    # deterministic regardless of host zone.
    "spark.sql.session.timeZone": "UTC",
    # Arrow for the mapInPandas pass of operators/pdqimage.py.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def default_driver_memory() -> str:
    """Three quarters of physical RAM (in MiB, Spark size syntax): the
    local driver heap default, leaving room for the JVM's off-heap
    areas, the Python workers and the OS."""
    ram = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{ram * 3 // 4 >> 20}m"


def get_spark(
    app_name: str = "cir-duplicate-detector-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's recommended confs.

    On a real cluster leave ``master`` unset and submit normally; locally
    defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default all cores).
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = builder.master(master)
    if master.startswith("local"):
        # local[N] runs the whole engine in the driver JVM; Spark's 1g
        # default heap gives 32 concurrent tasks ~13MB of execution
        # memory each — constant GC pressure and OOM on array-heavy
        # operators. The default is sized to this host's RAM;
        # SPARK_GRAFT_DRIVER_MEM overrides it. On a real cluster
        # executor sizing replaces this.
        builder = builder.config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM")
            or default_driver_memory(),
        )
        # Whole-stage codegen emits a fresh class per query stage; a
        # session that runs many distinct queries (the bench: 69) blows
        # through HotSpot's default 240MB reserved code cache, after
        # which the JIT flushes/refuses compilation and CPU-dense stages
        # run INTERPRETED — measured 5-10x slowdowns that look like
        # engine regressions (round-2 bench contamination; re-confirmed
        # round 3: dedup_ngram_jaccard 38s -> 3.5s with a 1g cache;
        # re-confirmed round 5 at 107 queries: the tail ref30k_banded
        # read 7.9s in-session vs 3.5s warm in a fresh JVM, so 1g now
        # overflows too — 2g default, env-overridable). On a real
        # cluster set the same flag in executor JVM options.
        builder = builder.config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize="
            + os.environ.get("SPARK_GRAFT_CODE_CACHE", "2g"),
        )
        # The live UI's retained state (SQL executions keep full plan
        # strings — the similarity plans carry multi-MB literal tables)
        # grows without bound across a long session; cap it low.
        builder = builder.config("spark.sql.ui.retainedExecutions", "20")
        builder = builder.config("spark.ui.retainedStages", "100")
        builder = builder.config("spark.ui.retainedJobs", "100")
    for key, value in RECOMMENDED_CONFS.items():
        builder = builder.config(key, value)
    for key, value in (extra_confs or {}).items():
        builder = builder.config(key, value)
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    spark = builder.getOrCreate()
    # If we attached to a pre-existing session, still make sure the
    # runtime-settable confs hold.
    for key, value in RECOMMENDED_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            pass  # static conf on a live session; builder already tried
    return spark
