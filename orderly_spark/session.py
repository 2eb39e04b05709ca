"""SparkSession factory.

Local mode is the test harness (local[32], single JVM); the config
defaults are chosen so the same logical plans scale to a real cluster:
AQE for runtime re-planning (skew joins, partition coalescing),
Arrow for any pandas-UDF boundary, UTC session timezone so timestamp
semantics match the DuckDB oracle, and shuffle partitions sized to the
harness cores (on a cluster this is overridden by AQE's coalescing and
`spark.sql.adaptive.advisoryPartitionSizeInBytes`).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: Size of the JVM-wide cache of compiled generated classes. Invariant:
#: it holds the working set of several passes, so a repeated plan never
#: recompiles. An ``ord_e2e`` pass (extract, clean, gen-fp) compiles
#: ~125 classes and a ``registry_hot`` pass ~215; Spark's default of 100
#: is smaller than one pass, and its LRU then evicts every class before
#: its next use. An entry is ~2.5 KB of bytecode plus a ~7.5 KB source
#: key, so 1000 entries cost at most ~20 MB of driver heap.
CODEGEN_CACHE_ENTRIES = 1000


#: AQE's coalescing targets bytes and is blind to per-row CPU. A
#: CPU-heavy operator downstream of a small exchange (tokenise or
#: shingle explode, per-pair array_intersect verify, collect_set
#: finalisation behind a few hundred KB of shuffle) must still spread
#: over every core, so the coalescing floor sits below the 1M default:
#: at that default a 390 KB dedup-window exchange coalesced to one task
#: that ran 5.2 s of a 5.5 s slot. At cluster scale post-shuffle
#: partitions are hundreds of MB and the floor never binds.
AQE_MIN_PARTITION_SIZE = "16k"


#: Runtime-settable confs every query assumes. ``get_spark`` builds its
#: session with them; ``__spark_entry__`` pins them on a session it did
#: not build (setting each is a no-op on a session that complies):
#: - UTC session timezone: timestamp-literal casts and date_trunc must
#:   match the DuckDB oracle's naive-timestamp semantics;
#: - nanosAsLong: events.parquet stores TIMESTAMP(NANOS), which the
#:   vectorized reader rejects; it reads as long and the loader converts
#:   back (values are microsecond-aligned, so lossless);
#: - Arrow: the pandas-UDF paths (chem, multimodal, protobuf decode)
#:   batch via Arrow, never row-at-a-time pickling.
SESSION_CONTRACT = (
    ("spark.sql.session.timeZone", "UTC"),
    ("spark.sql.legacy.parquet.nanosAsLong", "true"),
    ("spark.sql.execution.arrow.pyspark.enabled", "true"),
)


def _cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "") or os.cpu_count() or 8)


def get_spark(app_name: str = "orderly_spark", *, shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) the harness SparkSession.

    Config notes for cluster scale:
    - AQE enabled: coalesces small shuffle partitions and splits skewed
      ones at runtime, so the static ``shuffle.partitions`` value is a
      ceiling, not a tuning knob that must be re-derived per dataset.
    - ``files.maxPartitionBytes`` kept at the 128m default: at 100 TB a
      scan yields ~800k input splits, which is the intended granularity.
    - :data:`SESSION_CONTRACT` (UTC, nanosAsLong, Arrow).
    """
    cpus = _cpus()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", AQE_MIN_PARTITION_SIZE)
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config(map=dict(SESSION_CONTRACT))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


#: Local properties that name a barrier's job: the stage name Spark
#: shows (``callSite.short``) and the job description.
_BARRIER_PROPS = ("callSite.short", "spark.job.description")


def barrier(df: DataFrame, label: str) -> DataFrame:
    """Cut ``df``'s lineage with one eager ``localCheckpoint`` job whose
    stage and job description read ``barrier:<label>``; return the
    checkpointed frame. Every lineage cut in this package goes through
    here, and each call site states the invariant its cut protects:
    several readers, loop state, a pinned position-dependent id, or
    lineage severed before its input files are deleted.

    Why cut at all: lineage caches nothing, and AQE's stage-cache
    reuse does not fire on the copies of a subtree that several
    readers plan independently, so without a barrier each reader
    re-runs the whole upstream plan (profiled on c_split_fullscale
    and the clean pipeline's rare-molecule stage). A loop's state
    left lazy embeds every earlier round's plan in the next one.

    Executor loss: the checkpoint's blocks live in executor-local
    storage and are lost with their executor. That is correct in
    local mode and on static executors; under dynamic allocation write
    the relation to a table and read it back, or use a reliable
    ``checkpoint()`` instead.

    The job runs in the caller's job group (``spark.jobGroup.id`` is
    never touched, so tracers that attribute jobs by group see it).
    The caller's stage name and description are restored afterwards,
    also when the checkpointed plan raises."""
    sc = df.sparkSession.sparkContext
    saved = [(k, sc.getLocalProperty(k)) for k in _BARRIER_PROPS]
    for k, _ in saved:
        sc.setLocalProperty(k, f"barrier:{label}")
    try:
        return df.localCheckpoint()
    finally:
        for k, v in saved:
            sc.setLocalProperty(k, v)


def codegen_compiles(spark: SparkSession) -> tuple[int, float | None]:
    """(classes compiled, seconds spent compiling them) by this JVM's
    code generator so far, from Spark's ``CodegenMetrics``. The seconds
    sum the compile-time histogram's samples; once the JVM has compiled
    more classes than the histogram retains (1028), the sum is no longer
    the total and the seconds are None."""
    h = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    n, snap = h.getCount(), h.getSnapshot()
    if snap.size() < n:
        return n, None
    return n, spark._jvm.java.util.Arrays.stream(snap.getValues()).sum() / 1000.0
