"""SparkSession factory.

Local mode is the test harness: one JVM running ``local[N]``, N being
``SPARK_GRAFT_CPUS`` or else the host's CPU count. The config defaults
are chosen so the same logical plans scale to a real cluster: AQE for
runtime re-planning (skew joins, partition coalescing), Arrow for any
pandas-UDF boundary, UTC session timezone so timestamp semantics match
the DuckDB oracle, and shuffle partitions sized to the harness cores
(on a cluster this is overridden by AQE's coalescing and
`spark.sql.adaptive.advisoryPartitionSizeInBytes`).

Every CLI command launches a fresh driver JVM, and loading Spark's
classes is most of what that launch costs. ``get_spark`` therefore
starts the JVM with a JDK 17 dynamic class-data archive (AppCDS) kept
in the user cache directory: a launch that finds no whole archive has
its JVM write one as it exits, and later launches map it (see
:func:`archive_state`).
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import os
import secrets
import shutil
import struct
import subprocess
import time
import zlib
from pathlib import Path

from pyspark import SparkContext
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


#: JDK 17's dynamic-archive header (HotSpot ``cds.h``): the magic, then
#: from byte 16 a table of 7 regions of 72 bytes each; a region's CRC is
#: its first int, its file offset and used size the size_t at +24 and +40.
_CDS_DYNAMIC_MAGIC = 0xF00BABA8
_CDS_TABLE, _CDS_REGIONS, _CDS_REGION = 16, 7, 72
#: a JVM writes its archive as it exits; how long its launcher waits
_ARCHIVE_WRITE_S = 300
#: an unpublished archive this old (seconds) was left by a dead writer
_STALE_TMP_S = 3600
#: launch settings that put entries on the JVM class path the archive's
#: key does not cover; with any of them set the JVM starts plain
_CLASS_PATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH", "SPARK_PREPEND_CLASSES")
_CLASS_PATH_ARGS = ("--driver-class-path", "spark.driver.extraClassPath")
#: a JVM that dumps an archive logs hundreds of ``[warning][cds]`` lines
#: as it exits, and unified logging writes to stdout, the CLI's output:
#: the cds tags are off (whether an archive was used is
#: :func:`archive_state`'s to tell)
_CDS_QUIET = "-Xlog:cds*=off"


def _archive_intact(path: Path, *, check_crc: bool = False) -> bool:
    """Whether ``path`` holds a whole JDK 17 dynamic archive: the magic,
    and every region inside the file. Both matter before a JVM maps it: a
    truncated archive maps past its end and the JVM dies of SIGBUS (with
    ``-XX:+VerifySharedSpaces`` too), and garbage at the path makes it
    drop even the JDK's base archive. ``check_crc`` also checks each
    region's CRC, as ``-XX:+VerifySharedSpaces`` does (~0.2 s per 140 MB)."""
    try:
        with open(path, "rb") as fh:
            size = os.fstat(fh.fileno()).st_size
            head = fh.read(_CDS_TABLE + _CDS_REGIONS * _CDS_REGION)
            if len(head) < _CDS_TABLE + _CDS_REGIONS * _CDS_REGION or (
                struct.unpack_from("<I", head)[0] != _CDS_DYNAMIC_MAGIC
            ):
                return False
            regions = []
            for i in range(_CDS_REGIONS):
                at = _CDS_TABLE + i * _CDS_REGION
                offset, _, used = struct.unpack_from("<3Q", head, at + 24)
                if used:
                    regions.append((struct.unpack_from("<I", head, at)[0], offset, used))
            if not regions or any(offset + used > size for _, offset, used in regions):
                return False
            for crc, offset, used in regions if check_crc else ():
                fh.seek(offset)
                got = 0
                while used:
                    chunk = fh.read(min(used, 1 << 24))
                    if not chunk:  # the file shrank under us
                        return False
                    got, used = zlib.crc32(chunk, got), used - len(chunk)
                if got != crc:
                    return False
    except OSError:
        return False
    return True


def _class_archive_launch() -> tuple[str, Path, tuple[Path, Path] | None] | None:
    """How the next driver JVM uses the class-data archive: ``(java
    options, SPARK_CONF_DIR, publish)``, where ``publish`` is the
    (temporary, final) archive path when this launch builds the archive,
    or None when the JVM must start plain.

    The archive lives in ``$XDG_CACHE_HOME`` (else ``~/.cache``) under
    ``orderly_spark/``, keyed on the JDK build and the Spark class path.
    AppCDS refuses a non-empty directory on the class path, and the
    launcher puts the conf directory there, so the JVM is pointed at an
    empty one, but only when the effective conf directory holds nothing
    but ``*.template`` files: any other file there is the user's conf,
    which must apply. Other class-path additions also mean a plain start."""
    from pyspark.find_spark_home import _find_spark_home

    if any(os.environ.get(k) for k in _CLASS_PATH_ENV) or any(
        a in os.environ.get("PYSPARK_SUBMIT_ARGS", "") for a in _CLASS_PATH_ARGS
    ):
        return None
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if java is None:
        return None
    try:
        jdk = Path(os.path.realpath(java)).parent.parent
        release = (jdk / "release").read_text()
        if 'JAVA_VERSION="17.' not in release:
            return None
        spark_home = Path(_find_spark_home()).resolve()
        conf = Path(os.environ.get("SPARK_CONF_DIR") or spark_home / "conf")
        if conf.is_dir() and any(not p.name.endswith(".template") for p in conf.iterdir()):
            return None
        key = hashlib.sha256(f"{jdk}\n{release}\n{spark_home}\n".encode())
        for jar in sorted(os.scandir(spark_home / "jars"), key=lambda e: e.name):
            st = jar.stat()
            key.update(f"{jar.name} {st.st_size} {st.st_mtime_ns}\n".encode())
        cache = Path(os.environ.get("XDG_CACHE_HOME") or Path.home() / ".cache") / "orderly_spark"
        # the launcher splits java options at whitespace and quotes
        if set(str(cache)) & set(" \t\n'\"\\"):
            return None
        empty_conf = cache / "empty-conf"
        empty_conf.mkdir(parents=True, exist_ok=True)
        if any(empty_conf.iterdir()):
            return None
        final = cache / f"spark-{key.hexdigest()[:16]}.jsa"
        if _archive_intact(final):
            return f"{_CDS_QUIET} -XX:SharedArchiveFile={final}", empty_conf, None
        for old in cache.glob("*.jsa.*.tmp"):
            with contextlib.suppress(OSError):  # another launch may publish it meanwhile
                if time.time() - old.stat().st_mtime > _STALE_TMP_S:
                    old.unlink()
    except OSError:
        return None
    # a name of its own per launch: concurrent first runs never write one file
    tmp = final.with_name(f"{final.name}.{os.getpid()}-{secrets.token_hex(4)}.tmp")
    return f"{_CDS_QUIET} -XX:ArchiveClassesAtExit={tmp}", empty_conf, (tmp, final)


def _publish_archive(proc: subprocess.Popen, tmp: Path, final: Path) -> None:
    """At interpreter exit: end the driver JVM (it exits when its stdin
    closes) so it writes its archive to ``tmp``, then publish a whole one
    as ``final`` by one atomic rename. A JVM that did not exit cleanly, or
    a file that fails :func:`_archive_intact` with CRCs, is never
    published; a JVM still writing after :data:`_ARCHIVE_WRITE_S` leaves
    its file to the stale sweep."""
    try:
        if proc.poll() is None:
            # stop the context first: its accumulator server would
            # otherwise print an EOF traceback as the JVM goes away
            if SparkContext._active_spark_context is not None:
                SparkContext._active_spark_context.stop()
            proc.stdin.close()
            proc.wait(timeout=_ARCHIVE_WRITE_S)
        if proc.returncode == 0 and _archive_intact(tmp, check_crc=True):
            os.replace(tmp, final)
    except subprocess.TimeoutExpired:
        return
    except OSError:
        pass
    with contextlib.suppress(OSError):
        tmp.unlink(missing_ok=True)


def archive_state(spark: SparkSession) -> str:
    """This session's JVM and the class-data archive, read from the JVM
    itself: ``"mapped"`` (its ``SharedArchiveFile`` flag names an
    archive that is in its memory map; the JVM silently runs without an
    archive it rejects), ``"building"`` (its ``ArchiveClassesAtExit``
    flag is set: it writes an archive as it exits) or ``"none"``."""
    jvm = spark._jvm
    flags = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    if flags.getVMOption("ArchiveClassesAtExit").getValue():
        return "building"
    shared = flags.getVMOption("SharedArchiveFile").getValue()
    if shared:
        maps = jvm.java.nio.file.Files.readString(jvm.java.io.File("/proc/self/maps").toPath())
        if os.path.realpath(shared) in maps:
            return "mapped"
    return "none"


def get_spark(app_name: str = "orderly_spark", *, shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) the harness SparkSession.

    Config notes for cluster scale:
    - AQE enabled: coalesces small shuffle partitions and splits skewed
      ones at runtime, so the static ``shuffle.partitions`` value is a
      ceiling, not a tuning knob that must be re-derived per dataset.
    - ``files.maxPartitionBytes`` kept at the 128m default: at 100 TB a
      scan yields ~800k input splits, which is the intended granularity.
    - :data:`SESSION_CONTRACT` (UTC, nanosAsLong, Arrow).

    A call that launches the JVM adds the class-data archive's options
    to ``spark.driver.defaultJavaOptions`` (so a caller's
    ``extraJavaOptions`` still apply); see :func:`_class_archive_launch`.
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
    launch = None
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        launch = _class_archive_launch()
    if launch is None:
        spark = builder.getOrCreate()
    else:
        options, conf_dir, publish = launch
        saved = os.environ.get("SPARK_CONF_DIR")
        os.environ["SPARK_CONF_DIR"] = str(conf_dir)
        try:
            spark = builder.config("spark.driver.defaultJavaOptions", options).getOrCreate()
        finally:
            if saved is None:
                del os.environ["SPARK_CONF_DIR"]
            else:
                os.environ["SPARK_CONF_DIR"] = saved
        if publish is not None:
            atexit.register(_publish_archive, SparkContext._gateway.proc, *publish)
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
