"""Testdata star-schema loaders (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet each under a scale-factor dir.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from orderly_spark.session import barrier

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: (table path, st_mtime_ns of that path, whether TIMESTAMP columns
#: infer as timestamp_ntz) → the table's StructType. Invariant: a cached schema is reused only
#: while the path's mtime is unchanged. Rewriting a table (Spark's
#: overwrite replaces the directory; a single-file table gets a new
#: mtime) changes the key, so the next load reads the footer again. One
#: local `stat` and one conf read per load, no Spark or Hadoop listing;
#: a path `os.stat` cannot see is keyed on the path alone. Only the
#: SCHEMA is cached — each call still returns a fresh DataFrame/scan,
#: and every action re-reads parquet.
_SCHEMA_CACHE: dict = {}


def _data_file(path: str) -> str | None:
    """The parquet file whose footer holds the schema of the table at
    ``path``: the path itself, or a directory's first data file by name
    (Spark skips names starting with ``_`` or ``.``, and its
    non-merging schema inference reads one file). None when the local
    filesystem shows no such file (a remote URI, a missing path, an
    empty or partitioned directory)."""
    if os.path.isfile(path):
        return path
    try:
        with os.scandir(path) as it:
            entries = sorted((e for e in it if e.name[0] not in "_."), key=lambda e: e.name)
    except OSError:
        return None
    if not entries or not all(e.is_file() for e in entries):
        return None
    return entries[0].path


#: footer key under which Spark stores the schema of a file it wrote
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _spark_type(t, ntz: bool):
    """The type Spark's parquet schema inference gives a column that
    pyarrow reads as Arrow type ``t``; TIMESTAMP(NANOS) is bigint, as
    the session's ``nanosAsLong`` reads it."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import from_arrow_type
    from pyspark.sql.types import ArrayType, LongType, MapType

    if pa.types.is_timestamp(t) and t.unit == "ns":
        return LongType()
    if pa.types.is_struct(t):
        return StructType([StructField(f.name, _spark_type(f.type, ntz)) for f in t])
    if pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_fixed_size_list(t):
        return ArrayType(_spark_type(t.value_type, ntz))
    if pa.types.is_map(t):
        return MapType(_spark_type(t.key_type, ntz), _spark_type(t.item_type, ntz))
    return from_arrow_type(t, prefer_timestamp_ntz=ntz)


def _footer_schema(path: str, *, ntz: bool = True) -> StructType | None:
    """The schema Spark infers for the parquet file at ``path``, read
    from its footer on the driver (``ntz`` is
    ``spark.sql.parquet.inferTimestampNTZ.enabled``). A file Spark wrote
    carries its schema, which is what Spark's inference returns. None
    when the footer holds a type this conversion cannot tell apart or
    map: an INT96 timestamp (pyarrow shows it as nanoseconds, Spark
    reads it as a timestamp) or one pyspark's Arrow converter rejects,
    such as an unsigned integer. Nullability is not reproduced: Spark
    makes every level of a file source's schema nullable, a given
    schema too."""
    import json

    import pyarrow.parquet as pq
    from pyspark.errors import PySparkTypeError

    with pq.ParquetFile(path) as pf:
        arrow = pf.schema_arrow
        stored = (arrow.metadata or {}).get(_SPARK_SCHEMA_KEY)
        if stored is not None:
            return StructType.fromJson(json.loads(stored))
        if any(c.physical_type == "INT96" for c in pf.schema):
            return None
    try:
        return StructType([StructField(f.name, _spark_type(f.type, ntz)) for f in arrow])
    except PySparkTypeError:
        return None


def micros_from_nanos(nanos: str) -> Column:
    """Epoch microseconds of the epoch-nanoseconds bigint column
    ``nanos``, floored: -1500 ns is -2 µs, the microsecond it falls in.
    Integer arithmetic throughout; ``nanos / 1000`` in double space is
    off by 1 µs at epoch-nanos magnitudes (> 2^53)."""
    return F.expr(f"({nanos} - pmod({nanos}, 1000)) DIV 1000")


def load(spark: SparkSession, sf_dir: str, name: str, *, fan_out: bool = False) -> DataFrame:
    """Read one testdata table.

    The schema comes from the table's parquet footer, read on the
    driver (~0.1 ms), and is passed to ``spark.read.schema``: Spark's own
    schema inference would run a Spark job per table (50-65 ms warm).
    Spark infers the schema instead when the local filesystem shows no
    footer (see :func:`_data_file`; Spark then raises its own error for
    a missing path) or :func:`_footer_schema` cannot map it.

    ``fan_out=True`` round-robin-repartitions to the session's core
    count. The testdata parquets are single-file/single-row-group, so
    a scan can never split below ONE task locally — any CPU-heavy work
    fused into the scan stage (tokenise/shingle/hash, per-row array
    building) runs single-core without this. On a real cluster scans
    split by row group / maxPartitionBytes and the repartition
    coalesces into normal input parallelism; use it only where
    downstream CPU ≫ one pass over the input bytes (the repartition
    itself shuffles the full column set it carries).
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    if name == "events":
        # Spark rejects a TIMESTAMP(NANOS) events.ts unless nanosAsLong
        # is on. The conf is runtime-settable, and sessions not built by
        # orderly_spark.session (e.g. one __spark_entry__ receives) may
        # not have it — set it here so any session works.
        if (spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") or "false").lower() != "true":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{name}.parquet"
    ntz = (spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", "true") or "true").lower() == "true"
    try:
        key = (path, os.stat(path).st_mtime_ns, ntz)
    except OSError:
        key = (path, None, ntz)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        footer = _data_file(path)
        schema = _footer_schema(footer, ntz=ntz) if footer else None
        if schema is None:
            schema = spark.read.parquet(path).schema
        _SCHEMA_CACHE[key] = schema
    df = spark.read.schema(schema).parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # events.ts stored as TIMESTAMP(NANOS) reads as epoch-nanos long
        # (nanosAsLong): convert it back to the type and values the same
        # column stored as microseconds reads as. With inferTimestampNTZ
        # that is timestamp_ntz, so the micros are added to the NTZ
        # epoch (field arithmetic, no zone); without it, a timestamp at
        # that UTC instant. Either way the values do not depend on the
        # session time zone.
        micros = micros_from_nanos("ts")
        ts = (
            F.timestamp_add("MICROSECOND", micros, F.expr("TIMESTAMP_NTZ'1970-01-01 00:00:00'"))
            if ntz
            else F.timestamp_micros(micros)
        )
        df = df.withColumn("ts", ts)
    if fan_out:
        df = df.repartition(spark.sparkContext.defaultParallelism)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every testdata table as a temp view; return the frames."""
    out = {}
    for name in TABLES:
        df = load(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def materialize_then_clean(df: DataFrame, *paths: str) -> DataFrame:
    """Materialise a (small) query result, then delete the scratch
    directories its plan reads from — the leak-free contract for every
    sink-roundtrip gate query (review finding: each gate run used to
    leave its scratch export in /tmp). Callers only pass results that
    are aggregate/dimension sized."""
    import shutil

    # lineage severed before the files it reads are deleted
    out = barrier(df, "materialize_then_clean")
    for p in paths:
        shutil.rmtree(p, ignore_errors=True)
    return out
