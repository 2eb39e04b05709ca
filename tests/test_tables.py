"""tables.load reads each table's schema from its parquet footer: the
schema must equal the one Spark's own inference gives (that loading
starts no Spark job is checked per slot by test_build_budget.py)."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from orderly_spark import tables
from orderly_spark.tables import TABLES, load


def _fresh_load(spark, sf_dir: str, name: str):
    tables._SCHEMA_CACHE.clear()
    return load(spark, sf_dir, name)


@pytest.mark.parametrize("scale", ["sf0.001", "sf0.01", "sf0.1"])
def test_footer_schema_equals_spark_inference(spark, sf_smoke, scale):
    sf_dir = os.path.join(os.path.dirname(sf_smoke), scale)
    if not os.path.isdir(sf_dir):
        pytest.skip(f"{sf_dir} not generated")
    for name in TABLES:
        path = f"{sf_dir}/{name}.parquet"
        if name == "events" and dict(spark.read.parquet(path).dtypes)["ts"] == "bigint":
            continue  # load converts a nanos-stored ts; see the nanos test below
        assert _fresh_load(spark, sf_dir, name).schema == spark.read.parquet(path).schema, name


def test_footer_schema_of_generated_and_spark_written_tables(spark, tmp_path):
    """The benchmark's generated tables (pandas-written), and a table
    Spark wrote as a directory of part files: its timestamps are INT96,
    which pyarrow shows as nanoseconds, and its footer carries Spark's
    own schema."""
    from benchmark.gen import write_registry_tables

    gen = tmp_path / "gen"
    write_registry_tables(gen, 7, 1)
    for name in TABLES:
        got = _fresh_load(spark, str(gen), name).schema
        assert got == spark.read.parquet(f"{gen}/{name}.parquet").schema, name

    written = tmp_path / "written"
    spark.sql(
        "SELECT id AS o_orderkey, timestamp_seconds(id) AS o_ts, timestamp_ntz'2020-01-01' AS o_ntz, "
        "array(id) AS o_arr, map('k', id) AS o_map, named_struct('x', id) AS o_st FROM range(8)"
    ).repartition(3).write.parquet(f"{written}/orders.parquet")
    got = _fresh_load(spark, str(written), "orders")
    assert got.schema == spark.read.parquet(f"{written}/orders.parquet").schema
    assert dict(got.dtypes)["o_ts"] == "timestamp"
    assert got.count() == 8


def test_footer_schema_follows_timestamp_ntz_inference(spark, sf_smoke):
    """With ``inferTimestampNTZ`` off, Spark infers a timezone-less
    timestamp as TIMESTAMP; the footer path does too."""
    conf = "spark.sql.parquet.inferTimestampNTZ.enabled"
    saved = spark.conf.get(conf, None)
    spark.conf.set(conf, "false")
    try:
        got = _fresh_load(spark, sf_smoke, "orders").schema
        assert got == spark.read.parquet(f"{sf_smoke}/orders.parquet").schema
        assert got["o_orderdate"].dataType.typeName() == "timestamp"
    finally:
        if saved is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, saved)
    tables._SCHEMA_CACHE.clear()


def test_unmapped_footer_types_are_inferred_by_spark(spark, tmp_path):
    """An unsigned column (pyspark's Arrow converter rejects it) and a
    pyarrow-written INT96 timestamp (pyarrow shows it as nanoseconds)
    get the schema Spark infers."""
    path = tmp_path / "part.parquet"
    pq.write_table(
        pa.table({"p_partkey": pa.array([1, 2], pa.uint32()), "p_ts": pa.array([1, 2], pa.timestamp("us"))}),
        path,
        use_deprecated_int96_timestamps=True,
    )
    got = _fresh_load(spark, str(tmp_path), "part").schema
    assert got == spark.read.parquet(str(path)).schema
    assert [f.dataType.typeName() for f in got] == ["long", "timestamp"]


_MICROS = [0, 1_600_000_000_123_456, 1_700_000_000_000_001, -86_400_000_000]


def _write_events(path, unit: str) -> str:
    """``events.parquet`` under ``path`` whose naive ``ts`` holds
    ``_MICROS`` stored at ``unit`` ("ns" or "us")."""
    path.mkdir()
    scale = 1000 if unit == "ns" else 1
    pq.write_table(
        pa.table({
            "event_id": pa.array(range(len(_MICROS)), pa.int64()),
            "ts": pa.array([m * scale for m in _MICROS], pa.timestamp(unit)),
        }),
        path / "events.parquet",
        version="2.6",
    )
    return str(path)


def test_load_converts_nanos_stored_events_ts(spark, tmp_path):
    """An ``events.parquet`` whose ``ts`` is TIMESTAMP(NANOS) loads with
    ``ts`` as the microsecond timestamps: the footer maps the column to
    bigint, as nanosAsLong reads it, and load converts it back to the
    type a naive microsecond column reads as, timestamp_ntz."""
    nanos = _write_events(tmp_path / "ns", "ns")
    assert "nanoseconds" in str(pq.ParquetFile(f"{nanos}/events.parquet").schema.column(1).logical_type)
    df = _fresh_load(spark, nanos, "events")
    assert dict(df.dtypes)["ts"] == "timestamp_ntz"
    us = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts) AS us"
    got = {r.event_id: r.us for r in df.selectExpr("event_id", us).collect()}
    assert got == dict(enumerate(_MICROS))


def test_load_floors_sub_microsecond_nanos(spark, tmp_path):
    """A nanos ``events.ts`` that is not a whole microsecond loads as the
    microsecond it falls in, as cleaning.merge_extracted converts its
    nanos columns: -1500 ns is -2 µs, not -1."""
    tmp_path.mkdir(exist_ok=True)
    pq.write_table(
        pa.table({"event_id": pa.array([0, 1], pa.int64()), "ts": pa.array([-1500, 1500], pa.timestamp("ns"))}),
        tmp_path / "events.parquet",
        version="2.6",
    )
    df = _fresh_load(spark, str(tmp_path), "events")
    us = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts) AS us"
    assert {r.event_id: r.us for r in df.selectExpr("event_id", us).collect()} == {0: -2, 1: 1}


@pytest.mark.parametrize("ntz", ["true", "false"])
def test_nanos_and_micros_events_ts_load_alike_in_any_zone(spark, tmp_path, ntz):
    """In a non-UTC session, with timestamp_ntz inference on or off, a
    nanos-stored ``events.ts`` loads with the same type and the same
    values as the same column stored as microseconds."""
    nanos = _write_events(tmp_path / "ns", "ns")
    micros = _write_events(tmp_path / "us", "us")
    confs = {"spark.sql.session.timeZone": "America/Los_Angeles", "spark.sql.parquet.inferTimestampNTZ.enabled": ntz}
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        a, b = _fresh_load(spark, nanos, "events"), _fresh_load(spark, micros, "events")
        assert a.dtypes == b.dtypes
        assert dict(a.dtypes)["ts"] == ("timestamp_ntz" if ntz == "true" else "timestamp")
        rows = lambda df: sorted(df.selectExpr("event_id", "CAST(ts AS STRING) AS s").collect())
        assert rows(a) == rows(b)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        tables._SCHEMA_CACHE.clear()
