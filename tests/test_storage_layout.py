"""Storage-layout scale levers, proven at the plan level: bucketed
tables join without ANY exchange (co-located join), partitioned
parquet scans prune partitions from a filter, and skewed joins can be
salted. These are the 100 TB mechanisms the small-SF correctness runs
never exercise."""

from __future__ import annotations

import shutil
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from orderly_spark.plans.audit import audit
from orderly_spark.tables import load

WAREHOUSE = Path(__file__).parent.parent / "spark-warehouse"


def test_bucketed_join_has_no_exchange(spark, sf_smoke):
    """Bucketing by the join key pre-shuffles at WRITE time: two tables
    bucketed the same way join with zero runtime exchanges — at 100 TB
    this turns every repeated fact-fact join on the same key from a
    full shuffle into a local merge."""
    l = load(spark, sf_smoke, "lineitem")
    o = load(spark, sf_smoke, "orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    # DROP TABLE on a table whose catalog entry was lost (interrupted run)
    # leaves the warehouse dir behind; saveAsTable then fails with
    # LOCATION_ALREADY_EXISTS — remove stale locations explicitly.
    for stale in ("b_lineitem", "b_orders"):
        shutil.rmtree(WAREHOUSE / stale, ignore_errors=True)
    l.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").mode("overwrite").saveAsTable("b_lineitem")
    o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode("overwrite").saveAsTable("b_orders")

    joined = (
        spark.table("b_lineitem")
        .join(
            spark.table("b_orders").hint("merge"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    a = audit(joined)
    # the join itself must be exchange-free; the only exchange allowed
    # is the final single-column groupBy
    assert a.n_sortmerge_joins == 1
    assert a.n_exchanges <= 1, a.text
    # correctness unchanged vs the plain join
    plain = (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert sorted(map(tuple, joined.collect())) == sorted(map(tuple, plain.collect()))


def test_partition_pruning_from_filter(spark, sf_smoke, tmp_path_factory):
    """A filter on the partition column must become PartitionFilters
    (files for other partitions are never listed/read)."""
    out = str(Path(__file__).parent / "tmp_parted")
    shutil.rmtree(out, ignore_errors=True)
    load(spark, sf_smoke, "lineitem").write.partitionBy("l_returnflag").parquet(out)
    df = spark.read.parquet(out).filter(F.col("l_returnflag") == "R").select("l_orderkey")
    a = audit(df)
    scan = a.scans[0]
    assert any("l_returnflag" in f for f in scan.partition_filters), a.text
    shutil.rmtree(out, ignore_errors=True)


def test_load_sees_rewritten_table_schema(spark, tmp_path):
    """A table rewritten in place with an extra column is read with its
    new schema: the loader's schema cache must not outlive the files."""
    sf_dir = str(tmp_path)
    path = f"{sf_dir}/region.parquet"
    base = spark.createDataFrame([(0, "AFRICA"), (1, "AMERICA")], "r_regionkey long, r_name string")
    base.write.parquet(path)
    assert load(spark, sf_dir, "region").columns == ["r_regionkey", "r_name"]
    base.withColumn("r_comment", F.lit("x")).write.mode("overwrite").parquet(path)
    again = load(spark, sf_dir, "region")
    assert again.columns == ["r_regionkey", "r_name", "r_comment"]
    assert again.filter(F.col("r_comment") == "x").count() == 2


def test_salted_join_matches_plain(spark, sf_smoke):
    from orderly_spark.operators.relational import salted_join

    l = load(spark, sf_smoke, "lineitem").withColumnRenamed("l_orderkey", "k")
    o = load(spark, sf_smoke, "orders").select(F.col("o_orderkey").alias("k"), "o_orderstatus")
    salted = salted_join(l.select("k", "l_quantity"), o, "k").groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n")
    )
    plain = l.select("k", "l_quantity").join(o, "k").groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n")
    )
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_zorder_layout_prunes_second_dimension(spark, sf_smoke, tmp_path):
    """Z-order vs single-column sort, measured on REAL parquet footer
    stats: bucket (l_partkey, l_orderkey) to a common 5-bit domain,
    write 16 files (a) range-partitioned by partkey-bucket only and
    (b) range-partitioned by the Morton code. A filter on the SECOND
    dimension (orderkey-bucket range) must touch every file of layout
    (a) but only a fraction of layout (b) — the min/max pruning any
    parquet reader (including Spark's) applies. This is the measured
    claim behind operators/layout.py, not a plan assertion."""
    import pyarrow.parquet as pq

    from orderly_spark.operators.layout import zvalue

    l = load(spark, sf_smoke, "lineitem")
    mx_pk, mx_ok = l.select(F.max("l_partkey"), F.max("l_orderkey")).head()
    # 0-based bucketing: keys START AT 0 in this data (l_orderkey=0
    # exists), so the 1-based (key-1)*32/(max+1) form produced bucket
    # -1 — it wraps to 31 inside zvalue's bit mask but poisons the
    # parquet footer stats (min=-1 overlaps every range), which was
    # the intermittent-looking failure in full-suite runs.
    b = l.select(
        "l_orderkey",
        "l_partkey",
        F.floor(F.col("l_partkey") * 32 / (mx_pk + 1)).cast("long").alias("pkb"),
        F.floor(F.col("l_orderkey") * 32 / (mx_ok + 1)).cast("long").alias("okb"),
    )

    # 16 deterministic "range files" per layout via partitionBy on an
    # explicit bucket column — NO repartitionByRange: its boundary
    # SAMPLING depends on input split state and intermittently left
    # empty/lopsided partitions when the suite ran alongside other
    # Spark work, flaking the count assertions. partitionBy is a pure
    # function of the data.
    plain_dir, z_dir = str(tmp_path / "plain"), str(tmp_path / "zord")
    b.withColumn("grp", F.col("pkb") / 2).withColumn(
        "grp", F.floor("grp").cast("long")
    ).write.partitionBy("grp").parquet(plain_dir)
    (
        b.withColumn("__z", zvalue([F.col("pkb"), F.col("okb")], bits=5))
        .withColumn("grp", F.shiftright("__z", 6))  # top 4 of 10 z bits
        .drop("__z")
        .write.partitionBy("grp")
        .parquet(z_dir)
    )

    def candidate_files(d, lo, hi, col="okb"):
        total, cand = 0, 0
        for f in sorted(Path(d).glob("grp=*/part-*.parquet")):
            md = pq.read_metadata(str(f))
            idx = md.schema.names.index(col)
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                mins.append(st.min)
                maxs.append(st.max)
            total += 1
            if mins and not (max(maxs) < lo or min(mins) > hi):
                cand += 1
        return cand, total

    plain_n, n_plain_files = candidate_files(plain_dir, 8, 11)
    z_n, n_z_files = candidate_files(z_dir, 8, 11)
    # plain layout: files are pkb ranges, so every file spans the full
    # okb domain → the okb∈[8,11] filter touches ALL of them. z
    # layout: the top 4 z bits are (y4 x4 y3 x3), so a file's
    # directory pins okb's top two bits — okb∈[8,11] (y4=0, y3=1)
    # matches exactly 4 of the 16 directories → 3/4 of files pruned
    # by plain parquet min/max stats. Deterministic: no sampling.
    assert n_plain_files >= 16 and plain_n == n_plain_files, (plain_n, n_plain_files)
    assert n_z_files >= 16 and z_n <= n_z_files // 4 + 1, (z_n, n_z_files)


def test_zvalue_hypothesis_bijective_and_boxed(spark):
    """Property: the Morton code is a bijection on the masked domain
    (distinct inputs → distinct codes) and interleaves bits exactly as
    documented (column j's bit b at position b*n+j)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from orderly_spark.operators.layout import zvalue

    import pyspark.sql.functions as F

    @settings(max_examples=20, deadline=None)
    @given(st.lists(st.tuples(st.integers(0, 31), st.integers(0, 31)),
                    min_size=1, max_size=20, unique=True))
    def prop(pairs):
        df = spark.createDataFrame(pairs, "x long, y long")
        got = {
            (r.x, r.y): r.z
            for r in df.select(
                "x", "y", zvalue([F.col("x"), F.col("y")], bits=5).alias("z")
            ).collect()
        }
        for (x, y), z in got.items():
            expect = 0
            for b in range(5):
                expect |= ((x >> b) & 1) << (2 * b)
                expect |= ((y >> b) & 1) << (2 * b + 1)
            assert z == expect
        assert len(set(got.values())) == len(got)

    prop()


def test_small_file_compaction_preserves_content(spark, sf_smoke, tmp_path):
    """The compaction job every 100 TB table needs: a directory of
    many tiny files is rewritten into bounded-size files
    (coalesce + maxRecordsPerFile); file count drops from ~64 to the
    record-bound ceiling, and the order-independent content checksum
    proves bit-level preservation — the same reconciliation primitive
    a_table_checksum_rollup exposes as a query."""
    import pyspark.sql.functions as F

    frag_dir, compact_dir = str(tmp_path / "frag"), str(tmp_path / "compact")
    d = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    d.repartition(64).write.parquet(frag_dir)
    n_frag = len(list(Path(frag_dir).glob("part-*.parquet")))
    assert n_frag >= 32  # genuinely fragmented input

    frag = spark.read.parquet(frag_dir)
    (
        frag.coalesce(1)
        .write.option("maxRecordsPerFile", 300)
        .parquet(compact_dir)
    )
    n_compact = len(list(Path(compact_dir).glob("part-*.parquet")))
    total = frag.count()
    import math
    assert n_compact <= max(1, math.ceil(total / 300)) + 1
    assert n_compact < n_frag / 4

    def checksum(path):
        df = spark.read.parquet(path)
        row = F.concat_ws(
            "|",
            F.col("doc_id").cast("string"),
            F.col("text"),
            F.col("lang"),
            F.col("source"),
            F.col("n_chars").cast("string"),
        )
        h48 = F.conv(F.substring(F.md5(row), 1, 12), 16, 10).cast("decimal(38,0)")
        return df.agg(F.sum(h48).cast("string"), F.count(F.lit(1))).head()

    assert checksum(frag_dir) == checksum(compact_dir)


def test_write_zordered_preserves_content_and_clusters(spark, sf_smoke, tmp_path):
    """write_zordered (the production layout entry point): output rows
    are exactly the input rows, and within every produced file the
    recomputed z-values are non-overlapping ranges across files in
    sorted order (file counts themselves are sampling-dependent and
    deliberately not asserted — see the operator docstring)."""
    import pyarrow.parquet as pq

    from orderly_spark.operators.layout import write_zordered, zvalue

    d = spark.read.parquet(f"{sf_smoke}/documents.parquet").select("doc_id", "n_chars")
    out = str(tmp_path / "zw")
    write_zordered(d, ["doc_id", "n_chars"], out, n_files=8, bits=5)

    back = spark.read.parquet(out)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, d.collect()))

    # recompute z per file; files must own disjoint z-ranges
    ranges = []
    for f in sorted(Path(out).glob("part-*.parquet")):
        rows = spark.read.parquet(str(f)).select(
            zvalue([F.col("doc_id"), F.col("n_chars")], bits=5).alias("z")
        ).collect()
        if rows:
            zs = [r.z for r in rows]
            ranges.append((min(zs), max(zs)))
    ranges.sort()
    assert ranges
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, (hi1, lo2)


def test_compaction_plan_executes_to_planned_file_count(spark, sf_smoke, tmp_path):
    """Executing r_compaction_bin_packing's plan: tag each fact row
    with its hour's bin_id, repartition on bin_id, write partitioned —
    exactly one output file per planned bin, and the row-count per bin
    matches the plan. This is the size-targeted OPTIMIZE loop (plan on
    per-hour stats, execute with ONE repartition write)."""
    from orderly_spark.operators.relational import epoch_us
    from orderly_spark.queries.relational import r_compaction_bin_packing

    plan = r_compaction_bin_packing(spark, sf_smoke)
    bins = {r["bin_id"]: r["n_rows"] for r in plan.collect()}
    assert len(bins) >= 3  # the planner genuinely splits at this SF

    e = spark.read.parquet(f"{sf_smoke}/events.parquet").withColumn(
        "eus", epoch_us(F.col("ts"))
    ).withColumn("hour", F.expr("eus div 3600000000")).drop("eus")
    ranges = plan.select("bin_id", "first_hour", "last_hour")
    tagged = e.join(
        ranges,
        (e["hour"] >= ranges["first_hour"]) & (e["hour"] <= ranges["last_hour"]),
    )
    out = str(tmp_path / "compacted")
    tagged.drop("hour").repartition("bin_id").write.partitionBy("bin_id").parquet(out)

    files = list(Path(out).glob("bin_id=*/part-*.parquet"))
    assert len(files) == len(bins)  # one file per planned bin
    back = spark.read.parquet(out)
    got = {r["bin_id"]: r["n"] for r in back.groupBy("bin_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == bins


def test_runtime_bloom_filter_prunes_fact_side(spark, sf_smoke):
    """Catalyst's runtime bloom-filter join pruning — the automatic
    counterpart of a_bloom_filter_probe's explicit operator: with a
    selective dimension side, the optimizer injects bloom_filter_agg
    on the build side and a might_contain predicate into the FACT
    scan's filter, so most fact rows die before the join shuffle. At
    100 TB this is the single biggest shuffle reducer for selective
    fact-dim SMJs; this test pins that the lever actually engages on
    this Spark build + these confs."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force SMJ: filter only helps there
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        l = spark.read.parquet(f"{sf_smoke}/lineitem.parquet")
        o = spark.read.parquet(f"{sf_smoke}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = l.join(o, l.l_orderkey == o.o_orderkey).groupBy("o_orderpriority").count()
        a = audit(j)
        text = a.text.lower()
        assert "bloom_filter_agg" in text, a.text
        assert "might_contain" in text, a.text
        # and the result is unaffected by the pruning
        assert j.collect()[0]["o_orderpriority"] == "1-URGENT"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
