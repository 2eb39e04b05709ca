"""Batch twins of the streaming operators (SURVEY §2.9 extension)
under the DuckDB gate: the exact expressions `streaming/pipeline.py`
runs incrementally, executed in batch so the oracle can certify the
window/session semantics. The streaming execution path itself (file
source, watermark, availableNow, memory/parquet sinks) is covered by
tests/test_streaming.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orderly_spark.queries.curation_battery import LATEST_STATE_ORACLE
from orderly_spark.registry import DSUM, dsum, query
from orderly_spark.tables import load, materialize_then_clean


def _finish(df: DataFrame, tmp: str, view: str | None = None) -> DataFrame:
    """Materialise a streaming query's (small) result and remove its
    scratch directory (the tables.materialize_then_clean contract).
    ``view`` names the memory sink's temp table: it is dropped AFTER
    the barrier materialises the result, releasing the sink's buffered
    rows from driver memory, so no gate run leaves its streamed table
    pinned for the session's lifetime."""
    out = materialize_then_clean(df, tmp)
    if view is not None:
        df.sparkSession.catalog.dropTempView(view)
    return out


def _stage_drops(e: DataFrame, kind: str, *, dirname: str = "drops") -> tuple[str, str]:
    """Write an events frame to a scratch file-arrival directory (8
    parquet files — enough splits to exercise maxFilesPerTrigger) and
    return (tmp_root, source_dir). One helper keeps every streaming
    gate's drop layout and the _finish cleanup contract in one place."""
    import os
    import tempfile

    tmp = tempfile.mkdtemp(prefix=f"orderly_stream_{kind}_")
    src = os.path.join(tmp, dirname)
    e.repartition(8).write.parquet(src)
    return tmp, src




@query(
    "s_windowed_event_counts",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n
    FROM events
    GROUP BY 1, 2
    """,
    category="streaming",
    survey="streaming-window",
)
def s_windowed_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows: streaming.windowed_event_counts
    run in batch (epoch-aligned windows == date_trunc for 1h; the
    optimizer drops the watermark from a batch plan)."""
    from orderly_spark.streaming.pipeline import windowed_event_counts

    return windowed_event_counts(load(spark, sf_dir, "events"))


@query(
    "s_session_windows",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    numbered AS (
      SELECT *, SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events,
           {DSUM('value')} AS total_value
    FROM numbered
    GROUP BY user_id, session_id
    """,
    category="streaming",
    survey="streaming-session",
)
def s_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min inactivity gap) per user:
    streaming.sessionized_events run in batch (the optimizer drops the
    watermark from a batch plan). The oracle is the classic
    gaps-and-islands rewrite; Spark's session_window ends at
    last_event + gap, and an event EXACTLY at the boundary MERGES into
    the session (adjacent windows coalesce: next_ts <= prev_end joins),
    hence the strict > in the oracle's new-session flag, pinned by
    tests/test_streaming.py::test_session_window_exact_gap_boundary
    and the sf_stream exact-tie session runs."""
    from orderly_spark.streaming.pipeline import sessionized_events

    return sessionized_events(load(spark, sf_dir, "events"))


@query(
    "s_stream_dedup_ingest",
    # The streamed outcome is deterministic (dedup on event_id with a
    # horizon-covering watermark must keep exactly the distinct ids),
    # so the real incremental execution sits under a VALUE oracle.
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT event_id) AS rows_after_dedup,
           COUNT(DISTINCT event_id) AS distinct_ids
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    category="streaming",
    survey="streaming-dedup,streaming-ingest,S5",
)
def s_stream_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end STREAMING execution (not a batch twin): the events
    table is written out twice (two file drops, second a full
    duplicate), ingested via readStream + trigger(availableNow), and
    deduplicated with dropDuplicatesWithinWatermark on
    (event_id, event_type) — state bounded by the watermark horizon.
    The returned frame aggregates the sink: per-type row counts must
    equal the DISTINCT event ids per type (duplicates from the second
    drop removed).

    Dedup key (event_id, event_type), not event_id ALONE: keyed on the
    id, the per-type attribution of an id re-emitted under a DIFFERENT
    type would depend on micro-batch arrival order (the survivor's type
    is whichever copy arrives first, while the oracle counts the id
    under every type it appears with; the hostile-lakehouse corpus
    holds such ids). With both keys the streamed outcome is a pure
    function of the data: same-type re-emissions still collapse (the
    sf_stream corpus class), conflicting-type re-emissions are
    distinct records.

    Scale shape: file-arrival micro-batches — maxFilesPerTrigger=4
    really bounds batch size here (16 files → 4 batches), so the dedup
    state is genuinely carried ACROSS micro-batches, not exercised in
    a single drain; dedup state is (event_id → seen) within the
    horizon; cross-horizon dedup remains the periodic batch pass
    (SURVEY §2.9 documented limitation)."""
    import uuid

    from orderly_spark.streaming.pipeline import run_to_memory, stream_events

    e = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    tmp, src = _stage_drops(e, "ingest")
    e.repartition(8).write.mode("append").parquet(src)  # duplicate drop

    stream = stream_events(spark, src, max_files_per_trigger=4)
    deduped = (
        stream.withWatermark("ts", "3650 days")
        .dropDuplicatesWithinWatermark(["event_id", "event_type"])
        .select("event_id", "event_type")
    )
    name = "dedup_ingest_" + uuid.uuid4().hex[:8]
    # state = (event_id, event_type) keys within one drain: 4 stores
    # beat 8/16 on the min-of-3 state-scale table (3.02 / 3.29 /
    # 3.43 s); per-operator sizing, OPTIMIZATION_r16.md
    run_to_memory(deduped, name, state_partitions=4)
    return _finish(
        spark.table(name)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("rows_after_dedup"),
            F.countDistinct("event_id").alias("distinct_ids"),
        )
        .orderBy("event_type"),
        tmp,
        view=name,
    )


@query(
    "s_stream_click_attribution",
    oracle="""
    SELECT c.user_id,
           c.event_id AS click_id,
           p.event_id AS purchase_id,
           c.ts AS click_ts,
           p.ts AS purchase_ts,
           p.value AS purchase_value
    FROM events c
    JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND c.ts <= p.ts
     AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """,
    category="streaming",
    survey="streaming-join[abs],J-asof",
)
def s_stream_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL stream-stream join under a VALUE oracle: clicks and
    purchases are two file-arrival streams (same event-log drop,
    filtered per side); each purchase joins the same user's clicks in
    the preceding 30 minutes. Both sides watermarked with an explicit
    event-time range so the click buffer is droppable state — the
    production attribution-join shape. With trigger(availableNow) and
    a horizon-covering watermark no row is late, so the streamed
    result must EQUAL the batch join — which is exactly what the
    DuckDB oracle computes (a rare chance to value-gate a streaming
    execution, not just count its rows)."""
    import uuid

    from orderly_spark.streaming.pipeline import (
        run_to_memory,
        stream_events,
        stream_stream_attribution_join,
    )

    e = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    tmp, src = _stage_drops(e, "join")

    ev = stream_events(spark, src)
    joined = stream_stream_attribution_join(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
        horizon="30 minutes",
        watermark="3650 days",
    )
    name = "click_attr_" + uuid.uuid4().hex[:8]
    # two join state stores, horizon-bounded state: 4 beats 8/16
    # (2.87 / 3.67 / 4.33 s min-of-N)
    run_to_memory(joined, name, state_partitions=4)
    return _finish(spark.table(name), tmp, view=name)


@query(
    "s_stream_outer_attribution",
    oracle="""
    WITH c AS (SELECT * FROM events WHERE event_type = 'click'),
         p AS (SELECT * FROM events WHERE event_type = 'purchase'),
         wm AS (SELECT least((SELECT MAX(ts) FROM c), (SELECT MAX(ts) FROM p))
                       - INTERVAL 1 HOUR AS w)
    SELECT c.user_id,
           c.event_id AS click_id,
           p.event_id AS purchase_id,
           c.ts AS click_ts,
           p.ts AS purchase_ts,
           p.value AS purchase_value
    FROM c LEFT JOIN p
      ON c.user_id = p.user_id
     AND c.ts <= p.ts
     AND p.ts <= c.ts + INTERVAL 30 MINUTE
    CROSS JOIN wm
    WHERE p.event_id IS NOT NULL
       OR c.ts + INTERVAL 30 MINUTE < wm.w
    """,
    category="streaming",
    survey="streaming-outer-join[abs],streaming-join[abs],J-outer",
)
def s_stream_outer_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join with watermark-expiry emission —
    the semantics class the inner attribution join cannot show:
    matched rows emit eagerly, while an unmatched click emits
    null-extended only once the global watermark (min across both
    inputs of max-event-time - 1 h) passes its last possible match
    time (click_ts + 30 min), making the null verdict FINAL. Clicks
    still inside the final frontier stay in state, unemitted.

    The value oracle reproduces exactly that contract: the batch left
    join, keeping matched rows plus unmatched clicks strictly below
    the frontier — so the driver hash-checks both the join results
    AND the emission frontier arithmetic. Multi-batch is real
    (maxFilesPerTrigger=4 over 8 files); the final emitted set is
    batch-decomposition-independent because emission is decided by
    the final watermark, which depends only on the data."""
    import uuid

    from orderly_spark.streaming.pipeline import (
        run_to_memory,
        stream_events,
        stream_stream_attribution_join,
    )

    e = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    tmp, src = _stage_drops(e, "outer")

    ev = stream_events(spark, src, max_files_per_trigger=4)
    joined = stream_stream_attribution_join(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
        horizon="30 minutes",
        watermark="1 hour",
        join_type="left_outer",
    )
    name = "outer_attr_" + uuid.uuid4().hex[:8]
    # 4 state stores beat 8/16 (2.41 / 3.57 / 4.44 s min-of-3)
    run_to_memory(joined, name, state_partitions=4)
    return _finish(spark.table(name), tmp, view=name)


@query(
    "s_stream_upsert_compaction",
    # Identical oracle to e_latest_state_per_key: incremental upsert
    # over any batch decomposition must equal the batch argmax.
    oracle=LATEST_STATE_ORACLE,
    category="streaming",
    survey="streaming-upsert[abs],cdc-compaction[abs]",
)
def s_stream_upsert_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming UPSERT compaction via foreachBatch — the maintenance
    loop of a CDC latest-state table, run as a REAL stream: the event
    log arrives as file micro-batches (maxFilesPerTrigger=2 → four
    batches); each batch is reduced to per-key (argmax-by-time row +
    event count) and MERGED into the persisted state parquet. Version
    paths are a pure function of the batch id — batch N always reads
    state v(N-1) (immutable once written) and overwrites v(N) — so a
    checkpoint-replayed batch re-derives the identical v(N) from the
    identical inputs: idempotent under replay WITHOUT a transactional
    sink (reading "latest" instead would double-merge a replayed
    batch). The merge is associative (argmax of argmaxes, sum of
    counts), so the final state is independent of how the log was
    batched — which is exactly what the value gate certifies: the
    streamed, incrementally-merged state must EQUAL the one-shot batch
    compaction (e_latest_state_per_key's oracle, reused verbatim).

    At 100 TB the state table is bucketed by key-hash and the merge is
    a per-bucket co-partitioned join; the per-batch cost is O(batch +
    touched-state), never O(history)."""
    import os

    from pyspark.sql import Window

    from orderly_spark.streaming.pipeline import EVENT_SCHEMA

    e = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    tmp, src = _stage_drops(e, "upsert")
    state_root = os.path.join(tmp, "state")
    max_batch: dict[str, int] = {"id": -1}

    def upsert(batch_df, batch_id: int) -> None:
        # the argmax total order covers every payload column (as
        # LATEST_STATE_ORACLE does), and totality is what makes the
        # merge associative: under a (ts, event_id) order alone,
        # same-key same-tick writes with different payloads would make
        # argmax-of-argmaxes depend on the batch decomposition.
        w = Window.partitionBy("user_id").orderBy(
            F.desc("ts"), F.desc("event_id"),
            F.desc_nulls_last("event_type"), F.desc_nulls_last("value"),
        )
        wc = Window.partitionBy("user_id")
        b = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .withColumn("n_events", F.count(F.lit(1)).over(wc))
            .filter(F.col("__rn") == 1)
            .select(
                "user_id",
                "n_events",
                F.col("ts").alias("last_ts"),
                F.col("event_id").alias("last_eid"),
                F.col("event_type").alias("last_event_type"),
                F.col("value").alias("last_value"),
            )
        )
        # availableNow batch ids are contiguous from 0, so v(N-1) is
        # the complete pre-batch state — deterministic, never "latest"
        if batch_id > 0:
            old = batch_df.sparkSession.read.parquet(
                os.path.join(state_root, f"v{batch_id - 1}")
            )
            u = old.unionByName(b)
            w2 = Window.partitionBy("user_id").orderBy(
                F.desc("last_ts"), F.desc("last_eid"),
                F.desc_nulls_last("last_event_type"), F.desc_nulls_last("last_value"),
            )
            b = (
                u.withColumn("__rn", F.row_number().over(w2))
                .withColumn("__tot", F.sum("n_events").over(Window.partitionBy("user_id")))
                .filter(F.col("__rn") == 1)
                .select(
                    "user_id",
                    F.col("__tot").alias("n_events"),
                    "last_ts",
                    "last_eid",
                    "last_event_type",
                    "last_value",
                )
            )
        b.write.mode("overwrite").parquet(os.path.join(state_root, f"v{batch_id}"))
        max_batch["id"] = max(max_batch["id"], batch_id)

    q = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
        .writeStream.foreachBatch(upsert)
        .option("checkpointLocation", os.path.join(tmp, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    final = os.path.join(state_root, f"v{max_batch['id']}")
    return _finish(
        spark.read.parquet(final).select(
            "user_id", "n_events", "last_ts", "last_event_type", "last_value"
        ),
        tmp,
    )


@query(
    "s_stream_running_totals",
    # The cross-check aggregate is deterministic: every user's final
    # stateful emission must equal the batch aggregate (0 mismatches),
    # so even the custom-state streaming path is value-gated.
    oracle="""
    SELECT COUNT(DISTINCT user_id) AS n_users,
           CAST(0 AS BIGINT) AS n_mismatched,
           COUNT(*) AS total_events
    FROM events
    """,
    category="streaming",
    survey="streaming-state",
)
def s_stream_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom stateful operator (applyInPandasWithState) executed
    as a REAL stream: per-user running totals in update mode over a
    file-arrival stream, drained with availableNow into a memory sink.
    The returned frame takes each user's LAST emission (the final
    running total) and cross-checks it against the batch aggregate —
    n_mismatched must be 0 and user counts equal."""
    import uuid

    from orderly_spark.streaming.pipeline import (
        run_to_memory,
        running_user_totals,
        stream_events,
    )

    e = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    tmp, src = _stage_drops(e, "state", dirname="in")
    stream = running_user_totals(stream_events(spark, src))
    name = "running_totals_" + uuid.uuid4().hex[:8]
    # update-mode per-user aggregation carries every user_id, the one
    # gate whose state WANTS width: 16 stores beat 8/4 (2.15 / 2.87 /
    # 2.86 s min-of-3)
    run_to_memory(stream, name, output_mode="update", state_partitions=16)
    from pyspark.sql import Window

    emitted = spark.table(name)
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    final = (
        emitted.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("user_id", "n_events", "total_micro")
    )
    # EXACT integer comparison: the state side accumulates
    # floor(value*1e6) micro-units, so the batch twin applies the
    # identical per-element transform and the totals are equal as
    # integers; no order-dependent double sums, and no float tolerance
    batch = (
        spark.read.parquet(src)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("b_n"),
            F.sum(
                F.floor(F.coalesce(F.col("value"), F.lit(0.0)) * F.lit(1e6)).cast("long")
            ).alias("b_micro"),
        )
    )
    joined = final.join(batch, "user_id", "full")
    # a user present on only ONE side is by definition a mismatch —
    # the comparison must not NULL out and count as matched (review
    # finding), hence the explicit isNull arms
    mismatch = (
        F.col("n_events").isNull()
        | F.col("b_n").isNull()
        | (F.col("n_events") != F.col("b_n"))
        | (F.col("total_micro") != F.col("b_micro"))
    )
    return _finish(
        joined.agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum(F.when(mismatch, 1).otherwise(0)).alias("n_mismatched"),
            F.sum("n_events").alias("total_events"),
        ),
        tmp,
        view=name,
    )


@query(
    "s_stream_static_enrich",
    oracle=f"""
    SELECT c.c_mktsegment AS segment,
           COUNT(*) AS n_events,
           {DSUM('e.value')} AS total_value
    FROM events e
    JOIN customer c ON c.c_custkey = e.user_id + 1
    GROUP BY c.c_mktsegment
    """,
    category="streaming",
    survey="streaming-static-join[abs],J-equi",
)
def s_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join — the third streaming join flavor
    (next to stream-stream and the batch twins): a live event stream
    joined against a STATIC customer dimension. Stream-static joins
    are STATELESS in Spark (each micro-batch hash/broadcast-joins the
    dimension; nothing buffers, no watermark needed on the join), which
    is why dimension enrichment is the cheapest streaming pattern and
    the first thing every production pipeline does before windowing.

    Executed as a REAL file-arrival stream drained with availableNow
    into a memory sink; the per-segment rollup then runs in batch over
    the sink table. Deterministic end state → full value oracle (the
    batch join+agg). At 100 TB the dimension side is broadcast when it
    fits, else a bucketed co-partitioned join; per-batch cost is
    O(batch), never O(history)."""
    import uuid

    from orderly_spark.streaming.pipeline import run_to_memory, stream_events

    e = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    tmp, src = _stage_drops(e, "static")

    dim = load(spark, sf_dir, "customer").select(
        (F.col("c_custkey") - 1).alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    enriched = stream_events(spark, src).join(F.broadcast(dim), "user_id")
    name = "stream_static_" + uuid.uuid4().hex[:8]
    run_to_memory(enriched, name)
    return _finish(
        spark.table(name)
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        ),
        tmp,
        view=name,
    )


@query(
    "s_stream_full_outer_attribution",
    oracle="""
    WITH c AS (SELECT * FROM events WHERE event_type = 'click'),
         p AS (SELECT * FROM events WHERE event_type = 'purchase'),
         wm AS (SELECT least((SELECT MAX(ts) FROM c), (SELECT MAX(ts) FROM p))
                       - INTERVAL 1 HOUR AS w)
    SELECT COALESCE(c.user_id, p.user_id) AS user_id,
           c.event_id AS click_id,
           p.event_id AS purchase_id,
           c.ts AS click_ts,
           p.ts AS purchase_ts,
           p.value AS purchase_value
    FROM c FULL JOIN p
      ON c.user_id = p.user_id
     AND c.ts <= p.ts
     AND p.ts <= c.ts + INTERVAL 30 MINUTE
    CROSS JOIN wm
    WHERE (c.event_id IS NOT NULL AND p.event_id IS NOT NULL)
       OR (p.event_id IS NULL AND c.ts + INTERVAL 30 MINUTE < wm.w)
       OR (c.event_id IS NULL AND p.ts < wm.w)
    """,
    category="streaming",
    survey="streaming-full-outer-join[abs],streaming-join[abs],J-outer",
)
def s_stream_full_outer_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER join — BOTH sides get watermark-expiry
    emission: matched click/purchase pairs emit eagerly; an unmatched
    click emits null-extended once the global watermark passes
    click_ts + horizon (no purchase can still match); an unmatched
    purchase emits null-extended once the watermark passes purchase_ts
    itself (the latest possibly-matching click has click_ts =
    purchase_ts, the asymmetric range condition's other edge). Rows on
    either side still inside the final frontier stay in state,
    unemitted — same completeness-up-to-the-frontier contract as the
    left-outer query, now on both inputs.

    The value oracle reproduces BOTH frontiers: the batch FULL join
    filtered to matched rows plus each side's unmatched rows strictly
    below its own expiry line — so the driver hash-checks the join,
    the two expiry rules, and the key coalescing across null-extended
    sides. Multi-batch is real (maxFilesPerTrigger=4 over 8 files);
    the emitted set depends only on the final watermark, not the
    batch decomposition."""
    import uuid

    from orderly_spark.streaming.pipeline import (
        run_to_memory,
        stream_events,
        stream_stream_attribution_join,
    )

    e = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    tmp, src = _stage_drops(e, "fouter")

    ev = stream_events(spark, src, max_files_per_trigger=4)
    joined = stream_stream_attribution_join(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
        horizon="30 minutes",
        watermark="1 hour",
        join_type="full_outer",
    )
    name = "fouter_attr_" + uuid.uuid4().hex[:8]
    # 4 state stores beat 8/16 (4.22 / 4.35 / 5.29 s min-of-2)
    run_to_memory(joined, name, state_partitions=4)
    return _finish(spark.table(name), tmp, view=name)
