"""Structured Streaming variants of the ingestion/analytics paths
(SURVEY.md §2.9 / §A.3): the reference's only streaming-ish surfaces are
the sequential stream classes and tail-follow; here the same semantics
run as incremental plans — readStream → windowed agg → sink — with
watermarks bounding state.

For tests and the driver's batch-style checks, `run_stream_to_df` drains
a parquet-backed stream synchronously through a memory sink: the result
equals the batch plan's output, which is exactly Structured Streaming's
contract (incremental execution of the same Catalyst plan).
"""

from __future__ import annotations

import math
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from snackfs_spark.functions import ts_str
from snackfs_spark.registry import register
from snackfs_spark.sources.tables import load_table, read_events

# ---------------------------------------------------------------------------
# State-store shard policy (optimization r11; guide §2 "make partitioning
# scale-adaptive"). A stateful streaming operator creates one state store
# per shuffle partition, and EVERY shard pays a per-micro-batch commit
# (delta file + checksum + rename fsyncs) whether or not it holds rows.
# Measured at sf0.1: the chained windowed_peak agg spent 4.1 s at 32
# shards vs 1.4 s at 4 — the state itself is a few hundred rows. Policy:
#   - BOUNDED-state ops (watermark-bounded windows × event types, fed by
#     map-side partial aggregation): state cardinality is O(open windows
#     × types) at ANY corpus scale and the shuffle moves only partial
#     aggregates, so a small fixed shard count is right everywhere.
#   - KEYED-state ops (per-key CDC rows, dedup hash sets, stream-stream
#     join buffers): state grows with the input, so shards derive from
#     the source size (~32 MB of source per shard) — 2 at sf0.1,
#     thousands at 100 TB — instead of inheriting the batch session's
#     shuffle width.
# ---------------------------------------------------------------------------
BOUNDED_STATE_SHARDS = 8
_KEYED_STATE_BYTES_PER_SHARD = 32 * 1024 * 1024


def keyed_state_partitions(sf_dir: str, *table_files: str) -> int:
    """Shard count for key-proportional streaming state: one shard per
    ~32 MB of source data, clamped to [2, 10k]."""
    total = 0
    for t in table_files or ("events.parquet",):
        try:
            total += os.path.getsize(os.path.join(sf_dir, t))
        except OSError:
            total += _KEYED_STATE_BYTES_PER_SHARD
    return max(2, min(10_000, math.ceil(total / _KEYED_STATE_BYTES_PER_SHARD)))


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events table. Streams require an explicit
    schema, so a cheap batch footer probe decides how ``ts`` is encoded
    on disk — TIMESTAMP(NANOS) surfaced as bigint (older fixtures) or a
    real micros timestamp — and tables.read_events applies the batch
    loader's normalization, so plans are interchangeable and both
    encodings hash to identical output."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    def read() -> DataFrame:
        probe = (
            spark.read.option("pathGlobFilter", "events.parquet").parquet(sf_dir)
        )
        # FileStreamSource wants a directory; glob-filter down to the
        # events file (in production this is the events/ landing
        # directory).
        return (
            spark.readStream.schema(
                f"event_id bigint, ts {dict(probe.dtypes)['ts']}, user_id bigint, "
                "event_type string, value double, props string"
            )
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )

    return read_events(spark, read)


def hourly_rollup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windowed aggregation with a 2-hour watermark: the
    incremental form of events_hourly_rollup. At scale, state size =
    open windows × event types, bounded by the watermark."""
    ev = stream_events(spark, sf_dir).withWatermark("ts", "2 hours")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("win.start").alias("hour_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def session_window_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows with a 30-minute gap — the streaming
    counterpart of operators/windows.py::sessionize_events."""
    ev = stream_events(spark, sf_dir).withWatermark("ts", "2 hours")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("win.start").alias("session_start"), "n_events")
    )


def run_stream_to_df(
    spark: SparkSession,
    streaming_df: DataFrame,
    mode: str = "complete",
    state_partitions: int | None = None,
) -> DataFrame:
    """Drain a streaming plan synchronously through a memory sink and
    return the materialized result as a batch DataFrame.

    ``state_partitions`` pins ``spark.sql.shuffle.partitions`` for the
    lifetime of the stream (the value is captured into the checkpoint at
    start and fixes the state-store shard count); the session value is
    restored afterwards so batch plans are untouched. Shard count never
    changes WHAT a stateful op computes — aggregation is exact and
    keyed state is partition-local — only how many per-batch store
    commits are paid."""
    name = f"snackstream_{uuid.uuid4().hex[:12]}"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    _CK = "spark.sql.streaming.checkpoint.fileChecksum.enabled"
    prev_ck = spark.conf.get(_CK, "true")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    # This drain runs on an ephemeral temp checkpoint that is discarded
    # the moment the stream stops; per-file checksums exist to catch
    # storage corruption in long-lived checkpoints and are pure fsync
    # overhead here (~20% of windowed_peak's wall time at sf0.1).
    # Durable streams (stream_ingest_documents) keep the default.
    spark.conf.set(_CK, "false")
    try:
        q = (
            streaming_df.writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        spark.conf.set(_CK, prev_ck)
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return spark.table(name)


@register(
    "streaming_hourly_rollup",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S.%f') AS hour_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY date_trunc('hour', ts), event_type
    """,
)
def streaming_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The windowed streaming aggregation, drained to completion — output
    must equal the batch rollup (and hash-match the same oracle)."""
    out = run_stream_to_df(
        spark,
        hourly_rollup_stream(spark, sf_dir),
        state_partitions=BOUNDED_STATE_SHARDS,
    )
    return out.withColumn("hour_start", ts_str("hour_start"))


@register(
    "streaming_session_windows",
    oracle="""
    WITH m AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS sid
      FROM m
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
           COUNT(*) AS n_events
    FROM s GROUP BY user_id, sid
    """,
)
def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-window streaming aggregation (gap-based, stateful).

    Oracled (was rows-only through r2): for a fully drained stream the
    merged session set is deterministic — a session's start is the min
    event time in it, and a new session opens exactly when the
    inter-event gap is >= the 30-minute gap duration (session windows
    are half-open [ts, ts+gap), so an event landing exactly at the
    previous session's end does NOT merge). The oracle is the batch
    lag/running-sum sessionization under that same >= convention —
    which also pins the half-open boundary semantics themselves."""
    out = run_stream_to_df(
        spark,
        session_window_stream(spark, sf_dir),
        state_partitions=keyed_state_partitions(sf_dir, "events.parquet"),
    )
    return out.withColumn("session_start", ts_str("session_start"))


def purchase_error_join_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: each purchase joined to the same user's
    error events from the preceding hour. Both sides carry watermarks
    and the join has an explicit event-time range, so state eviction is
    bounded on both sides — the canonical Structured Streaming
    stream-stream join shape (late rows beyond watermark + range are
    dropped from state, not buffered forever)."""
    ev = stream_events(spark, sf_dir)
    purch = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    err = (
        ev.filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("e_ts"),
            F.col("value").alias("error_value"),
        )
        .withWatermark("e_ts", "2 hours")
    )
    return purch.join(
        err,
        (F.col("p_user") == F.col("e_user"))
        & (F.col("e_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("e_ts") <= F.col("p_ts")),
    ).select("purchase_id", "p_user", "p_ts", "error_id", "e_ts", "error_value")


@register(
    "streaming_purchase_error_join",
    oracle="""
    SELECT p.event_id AS purchase_id,
           p.user_id AS p_user,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS p_ts,
           e.event_id AS error_id,
           strftime(e.ts, '%Y-%m-%d %H:%M:%S.%f') AS e_ts,
           e.value AS error_value
    FROM events p JOIN events e
      ON p.event_type = 'purchase' AND e.event_type = 'error'
     AND p.user_id = e.user_id
     AND e.ts >= p.ts - INTERVAL 1 HOUR AND e.ts <= p.ts
    """,
)
def streaming_purchase_error_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stream-stream join, drained to completion in append mode —
    must equal the equivalent batch interval join (the oracle)."""
    out = run_stream_to_df(
        spark,
        purchase_error_join_stream(spark, sf_dir),
        mode="append",
        state_partitions=keyed_state_partitions(sf_dir, "events.parquet"),
    )
    return out.withColumn("p_ts", ts_str("p_ts")).withColumn("e_ts", ts_str("e_ts"))


def stream_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the documents table (landing-directory shape)."""
    return (
        spark.readStream.schema(
            "doc_id bigint, source string, lang string, n_chars bigint, text string"
        )
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


@register(
    "streaming_dedup_ingest",
    oracle="SELECT DISTINCT md5(text) AS content_hash FROM documents",
)
def streaming_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-flight exact dedup at ingest time: documents stream in, each
    batch's content hashes are checked against the accumulated state and
    only first-seen content passes — the streaming form of
    dedup_incremental (the daily-ingest pipeline collapsed to per-batch
    latency). Output is the distinct hash set (the kept-row choice
    within a batch is engine-internal, the key set is deterministic and
    equals the batch DISTINCT — the oracle).

    State is keyed by content hash. At 100 TB the state store is bounded
    with `dropDuplicatesWithinWatermark` over the ingest timestamp
    (documents here carry no event time, so the demo uses the unbounded
    form); the state backend shards by key hash, so dedup throughput
    scales with executors."""
    docs = stream_documents(spark, sf_dir)
    hashes = docs.select(F.md5("text").alias("content_hash")).dropDuplicates(
        ["content_hash"]
    )
    return run_stream_to_df(
        spark,
        hashes,
        mode="append",
        state_partitions=keyed_state_partitions(sf_dir, "documents.parquet"),
    )


def stream_ingest_documents(
    spark: SparkSession, src_dir: str, out_dir: str, glob: str = "*.parquet"
) -> None:
    """Streaming ingest of document batches into the filesystem tables
    via foreachBatch: each micro-batch is chunked and appended with the
    same writer used for batch ingest — exactly-once per epoch because
    the chunker is deterministic and the sink is idempotent per batch
    subdirectory."""
    from snackfs_spark.sources.writer import chunk_text, files_metadata

    batch_probe = spark.read.option("pathGlobFilter", glob).parquet(src_dir)
    schema = batch_probe.schema

    def _sink(batch_df, epoch_id: int) -> None:
        chunk_text(batch_df).write.mode("overwrite").parquet(
            f"{out_dir}/content/epoch={epoch_id}"
        )
        files_metadata(batch_df).write.mode("overwrite").parquet(
            f"{out_dir}/files/epoch={epoch_id}"
        )

    q = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", glob)
        .parquet(src_dir)
        .writeStream.foreachBatch(_sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{out_dir}/_checkpoint")
        .start()
    )
    q.awaitTermination()


@register(
    "streaming_dedup_bounded",
    oracle="SELECT DISTINCT md5(text) AS content_hash FROM documents",
)
def streaming_dedup_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BOUNDED-state form of streaming_dedup_ingest: an ingest
    event-time column + watermark lets `dropDuplicatesWithinWatermark`
    evict dedup state as time advances — the 100 TB shape, where the
    state store holds only the watermark horizon instead of every hash
    ever seen (SCALE.md Streaming). Documents carry no event time, so
    ingest time is derived deterministically from doc_id; the whole
    fixture lands inside one watermark horizon, which is exactly what
    makes the output equal the exact DISTINCT (the oracle). Duplicates
    separated by more than the horizon would intentionally re-emit —
    that's the bounded-state contract, traded for O(horizon) state."""
    docs = stream_documents(spark, sf_dir)
    hashed = docs.select(
        F.md5("text").alias("content_hash"),
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_dt_interval(secs=F.col("doc_id").cast("double"))
        ).alias("ingest_ts"),
    )
    deduped = hashed.withWatermark("ingest_ts", "30 days").dropDuplicatesWithinWatermark(
        ["content_hash"]
    )
    return run_stream_to_df(
        spark,
        deduped.select("content_hash"),
        mode="append",
        state_partitions=keyed_state_partitions(sf_dir, "documents.parquet"),
    )


TAIL_PATH = "/data/src2/doc_42.txt"


def _tail_oracle() -> str:
    from snackfs_spark.sources.fsmodel import fs_sql

    return fs_sql(
        "SELECT path, sub_offset, length, payload FROM content "
        f"WHERE path = '{TAIL_PATH}'",
        "content",
    )


@register("streaming_tail_follow", oracle=_tail_oracle())
def streaming_tail_follow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tail-follow of one store path through the connector's streaming
    source (SnackStoreTailReader) drained to completion: the reference's
    `snackfs -tail -f` / fs/stream surface as a Structured Streaming
    query. The drained rows must equal the path's batch content chunks
    (the oracle) — the stream is just the incremental delivery of the
    same committed sub-blocks, which is exactly what the
    contiguous-consumed-offset design guarantees (DESIGN.md 'Streaming
    tail-follow offsets' — the offset is the consumed END position, and
    the reader only advances through gap-free committed runs, so no
    later-committed earlier chunk can be skipped)."""
    from snackfs_spark.sources.snackstore import store_for

    root = store_for(spark, sf_dir)
    stream = (
        spark.readStream.format("snackstore")
        .option("store_dir", root)
        .option("path", TAIL_PATH)
        .load()
    )
    return run_stream_to_df(spark, stream, mode="append")


def enrichment_join_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC enrichment join: the streaming fact joins a batch
    dimension table — the canonical streaming lookup pattern (Spark
    re-plans the static side per micro-batch; a small dim stays a
    broadcast hash join inside every batch, so enrichment adds zero
    shuffles to the stream). Customers here, a feature store or dim
    snapshot at scale; the watermarked tumbling aggregate keeps state
    bounded exactly as the plain rollup does."""
    ev = stream_events(spark, sf_dir).withWatermark("ts", "2 hours")
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_mktsegment")
    )
    return (
        ev.join(F.broadcast(dim), ev["user_id"] == dim["c_custkey"])
        .groupBy(
            F.window("ts", "1 day").alias("win"),
            "c_mktsegment",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("win.start").alias("day_start"),
            "c_mktsegment",
            "n_events",
            "total_value",
        )
    )


@register(
    "streaming_enrichment_join",
    oracle="""
    SELECT strftime(date_trunc('day', e.ts), '%Y-%m-%d %H:%M:%S.%f') AS day_start,
           c.c_mktsegment,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY date_trunc('day', e.ts), c.c_mktsegment
    """,
)
def streaming_enrichment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stream-static enrichment join drained to completion — must
    equal the equivalent batch join+rollup (the oracle)."""
    out = run_stream_to_df(
        spark,
        enrichment_join_stream(spark, sf_dir),
        state_partitions=BOUNDED_STATE_SHARDS,
    )
    return out.withColumn("day_start", ts_str("day_start"))


def windowed_peak_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED event-time window aggregations — Spark 4's multiple-
    stateful-operator support: 10-minute tumbling counts per type, then
    an hourly roll-up of those windows (peak 10-min count + windows
    observed), the second agg keyed on window_time() of the first. Both
    operators share one 2-hour watermark; append mode is REQUIRED for
    chained stateful ops, so only watermark-finalized hours emit."""
    ev = stream_events(spark, sf_dir).withWatermark("ts", "2 hours")
    lvl1 = ev.groupBy(F.window("ts", "10 minutes").alias("w10"), "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        lvl1.groupBy(
            F.window(F.window_time("w10"), "1 hour").alias("wh"), "event_type"
        )
        .agg(
            F.max("n").cast("long").alias("peak_10min"),
            F.count(F.lit(1)).cast("long").alias("n_windows"),
        )
        .select(
            F.col("wh.start").alias("hour_start"),
            "event_type",
            "peak_10min",
            "n_windows",
        )
    )


@register(
    "streaming_windowed_peak",
    oracle="""
    WITH mx AS (SELECT MAX(ts) AS m FROM events),
    w10 AS (
      SELECT time_bucket(INTERVAL 10 MINUTE, ts) AS t10, event_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    wh AS (
      SELECT time_bucket(INTERVAL 1 HOUR, t10) AS th, event_type,
             CAST(MAX(n) AS BIGINT) AS peak_10min,
             CAST(COUNT(*) AS BIGINT) AS n_windows
      FROM w10 GROUP BY 1, 2
    )
    SELECT strftime(th, '%Y-%m-%d %H:%M:%S.%f') AS hour_start,
           event_type, peak_10min, n_windows
    FROM wh CROSS JOIN mx
    WHERE th + INTERVAL 1 HOUR <= m - INTERVAL 2 HOUR
    """,
)
def streaming_windowed_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained windowed aggregation (10-min counts -> hourly peak), the
    multi-stateful-operator streaming shape: per finalized hour and
    event type, the peak 10-minute event count and the number of 10-min
    windows observed.

    Oracled: in append mode a drained stream emits EXACTLY the hour
    windows whose end <= the final watermark (max event time - 2h) —
    the oracle is the batch two-level window twin under that cutoff,
    which pins both the chained-agg semantics AND the append-mode
    finalization rule. State at scale: open 10-min windows x types +
    open hours x types, both watermark-bounded."""
    out = run_stream_to_df(
        spark,
        windowed_peak_stream(spark, sf_dir),
        mode="append",
        state_partitions=BOUNDED_STATE_SHARDS,
    )
    return out.withColumn("hour_start", ts_str("hour_start"))


def cdc_upsert_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed last-write-wins state over the event stream: per user the
    latest event (by event time, event_id tie-break), the change count,
    and a tombstone flag — the streaming materialization of a CDC
    upsert feed (SCD1 table maintenance). State = ONE row per live key,
    updated map-side per micro-batch; the total order (ts, event_id) is
    what makes replayed/duplicated deliveries converge to the same
    table (the exactly-once-by-idempotence argument the connector's
    tail-follow replay relies on)."""
    ev = stream_events(spark, sf_dir)
    last = F.max_by(
        F.struct("event_type", "value", "ts"), F.struct("ts", "event_id")
    ).alias("last")
    return (
        ev.groupBy("user_id")
        .agg(last, F.count(F.lit(1)).alias("n_changes"))
        .select(
            "user_id",
            F.col("last.event_type").alias("last_event_type"),
            F.col("last.value").alias("last_value"),
            F.col("last.ts").alias("last_ts"),
            "n_changes",
            (F.col("last.event_type") == "error").cast("long").alias("tombstoned"),
        )
    )


@register(
    "streaming_cdc_upsert",
    oracle="""
    WITH r AS (
      SELECT user_id, event_type, value, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS n
      FROM events
    )
    SELECT user_id,
           event_type AS last_event_type,
           value AS last_value,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS last_ts,
           CAST(n AS BIGINT) AS n_changes,
           CAST(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS BIGINT)
             AS tombstoned
    FROM r WHERE rn = 1
    """,
)
def streaming_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC upsert state table, drained to completion: one row per
    user carrying the last-write-wins column values, the applied change
    count, and the tombstone flag — must equal the batch arg-max (the
    same Catalyst plan run incrementally, Structured Streaming's
    contract).

    Scale: streaming state is one row per key (the upsert table
    itself); each micro-batch combines map-side into the state store,
    so throughput is bounded by keys-touched-per-batch, not history.
    The complete-mode memory sink is the test harness; a production
    sink is foreachBatch MERGE into the serving table (the
    stream_ingest_documents pattern)."""
    out = run_stream_to_df(
        spark,
        cdc_upsert_stream(spark, sf_dir),
        state_partitions=keyed_state_partitions(sf_dir, "events.parquet"),
    )
    return out.withColumn("last_ts", ts_str("last_ts")).withColumn(
        "n_changes", F.col("n_changes").cast("long")
    )
