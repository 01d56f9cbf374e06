"""Streaming layer tests: windowed aggregation equals its batch
counterpart; the custom stateful operator maintains correct per-key
state across the drained stream."""

from __future__ import annotations

from pyspark.sql import functions as F

from snackfs_spark.streaming.ingest import (
    hourly_rollup_stream,
    run_stream_to_df,
    session_window_stream,
)
from snackfs_spark.sources.tables import load_table
from tests.conftest import SF_SMALL


def test_hourly_rollup_stream_equals_batch(spark):
    got = run_stream_to_df(spark, hourly_rollup_stream(spark, SF_SMALL))
    ev = load_table(spark, SF_SMALL, "events")
    want = ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour_start"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_session_windows_complete(spark):
    got = run_stream_to_df(spark, session_window_stream(spark, SF_SMALL))
    ev = load_table(spark, SF_SMALL, "events")
    # every event lands in exactly one session window
    assert got.agg(F.sum("n_events")).collect()[0][0] == ev.count()


def test_stateful_user_monitor(spark):
    from snackfs_spark.streaming.stateful import user_monitor_stream

    got = run_stream_to_df(spark, user_monitor_stream(spark, SF_SMALL), mode="update")
    # update mode: keep the final row per user
    final = (
        got.groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"), F.max("max_value").alias("max_value"))
    )
    ev = load_table(spark, SF_SMALL, "events")
    want = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"), F.max("value").alias("max_value")
    )
    got_map = {r["user_id"]: (r["n_events"], r["max_value"]) for r in final.collect()}
    want_map = {r["user_id"]: (r["n_events"], r["max_value"]) for r in want.collect()}
    assert got_map == want_map


def test_stream_stream_join_equals_batch(spark):
    from snackfs_spark.streaming.ingest import purchase_error_join_stream

    got = run_stream_to_df(
        spark, purchase_error_join_stream(spark, SF_SMALL), mode="append"
    )
    ev = load_table(spark, SF_SMALL, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    er = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        F.col("user_id").alias("e_user"),
        F.col("ts").alias("e_ts"),
        F.col("value").alias("error_value"),
    )
    want = p.join(
        er,
        (F.col("p_user") == F.col("e_user"))
        & (F.col("e_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("e_ts") <= F.col("p_ts")),
    ).select("purchase_id", "p_user", "p_ts", "error_id", "e_ts", "error_value")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_incremental_microbatches_converge_to_batch(spark, monkeypatch):
    """True incremental execution: stream the multi-file ingest layout
    one file per trigger, so the windowed aggregation is computed across
    SEVERAL micro-batches with state carried between them — and the
    drained result must still equal the batch plan."""
    import glob

    from snackfs_spark.sources import tables
    from tests.conftest import SF_ORACLE

    with monkeypatch.context() as m:
        m.setattr(tables, "SPLIT_BYTES", 64 * 1024)
        root = tables.build_ingest_cache(spark, SF_ORACLE)
    # the default SPLIT_BYTES is back: the batch side reads the raw file
    ev_dir = f"{root}/events.parquet"
    n_files = len(glob.glob(f"{ev_dir}/part-*"))
    assert n_files > 1, "need multiple files for multiple micro-batches"
    schema = spark.read.parquet(ev_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(ev_dir)
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("win.start").alias("hour_start"), "event_type", "n_events")
    )
    got = run_stream_to_df(spark, stream)
    ev = load_table(spark, SF_ORACLE, "events")
    want = ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour_start"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n_events"))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_multibatch_incremental_rollup_equals_batch(spark, tmp_path):
    """True incrementality: the same windowed aggregation drained over
    MANY micro-batches (events split into 8 files, maxFilesPerTrigger=1,
    arriving in event-time order) must equal the batch plan. Exercises
    state merge across batches and watermark advancement — properties a
    single-file drain (one micro-batch) never touches."""
    import uuid

    ev = load_table(spark, SF_SMALL, "events")
    src = str(tmp_path / "events_batches")
    # event-time-ordered 8-way split: each file is one contiguous time
    # range, so batch k+1's data is "later" than batch k's — the
    # realistic landing pattern a watermark advances over.
    ev.withColumn(
        "bucket", F.ntile(8).over(__import__("pyspark.sql.window", fromlist=["Window"]).Window.orderBy("ts"))
    ).write.partitionBy("bucket").mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src)
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(F.col("win.start").alias("hour_start"), "event_type", "n_events", "total_value")
    )
    name = f"mb_{uuid.uuid4().hex[:8]}"
    q = stream.writeStream.outputMode("complete").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
        got = spark.table(name)
        want = ev.groupBy(
            F.date_trunc("hour", "ts").alias("hour_start"), "event_type"
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
        assert q.lastProgress is not None and q.lastProgress["batchId"] >= 7, (
            "expected >= 8 micro-batches (one per file)"
        )
    finally:
        q.stop()


def test_multibatch_append_drops_late_rows_after_finalize(spark, tmp_path):
    """Watermark semantics under multi-batch arrival, pinned exactly as
    Spark implements them: late-data dropping is tied to state EVICTION.
    A straggler arriving while its window's state is still live is
    merged (Spark's guarantee is one-directional — in-watermark data is
    definitely aggregated; too-late data is dropped best-effort). Once
    the watermark has passed the window end and a batch has finalized
    (emitted + evicted) it, a straggler for that window must be DROPPED —
    append mode can never emit the same window twice. Three event-time-
    ordered micro-batches (file mtimes force the source order):
      b0 advances the watermark past the 00:00 window,
      b1 triggers finalization of that window (n must be 1),
      b2 is a post-finalization straggler — dropped, not re-emitted."""
    import glob
    import os
    import time
    import uuid
    from datetime import datetime

    schema = "ts timestamp, k string, v long"
    batches = [
        [(datetime(2024, 1, 1, 0, 10), "a", 1), (datetime(2024, 1, 1, 12, 0), "a", 1)],
        [(datetime(2024, 1, 1, 13, 0), "a", 1)],
        [(datetime(2024, 1, 1, 0, 20), "a", 1)],  # straggler
    ]
    src = str(tmp_path / "late_batches")
    now = time.time()
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/b{i}")
        for f in glob.glob(f"{src}/b{i}/*.parquet"):
            os.utime(f, (now - 100 + i * 10, now - 100 + i * 10))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("win"), "k")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("win_start"), "k", "n")
    )
    name = f"late_{uuid.uuid4().hex[:8]}"
    q = stream.writeStream.outputMode("append").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
        rows = spark.table(name).collect()
    finally:
        q.stop()
    got = {(r["win_start"], r["k"]): r["n"] for r in rows}
    # finalized once with only the on-time row; the straggler neither
    # re-emitted the window nor bumped its count
    assert got.get((datetime(2024, 1, 1, 0, 0), "a")) == 1, rows
    assert len([k for k in got if k[0] == datetime(2024, 1, 1, 0, 0)]) == 1, rows


def test_checkpoint_restart_resumes_state_exactly_once(spark, tmp_path):
    """Fault-tolerance contract: a stateful streaming aggregation
    stopped and RESTARTED from its checkpoint must (a) not reprocess
    batches it already committed — the second run's sink receives no
    duplicate contribution — and (b) resume its state store, so data
    arriving after the restart merges into the same windows. This is
    the exactly-once recovery story a 100 TB ingest pipeline rests on;
    a single-process drain never exercises it."""
    import glob
    import os
    import time
    import uuid
    from datetime import datetime

    schema = "ts timestamp, k string, v long"
    src = str(tmp_path / "ckpt_src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "ckpt_out")
    now = time.time()

    def write_batch(i, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/b{i}")
        for f in glob.glob(f"{src}/b{i}/*.parquet"):
            os.utime(f, (now - 100 + i * 10, now - 100 + i * 10))

    def run_until_drained():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(src)
            .withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("win"), "k")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("total"))
            .select(F.col("win.start").alias("win_start"), "k", "n", "total")
        )
        q = (
            stream.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    # run 1: two batches land, the 00:00 window stays OPEN (watermark
    # has not passed it when the run stops)
    write_batch(0, [(datetime(2024, 1, 1, 0, 10), "a", 1)])
    write_batch(1, [(datetime(2024, 1, 1, 0, 40), "a", 2)])
    run_until_drained()

    # run 2 (restart from checkpoint): one more on-time row for the SAME
    # window (state must have survived), then time advances far enough
    # to finalize it
    write_batch(2, [(datetime(2024, 1, 1, 0, 50), "a", 4)])
    write_batch(3, [(datetime(2024, 1, 1, 12, 0), "a", 8)])
    run_until_drained()

    got = {
        (r["win_start"], r["k"]): (r["n"], r["total"])
        for r in spark.read.parquet(out).collect()
    }
    # exactly one finalized row for the 00:00 window, merging rows from
    # BOTH runs exactly once: n=3, total=1+2+4
    assert got.get((datetime(2024, 1, 1, 0, 0), "a")) == (3, 7), got


def test_stateful_anomaly_monitor_equals_batch(spark, tmp_path):
    """The custom stateful anomaly monitor (applyInPandasWithState,
    per-type trailing-24-hour state) drained over event-time-ordered
    micro-batches must flag EXACTLY the rows the batch detector
    (events_rate_anomaly) flags — except each type's final hour, which
    never closes in the stream (no later event arrives to close it).
    This pins that windowed state carried across micro-batch boundaries
    reproduces the batch ROWS-window semantics."""
    from datetime import timezone

    from pyspark.sql.window import Window as W

    from snackfs_spark.registry import load_all
    from snackfs_spark.streaming.stateful import ANOM_OUTPUT_SCHEMA, _anomaly_monitor
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = load_table(spark, SF_SMALL, "events")
    src = str(tmp_path / "anom_batches")
    ev.withColumn(
        "bucket", F.ntile(6).over(W.orderBy("ts"))
    ).write.partitionBy("bucket").mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src)
        .select("event_type", "ts")
        .groupBy("event_type")
        .applyInPandasWithState(
            _anomaly_monitor,
            outputStructType=ANOM_OUTPUT_SCHEMA,
            stateStructType="hist_counts array<bigint>, open_hour bigint, open_n bigint",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    got_df = run_stream_to_df(spark, stream, mode="append")
    got = {
        (r["event_type"], r["hour_epoch"], r["n"], r["trail_sum"], r["trail_n"])
        for r in got_df.collect()
    }

    batch = load_all()["events_rate_anomaly"].fn(spark, SF_SMALL).collect()
    # drop each type's final hour (the stream's still-open hour)
    last_hour = {
        r["event_type"]: r["mx"]
        for r in ev.groupBy("event_type")
        .agg(F.max(F.date_trunc("hour", "ts")).alias("mx"))
        .collect()
    }
    want = set()
    for r in batch:
        hs = r["hour_start"]  # "YYYY-MM-DD HH:MM:SS.ffffff"
        from datetime import datetime

        dt = datetime.strptime(hs, "%Y-%m-%d %H:%M:%S.%f")
        if dt == last_hour[r["event_type"]]:
            continue
        epoch = int(dt.replace(tzinfo=timezone.utc).timestamp())
        want.add((r["event_type"], epoch, r["n"], r["trail_sum"], r["trail_n"]))
    assert got == want, (sorted(got)[:5], sorted(want)[:5])
    assert want, "fixture produced no anomalies to compare"


def test_event_loaders_adapt_to_both_ts_encodings(spark, tmp_path):
    """Round 4's only red driver row came from the fixture regenerating
    events.ts as timestamp[us] where the stream reader had hardcoded the
    old nanos-as-long encoding. Pin the fix: batch AND stream loaders
    must produce identical rows from BOTH physical encodings of the
    same data."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from snackfs_spark.sources.tables import load_table
    from snackfs_spark.streaming.ingest import stream_events

    src = load_table(spark, SF_SMALL, "events").orderBy("event_id").limit(200)
    rows = src.collect()

    base = {
        "event_id": [r["event_id"] for r in rows],
        "user_id": [r["user_id"] for r in rows],
        "event_type": [r["event_type"] for r in rows],
        "value": [r["value"] for r in rows],
        "props": [r["props"] for r in rows],
    }
    micros = [int(r["ts"].timestamp() * 1_000_000) for r in rows]

    enc_us = str(tmp_path / "enc_us")
    enc_ns = str(tmp_path / "enc_ns")
    for out, ts_arr in (
        (enc_us, pa.array(micros, type=pa.timestamp("us"))),
        (enc_ns, pa.array([m * 1000 for m in micros], type=pa.timestamp("ns"))),
    ):
        t = pa.table({**base, "ts": ts_arr})
        import os

        os.makedirs(out, exist_ok=True)
        pq.write_table(t, f"{out}/events.parquet")

    def batch_rows(d):
        return sorted(
            (r["event_id"], r["ts"]) for r in load_table(spark, d, "events").collect()
        )

    def stream_rows(d):
        got = run_stream_to_df(
            spark, stream_events(spark, d).select("event_id", "ts"), mode="append"
        )
        return sorted((r["event_id"], r["ts"]) for r in got.collect())

    b_us, b_ns = batch_rows(enc_us), batch_rows(enc_ns)
    s_us, s_ns = stream_rows(enc_us), stream_rows(enc_ns)
    assert b_us == b_ns, "batch loader diverges between encodings"
    assert s_us == s_ns, "stream loader diverges between encodings"
    assert b_us == s_us, "batch and stream loaders disagree"
    assert len(b_us) == 200


def test_stateful_rate_limiter_equals_batch_twin(spark):
    """The live per-user throttler (applyInPandasWithState; per-second
    state trimmed to the trailing hour) must agree with the batch twin
    of its policy — RANGE over the previous 3600 CLOSED seconds plus
    the within-second event_id rank — for every user: cumulative event,
    throttle, and worst-window counts."""
    from pyspark.sql import Window

    from snackfs_spark.streaming.stateful import RL_CAP, rate_limiter_stream

    got = run_stream_to_df(spark, rate_limiter_stream(spark, SF_SMALL), mode="update")
    final = got.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max("n_throttled").alias("n_throttled"),
        F.max("max_window").alias("max_window"),
    )
    ev = load_table(spark, SF_SMALL, "events").select(
        "user_id", "event_id", F.expr("unix_micros(ts) div 1000000").alias("sec")
    )
    w_prev = (
        Window.partitionBy("user_id").orderBy("sec").rangeBetween(-3600, -1)
    )
    w_rank = Window.partitionBy("user_id", "sec").orderBy("event_id")
    scored = ev.select(
        "user_id",
        (
            F.coalesce(F.count(F.lit(1)).over(w_prev), F.lit(0))
            + F.row_number().over(w_rank)
        ).alias("w"),
    )
    want = scored.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum((F.col("w") > RL_CAP).cast("int")).cast("long").alias("n_throttled"),
        F.max("w").cast("long").alias("max_window"),
    )
    got_map = {
        r["user_id"]: (r["n_events"], r["n_throttled"], r["max_window"])
        for r in final.collect()
    }
    want_map = {
        r["user_id"]: (r["n_events"], r["n_throttled"], r["max_window"])
        for r in want.collect()
    }
    assert got_map == want_map


def test_transform_with_state_probe():
    """DESIGN.md r5/r7: transformWithState is blocked by the runtime's
    missing protobuf, not by design. This probe makes a runtime upgrade
    visible: the day `google.protobuf` imports, the skip flips to a
    loud failure directing the port (a mechanical processor-class
    rewrite of streaming/stateful.py's monitors)."""
    import importlib.util

    import pytest

    if importlib.util.find_spec("google") is None:
        pytest.skip(
            "runtime still lacks google.protobuf — applyInPandasWithState "
            "remains the stateful surface (DESIGN.md)"
        )
    pytest.fail(
        "google.protobuf is now importable: port the per-user monitor to "
        "transformWithStateInPandas (see DESIGN.md 'transformWithState "
        "evaluated, blocked by runtime')"
    )


def test_windowed_peak_chained_stateful(spark):
    """The chained-agg stream really contains TWO stateful window
    aggregates (Spark 4 multi-stateful-operator support), and the
    drained append-mode result equals the batch twin cut at the final
    watermark."""
    from pyspark.sql import functions as F

    from snackfs_spark.registry import load_all
    from snackfs_spark.sources.tables import load_table
    from snackfs_spark.streaming.ingest import windowed_peak_stream
    from tests.conftest import SF_ORACLE

    sdf = windowed_peak_stream(spark, SF_ORACLE)
    plan = sdf._jdf.queryExecution().analyzed().treeString()
    assert plan.lower().count("aggregate [") >= 2, plan
    assert "window_time" in plan.lower() or "windowtime" in plan.lower(), plan
    out = load_all()["streaming_windowed_peak"].fn(spark, SF_ORACLE)
    b = load_table(spark, SF_ORACLE, "events")
    mx = b.agg(F.max("ts").alias("m")).collect()[0]["m"]
    twin = (
        b.groupBy(F.window("ts", "10 minutes").alias("w10"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy(F.window(F.window_time("w10"), "1 hour").alias("wh"), "event_type")
        .agg(F.max("n").alias("peak_10min"), F.count(F.lit(1)).alias("n_windows"))
        .filter(F.col("wh.end") <= F.lit(mx) - F.expr("interval 2 hours"))
    )
    assert out.count() == twin.count() > 0


def test_state_partition_policy(spark):
    """Optimization r11: stateful drains pin the state-store shard count
    (bounded-state ops: small constant; keyed-state ops: derived from
    source bytes) and restore the session's shuffle partitions + the
    checkpoint-checksum conf afterwards, so batch plans are untouched."""
    import os

    from snackfs_spark.streaming.ingest import (
        BOUNDED_STATE_SHARDS,
        hourly_rollup_stream,
        keyed_state_partitions,
    )

    # keyed policy: ceil(bytes / 32 MiB), floor 2
    sz = os.path.getsize(os.path.join(SF_SMALL, "events.parquet"))
    expect = max(2, -(-sz // (32 * 1024 * 1024)))
    assert keyed_state_partitions(SF_SMALL, "events.parquet") == expect

    # the drain pins shuffle partitions for the stream, then restores
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    ck = "spark.sql.streaming.checkpoint.fileChecksum.enabled"
    prev_ck = spark.conf.get(ck, "true")
    got = run_stream_to_df(
        spark,
        hourly_rollup_stream(spark, SF_SMALL),
        state_partitions=3,
    )
    assert got.count() > 0
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    assert spark.conf.get(ck, "true") == prev_ck
    assert BOUNDED_STATE_SHARDS >= 1
