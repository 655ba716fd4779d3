"""Structured Streaming tests: the readStream variants of the window
operators, run hermetically with availableNow triggers + memory sink."""

from __future__ import annotations

import shutil

import pytest

from angelo_bravo_etl_task_spark.sources.readers import load_table
from angelo_bravo_etl_task_spark.streaming.windows import (
    session_window_agg,
    stream_events,
    streaming_dedup,
    tumbling_window_agg,
)


@pytest.fixture(scope="module")
def events_stream_dir(spark, sf_dir, tmp_path_factory):
    # re-write events as micro-timestamped parquet the stream reader can use
    out = str(tmp_path_factory.mktemp("events_stream"))
    shutil.rmtree(out, ignore_errors=True)
    load_table(spark, sf_dir, "events").write.mode("overwrite").parquet(out)
    return out


def _run_to_memory(df, name: str, output_mode: str):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_streaming_tumbling_matches_batch(spark, sf_dir, events_stream_dir):
    stream = stream_events(spark, events_stream_dir, watermark="1 minute")
    _run_to_memory(
        tumbling_window_agg(stream, "10 minutes"), "tumbling_sink", "append"
    )
    got = spark.sql(
        "SELECT window_start, event_type, n_events FROM tumbling_sink"
    ).collect()
    batch = tumbling_window_agg(
        load_table(spark, sf_dir, "events"), "10 minutes"
    ).collect()
    # watermark may hold back the final windows; everything emitted must
    # match the batch result exactly
    batch_map = {(r["window_start"], r["event_type"]): r["n_events"] for r in batch}
    assert len(got) > 0
    for r in got:
        assert batch_map[(r["window_start"], r["event_type"])] == r["n_events"]


def test_streaming_session_windows(spark, events_stream_dir):
    stream = stream_events(spark, events_stream_dir, watermark="1 minute")
    _run_to_memory(
        session_window_agg(stream, gap="30 minutes"), "session_sink", "append"
    )
    rows = spark.sql("SELECT * FROM session_sink").collect()
    assert len(rows) > 0
    assert all(r["n_events"] >= 1 for r in rows)


def test_streaming_sliding_windows(spark, sf_dir, events_stream_dir):
    from angelo_bravo_etl_task_spark.streaming.windows import sliding_window_agg

    stream = stream_events(spark, events_stream_dir, watermark="1 minute")
    _run_to_memory(
        sliding_window_agg(stream, "10 minutes", "5 minutes"), "sliding_sink", "append"
    )
    got = spark.sql("SELECT window_start, event_type, n_events FROM sliding_sink").collect()
    batch = sliding_window_agg(
        load_table(spark, sf_dir, "events"), "10 minutes", "5 minutes"
    ).collect()
    batch_map = {(r["window_start"], r["event_type"]): r["n_events"] for r in batch}
    assert len(got) > 0
    for r in got:
        assert batch_map[(r["window_start"], r["event_type"])] == r["n_events"]


def test_streaming_to_parquet_sink(spark, events_stream_dir, tmp_path):
    """Production sink shape: availableNow → parquet with checkpoint; the
    same writeStream works against object storage on a cluster."""
    out = str(tmp_path / "agg_out")
    ckpt = str(tmp_path / "ckpt")
    stream = stream_events(spark, events_stream_dir, watermark="1 minute")
    q = (
        tumbling_window_agg(stream, "10 minutes")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    back = spark.read.parquet(out)
    assert back.count() > 0
    assert set(back.columns) == {
        "window_start",
        "window_end",
        "event_type",
        "n_events",
        "sum_value",
    }


def test_streaming_dedup(spark, events_stream_dir):
    stream = stream_events(spark, events_stream_dir, watermark="1 minute")
    _run_to_memory(streaming_dedup(stream, ["event_id"]), "dedup_sink", "append")
    n = spark.sql("SELECT count(*) AS c FROM dedup_sink").collect()[0]["c"]
    total = spark.read.parquet(events_stream_dir).count()
    assert n == total  # event_id is unique → nothing dropped, nothing dup'd


def test_merge_sessions_pure():
    """Edge cases of the stateful sessionizer's merge fold: extension,
    gap split, exact-gap boundary (inclusive), duplicate timestamps, and
    late-event walk-back into an earlier pending session."""
    from angelo_bravo_etl_task_spark.streaming.stateful import _merge_sessions

    M = 60_000_000  # one minute in micros
    gap = 5 * M
    # gap boundary: exactly `gap` apart extends, gap+1us splits
    assert _merge_sessions([], [0, gap], gap) == [[0, gap, 2]]
    assert _merge_sessions([], [0, gap + 1], gap) == [[0, 0, 1], [gap + 1, gap + 1, 1]]
    # duplicate timestamps count separately
    assert _merge_sessions([], [0, 0, M], gap) == [[0, M, 3]]
    # late event lands inside an earlier pending session's reach
    pending = [[0, M, 2], [10 * M, 11 * M, 2]]
    assert _merge_sessions(pending, [2 * M], gap) == [[0, 2 * M, 3], [10 * M, 11 * M, 2]]
    # late event in no session's reach opens its own, sorted into place
    out = _merge_sessions([[0, 0, 1], [20 * M, 20 * M, 1]], [12 * M], gap)
    assert out == [[0, 0, 1], [12 * M, 12 * M, 1], [20 * M, 20 * M, 1]]


def test_stateful_sessionize_emission_boundary(spark, sf_dir):
    """The streaming result must equal batch sessionization filtered to
    watermark-final sessions (end + gap <= max_ts - delay)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from angelo_bravo_etl_task_spark.queries import QUERIES
    from angelo_bravo_etl_task_spark.sources.readers import load_table

    got = {
        tuple(map(str, r))
        for r in QUERIES["st1_stateful_sessions"][0](spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    gap_s = 5 * 60
    sess = (
        ev.withColumn("_prev", F.lag("ts").over(w))
        .withColumn(
            "_new",
            F.when(
                F.col("_prev").isNull()
                | (F.col("ts").cast("long") - F.col("_prev").cast("long") > gap_s),
                1,
            ).otherwise(0),
        )
        .withColumn("_sid", F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "_sid")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    mx = ev.agg(F.max("ts")).collect()[0][0]
    import datetime as dt

    horizon = mx - dt.timedelta(minutes=30) - dt.timedelta(seconds=gap_s)
    want = {
        tuple(map(str, r))
        for r in sess.where(F.col("session_end") <= F.lit(horizon))
        .select("user_id", "session_start", "session_end", "n_events")
        .collect()
    }
    assert got == want and len(want) > 0


def test_checkpoint_restart_exactly_once(spark, sf_dir, tmp_path):
    """Exactly-once across a query RESTART: a windowed streaming aggregate
    runs one micro-batch (maxFilesPerTrigger=1 over a 3-file staging dir),
    stops, and a NEW query object resumes from the same checkpoint with
    availableNow. The parquet sink must hold every watermark-finalized
    window exactly once — no loss (offsets not re-read) and no duplication
    (windows already emitted before the stop are not re-emitted), because
    the checkpoint persists both the source offsets and the window state.
    This is the recovery contract a production job relies on; the memory
    sink can't test it (it does not survive the query object)."""
    from pyspark.sql import functions as F

    from angelo_bravo_etl_task_spark.sources.readers import load_table
    from angelo_bravo_etl_task_spark.streaming.windows import stream_partitions

    import time

    ev = load_table(spark, sf_dir, "events").select("ts", "event_type", "value")
    staged = str(tmp_path / "staged")
    # Stage as TIME-ORDERED slices (one file each, increasing mtime): the
    # file source replays oldest-mtime first, so the watermark after slice
    # N never exceeds slice N+1's minimum event time and nothing is
    # spuriously dropped as late. A hash split would interleave times and
    # run 2's rows would land below run 1's watermark — that would test
    # late-data drop (e3's subject), not restart recovery.
    cuts = ["2024-01-11", "2024-01-21"]
    slices = [
        ev.where(F.col("ts") < cuts[0]),
        ev.where((F.col("ts") >= cuts[0]) & (F.col("ts") < cuts[1])),
        ev.where(F.col("ts") >= cuts[1]),
    ]
    for s in slices:
        s.coalesce(1).write.mode("append").parquet(staged)
        time.sleep(1.1)  # distinct mtimes -> deterministic replay order
    ckpt, sink = str(tmp_path / "ckpt"), str(tmp_path / "sink")

    def start_query():
        stream = (
            spark.readStream.schema("ts timestamp, event_type string, value double")
            .option("maxFilesPerTrigger", "1")
            .parquet(staged)
            .withWatermark("ts", "30 minutes")
        )
        agg = (
            stream.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("ws"), "event_type", "n")
        )
        return (
            agg.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
        )

    with stream_partitions(spark):
        # run 1: process at least one input file, then stop mid-stream
        q1 = start_query().trigger(processingTime="0 seconds").start()
        deadline = time.time() + 120
        while time.time() < deadline:
            p = q1.lastProgress
            if p and p["numInputRows"] > 0:
                break
            time.sleep(0.5)
        q1.stop()
        q1.awaitTermination(60)
        # run 2: resume from the checkpoint, drain everything remaining
        q2 = start_query().trigger(availableNow=True).start()
        q2.awaitTermination(120)
        if q2.isActive:
            q2.stop()

    got = {
        (r.ws, r.event_type, r.n)
        for r in spark.read.schema("ws timestamp, event_type string, n long")
        .parquet(sink)
        .collect()
    }
    horizon = ev.agg(
        (F.max("ts") - F.expr("INTERVAL 30 MINUTES")).alias("h")
    ).collect()[0].h
    expected = {
        (r.ws, r.event_type, r.n)
        for r in ev.groupBy(
            F.window("ts", "10 minutes").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("w.end") <= F.lit(horizon))
        .select(F.col("w.start").alias("ws"), "event_type", "n")
        .collect()
    }
    assert got == expected


def test_foreach_batch_multi_sink_fanout(spark, sf_dir, tmp_path):
    """foreachBatch fanout: ONE streaming pass lands each micro-batch in
    TWO sinks (raw parquet + a running aggregate directory), the pattern
    for serving + archival from a single ingest. The batch function
    persists the batch frame so the two writes don't recompute it, and
    both sinks must agree with the batch ground truth at the end."""
    from pyspark.sql import functions as F

    from angelo_bravo_etl_task_spark.sources.readers import load_table
    from angelo_bravo_etl_task_spark.streaming.windows import (
        ephemeral_checkpoint_dir,
        stream_events_raw,
        stream_partitions,
    )

    raw_sink = str(tmp_path / "raw")
    agg_sink = str(tmp_path / "agg")

    def land(batch_df, batch_id: int):
        batch_df.persist()
        try:
            batch_df.write.mode("append").parquet(raw_sink)
            (
                batch_df.groupBy("event_type")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(
                        (F.col("value").cast("decimal(18,2)") * 100).cast(
                            "bigint"
                        )
                    ).alias("cents"),
                )
                .withColumn("batch_id", F.lit(batch_id))
                .write.mode("append")
                .parquet(agg_sink)
            )
        finally:
            batch_df.unpersist()

    with stream_partitions(spark), ephemeral_checkpoint_dir() as ckpt:
        q = (
            stream_events_raw(spark, sf_dir)
            .select("event_type", "value")
            .writeStream.foreachBatch(land)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        if q.isActive:
            q.stop()

    ev = load_table(spark, sf_dir, "events")
    assert spark.read.parquet(raw_sink).count() == ev.count()
    got = {
        (r.event_type, r.n, r.cents)
        for r in spark.read.parquet(agg_sink)
        .groupBy("event_type")
        .agg(F.sum("n").alias("n"), F.sum("cents").alias("cents"))
        .collect()
    }
    expected = {
        (r.event_type, r.n, r.cents)
        for r in ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                (F.col("value").cast("decimal(18,2)") * 100).cast("bigint")
            ).alias("cents"),
        )
        .collect()
    }
    assert got == expected
