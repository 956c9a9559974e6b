"""Structured Streaming over the events table.

The reference has no streaming operators (SURVEY.md §2.9); this is the
engine's forward-looking stream path: file-source readStream ->
watermarked tumbling-window aggregation -> sink. ``availableNow`` runs
the same query as an incremental batch, which is how the correctness
gate can compare it against a plain SQL oracle (a tumbling window over
bounded input is exactly GROUP BY date_trunc).
"""

from __future__ import annotations

import shutil
import tempfile
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


# numRowsTotal per micro-batch of the most recent append-mode
# minutely stream (test hook mirroring the sessionize eviction proof)
LAST_MINUTELY_STREAM_STATE_ROWS: list[int] = []


def minutely_event_counts_stream(spark: SparkSession, events_dir: str,
                                 query_name: str = "events_stream_agg",
                                 output_mode: str = "append") -> DataFrame:
    """Streaming tumbling-window count/sum per event_type.

    ``events_dir`` must be a directory of parquet files. Runs with
    Trigger.AvailableNow to completion and returns the materialized
    result (memory sink).

    The default ``output_mode="append"`` is the production template:
    the watermark finalizes each 1-minute window once event time moves
    past window.end + 10 minutes, EMITS it exactly once, and EVICTS it
    from state — bounded state on a continuous stream. For the bounded
    gate input the caller stages a sentinel row past every real window
    (``_stage_events_with_sentinel`` with ``maxFilesPerTrigger=1``) so
    the final watermark closes them all; sentinel rows (event_type
    ``"_sentinel"``) are filtered from the result.
    ``output_mode="complete"`` retains ALL windows in state forever —
    unbounded on a real stream; kept only as a bounded-input debugging
    flag.
    """
    batch = spark.read.parquet(events_dir)
    schema = batch.schema
    reader = spark.readStream.schema(schema)
    if output_mode == "append":
        # append mode only emits windows the final watermark has passed
        # — on a bounded availableNow input that requires a staged
        # sentinel row past every real window, or the tail of the data
        # (at least the last 10 minutes' worth) is silently never
        # emitted. Refuse to run lossy rather than return a truncated
        # result (the input is bounded by contract, so this one cheap
        # scan is acceptable).
        if batch.filter(F.col("event_type") == "_sentinel") \
                .limit(1).count() == 0:
            raise ValueError(
                f"{events_dir}: append mode needs a watermark-advancing "
                "sentinel row (event_type='_sentinel') staged after the "
                "real events — use run_events_stream / "
                "_stage_events_with_sentinel, or pass "
                "output_mode='complete' for bounded-input debugging")
        # one file per micro-batch: the (older-mtime) real file's batch
        # advances the watermark so the sentinel batch can close and
        # evict every real window
        reader = reader.option("maxFilesPerTrigger", "1")
    src = reader.parquet(events_dir)
    # parquet NTZ timestamps need a tz-aware event-time column
    src = src.withColumn("ts", F.to_timestamp("ts"))
    agg = (src.withWatermark("ts", "10 minutes")
           .groupBy(F.window("ts", "1 minute").alias("w"), "event_type")
           .agg(F.count("*").alias("n"),
                F.sum(F.round(F.col("value") * 1000).cast("long"))
                 .alias("value_milli")))
    q = (agg.writeStream.format("memory").queryName(query_name)
         .outputMode(output_mode)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    global LAST_MINUTELY_STREAM_STATE_ROWS
    LAST_MINUTELY_STREAM_STATE_ROWS = [
        p["stateOperators"][0]["numRowsTotal"]
        for p in (q.recentProgress or [])
        if p.get("stateOperators")]
    out = spark.table(query_name).select(
        "event_type",
        F.unix_timestamp(F.col("w.start")).alias("minute_epoch"),
        "n", "value_milli")
    if output_mode == "append":
        out = out.filter(F.col("event_type") != "_sentinel")
    return out


def run_events_stream(spark: SparkSession, sf_dir: str,
                      output_mode: str = "append") -> DataFrame:
    """Stage the events table into a stream-source directory (with a
    watermark-advancing sentinel in append mode) and run the windowed
    aggregation."""
    if output_mode == "append":
        stage = _stage_events_with_sentinel(spark, sf_dir, gap_h=0,
                                            watermark_min=10,
                                            prefix="minutely_append")
    else:
        stage = Path(tempfile.gettempdir()) / "sidewalkreator_stream" \
            / Path(sf_dir).name
        stage.mkdir(parents=True, exist_ok=True)
        dst = stage / "events.parquet"
        if not dst.exists():
            shutil.copy(f"{sf_dir}/events.parquet", dst)
    name = f"events_stream_{Path(sf_dir).name.replace('.', '_')}" \
        + ("_app" if output_mode == "append" else "")
    return minutely_event_counts_stream(spark, str(stage), name,
                                        output_mode=output_mode)


# numRowsTotal per micro-batch of the most recent append-mode
# sessionize stream (test hook: state must SHRINK once the watermark
# passes closed sessions — the eviction proof)
LAST_SESSION_STREAM_STATE_ROWS: list[int] = []

_SENTINEL_USER = -1


def _stage_events_with_sentinel(spark: SparkSession, sf_dir: str,
                                gap_h: int, watermark_min: int,
                                prefix: str = "sessions_append") -> Path:
    """Stage the events table as TWO stream-source files: the real
    events, then one sentinel row (user_id=-1) whose event time lies
    past every real session's close + watermark. Processed last
    (maxFilesPerTrigger=1, older mtime on the real file), it advances
    the global watermark past all real sessions so APPEND mode emits —
    and evicts — every one of them on the bounded input."""
    import datetime
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    stage = Path(tempfile.gettempdir()) / "sidewalkreator_stream" \
        / f"{prefix}_{Path(sf_dir).name}"
    src = f"{sf_dir}/events.parquet"
    dst = stage / "events.parquet"
    sen = stage / "zz_sentinel.parquet"
    if dst.exists() and sen.exists():
        return stage
    stage.mkdir(parents=True, exist_ok=True)
    shutil.copy(src, dst)
    max_ts = (spark.read.parquet(src)
              .agg(F.max(F.to_timestamp("ts"))).collect()[0][0])
    sentinel_ts = max_ts + datetime.timedelta(
        hours=gap_h, minutes=watermark_min + 60)
    schema = pq.read_schema(src)
    arrays = []
    for f in schema:
        if f.name == "ts":
            arrays.append(pa.array([sentinel_ts], type=f.type))
        elif f.name == "user_id":
            arrays.append(pa.array([_SENTINEL_USER], type=f.type))
        elif pa.types.is_integer(f.type):
            arrays.append(pa.array([0], type=f.type))
        elif pa.types.is_floating(f.type):
            arrays.append(pa.array([0.0], type=f.type))
        else:
            arrays.append(pa.array(["_sentinel"], type=f.type))
    pq.write_table(pa.Table.from_arrays(arrays, schema=schema), sen)
    # real file strictly older than the sentinel -> processed first
    past = os.stat(sen).st_mtime - 60
    os.utime(dst, (past, past))
    return stage


def sessionize_events(spark: SparkSession, sf_dir: str,
                      streaming: bool = False) -> DataFrame:
    """Per-user session windows (``F.session_window`` — Spark's native
    merging session windows, the engine's stateful-aggregation path for
    SURVEY.md §2.9).

    A session groups a user's events whose inter-event gap is < 12 h;
    the window end extends 12 h past the last event ([start, end)
    semantics — an event landing exactly on the closing boundary opens
    a NEW session). Works identically as a batch aggregation (the
    oracle gate path) and as a watermarked stream (``streaming=True``).

    The streaming path runs in ``outputMode("append")`` — the
    production template: the watermark EVICTS each session from state
    once it passes the session's close, so state stays bounded on a
    continuous stream. On the bounded gate input a sentinel row staged
    after the real data (see ``_stage_events_with_sentinel``) pushes
    the final watermark past every real session, making the append
    output set-equal to the batch aggregation; the sentinel's own
    session is filtered from the result.
    """
    if streaming:
        stage = _stage_events_with_sentinel(spark, sf_dir, gap_h=12,
                                            watermark_min=10)
        schema = spark.read.parquet(str(stage)).schema
        reader = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", "1"))
        ev = (reader.parquet(str(stage))
              .withColumn("ts", F.to_timestamp("ts")))
        ev = ev.withWatermark("ts", "10 minutes")
    else:
        ev = spark.read.parquet(f"{sf_dir}/events.parquet") \
            .withColumn("ts", F.to_timestamp("ts"))
    agg = (ev.groupBy(F.session_window("ts", "12 hours").alias("w"),
                      "user_id")
           .agg(F.count("*").alias("n_events"),
                F.sum(F.round(F.col("value") * 1000).cast("long"))
                 .alias("value_milli")))
    out_cols = ["user_id",
                F.unix_timestamp(F.col("w.start")).alias("start_s"),
                F.unix_timestamp(F.col("w.end")).alias("end_s"),
                "n_events", "value_milli"]
    if not streaming:
        return agg.select(*out_cols)
    name = f"events_sessions_{Path(sf_dir).name.replace('.', '_')}_app"
    q = (agg.writeStream.format("memory").queryName(name)
         .outputMode("append")
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    global LAST_SESSION_STREAM_STATE_ROWS
    LAST_SESSION_STREAM_STATE_ROWS = [
        p["stateOperators"][0]["numRowsTotal"]
        for p in (q.recentProgress or [])
        if p.get("stateOperators")]
    out = spark.table(name).filter(F.col("user_id") != _SENTINEL_USER)
    return out.select(*out_cols)
