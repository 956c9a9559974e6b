"""Structured Streaming over the events table: three availableNow streams.

The reference has no streaming operators (SURVEY.md §2.9); these are the
engine's own. Every stream stages the events table plus its later file
into a fresh directory (``_stage``), reads it one file per trigger under
a 10-minute watermark, and runs to completion into a memory sink
(``_run``). A bounded availableNow run returns the rows of the batch
query, so the gate's SQL oracles are the reference:

- ``run_events_stream``: 1-minute tumbling-window count and value sum
  per event_type (GROUP BY date_trunc('minute', ts));
- ``sessionize_events``: per-user session windows with a 12 h gap;
- ``run_stream_dedup``: first occurrence of every event_id, by Spark's
  ``dropDuplicatesWithinWatermark`` (SURVEY.md §2.10).

All three run in append mode under one late-data and eviction rule, the
10-minute watermark: a row older than the watermark is dropped, and
state the watermark has passed (a closed window or session, a seen id
10 minutes older than it) is emitted once and evicted, so state stays
bounded on a continuous stream. The window and session streams' later
file is one sentinel row past every window's and session's close; its
trigger moves the final watermark past all of them, and its own window
and session are filtered out. The dedup stream's later file replays 20%
of the events.
"""

from __future__ import annotations

import datetime
import os
import tempfile
import time
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

_SENTINEL_USER = -1


@contextmanager
def _stage(spark: SparkSession, sf_dir: str, name: str, extra):
    """Stream over a fresh directory holding the events table and the
    later tables ``extra(events)``, removed when the block exits.

    The files get mtimes a minute apart in that order, so
    ``maxFilesPerTrigger=1`` reads the events in the first trigger and
    each later table in one trigger of its own."""
    with tempfile.TemporaryDirectory(prefix=f"{name}_") as stage:
        events = pq.read_table(f"{sf_dir}/events.parquet")
        tables = [events, *extra(events)]
        now = time.time()
        for i, table in enumerate(tables):
            path = os.path.join(stage, f"{i}.parquet")
            pq.write_table(table, path)
            mtime = now - 60 * (len(tables) - i)
            os.utime(path, (mtime, mtime))
        schema = from_arrow_schema(events.schema, prefer_timestamp_ntz=True)
        yield (spark.readStream.schema(schema)
               .option("maxFilesPerTrigger", "1").parquet(stage)
               # parquet NTZ timestamps need a tz-aware event-time column
               .withColumn("ts", F.to_timestamp("ts"))
               .withWatermark("ts", "10 minutes"))


def _run(df: DataFrame, name: str) -> DataFrame:
    """Run the stream to completion (availableNow) into the memory table
    ``name`` and return that table."""
    (df.writeStream.format("memory").queryName(name).outputMode("append")
     .trigger(availableNow=True).start().awaitTermination())
    return df.sparkSession.table(name)


def _sentinel(events: pa.Table) -> list[pa.Table]:
    """One row past the close of every window and session: the last
    event + 12 h session gap + 10 min watermark + 1 h margin."""
    ts = pc.max(events["ts"]).as_py() + datetime.timedelta(hours=12,
                                                           minutes=70)
    row = {"ts": ts, "user_id": _SENTINEL_USER, "event_type": "_sentinel"}
    return [pa.table([pa.array([row.get(f.name)], f.type)
                      for f in events.schema], schema=events.schema)]


def _replay(events: pa.Table) -> list[pa.Table]:
    """The 20% of events with the lowest ids, replayed (duplicate ids)."""
    idx = pc.sort_indices(events, sort_keys=[("event_id", "ascending")])
    return [events.take(idx[:int(events.num_rows * 0.2)])]


def _value_milli():
    return F.sum(F.round(F.col("value") * 1000).cast("long")) \
        .alias("value_milli")


def run_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count and milli-value sum per (event_type, minute)."""
    with _stage(spark, sf_dir, "events_minutely", _sentinel) as ev:
        out = _run(ev.groupBy(F.window("ts", "1 minute").alias("w"),
                              "event_type")
                   .agg(F.count("*").alias("n"), _value_milli()),
                   "events_minutely")
    return out.filter(F.col("event_type") != "_sentinel").select(
        "event_type",
        F.unix_timestamp(F.col("w.start")).alias("minute_epoch"),
        "n", "value_milli")


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sessions (``F.session_window``, Spark's merging session
    windows): a user's events whose gaps are < 12 h. The window ends
    12 h after the last event ([start, end), so an event exactly on the
    closing boundary opens a new session)."""
    with _stage(spark, sf_dir, "events_sessions", _sentinel) as ev:
        out = _run(ev.groupBy(F.session_window("ts", "12 hours").alias("w"),
                              "user_id")
                   .agg(F.count("*").alias("n_events"), _value_milli()),
                   "events_sessions")
    return out.filter(F.col("user_id") != _SENTINEL_USER).select(
        "user_id",
        F.unix_timestamp(F.col("w.start")).alias("start_s"),
        F.unix_timestamp(F.col("w.end")).alias("end_s"),
        "n_events", "value_milli")


def run_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First occurrence of every event_id across micro-batches
    (``dropDuplicatesWithinWatermark``, in the JVM); the replayed
    duplicates (the at-least-once case) are dropped. State is one row
    per seen id, evicted once the watermark passes its event time
    + 10 minutes. A replay is still in state or older than the
    watermark, so it is never emitted twice; a first occurrence older
    than the watermark is dropped, as in the window and session
    streams."""
    with _stage(spark, sf_dir, "events_dedup", _replay) as ev:
        return _run(ev.select("event_id", "ts", "user_id", "event_type",
                              "value")
                    .dropDuplicatesWithinWatermark(["event_id"]),
                    "events_dedup")
