"""Structured Streaming over the events table: three availableNow streams.

The reference has no streaming operators (SURVEY.md §2.9); these are the
engine's own. Every stream stages the events table plus one later file
into a fresh directory (``_stage``), reads it one file per trigger under
a 10-minute watermark, and runs to completion into a memory sink
(``_run``). A bounded availableNow run returns the rows of the batch
query, so the gate's SQL oracles are the reference:

- ``run_events_stream``: 1-minute tumbling-window count and value sum
  per event_type (GROUP BY date_trunc('minute', ts));
- ``sessionize_events``: per-user session windows with a 12 h gap;
- ``run_stream_dedup``: first occurrence of every event_id, kept by
  ``applyInPandasWithState`` keyed state (SURVEY.md §2.10).

The window and session streams run in append mode: the watermark emits
each window once and evicts it from state, so state stays bounded on a
continuous stream. Their later file is one sentinel row past every
window's and session's close; its trigger moves the final watermark past
all of them, and its own window and session are filtered out. The dedup
stream's later file replays 20% of the events.
"""

from __future__ import annotations

import datetime
import os
import tempfile
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

_SENTINEL_USER = -1
_OUT_SCHEMA = ("event_id long, ts timestamp, user_id long, "
               "event_type string, value double")
_OUT_COLS = ["event_id", "ts", "user_id", "event_type", "value"]
_TTL_MS = 7 * 24 * 3600 * 1000


@contextmanager
def _stage(spark: SparkSession, sf_dir: str, name: str, extra):
    """Stream over a fresh directory holding ``events.parquet`` and the
    later file ``extra(events)``, removed when the block exits.

    The real file gets the older mtime, so ``maxFilesPerTrigger=1``
    reads it in the first trigger and the later file in the second."""
    with tempfile.TemporaryDirectory(prefix=f"{name}_") as stage:
        events = pq.read_table(f"{sf_dir}/events.parquet")
        real = os.path.join(stage, "events.parquet")
        pq.write_table(events, real)
        later = os.path.join(stage, "later.parquet")
        pq.write_table(extra(events), later)
        past = os.stat(later).st_mtime - 60
        os.utime(real, (past, past))
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


def _sentinel(events: pa.Table) -> pa.Table:
    """One row past the close of every window and session: the last
    event + 12 h session gap + 10 min watermark + 1 h margin."""
    ts = pc.max(events["ts"]).as_py() + datetime.timedelta(hours=12,
                                                           minutes=70)
    row = {"ts": ts, "user_id": _SENTINEL_USER, "event_type": "_sentinel"}
    return pa.table([pa.array([row.get(f.name)], f.type)
                     for f in events.schema], schema=events.schema)


def _replay(events: pa.Table) -> pa.Table:
    """The 20% of events with the lowest ids, replayed (duplicate ids)."""
    idx = pc.sort_indices(events, sort_keys=[("event_id", "ascending")])
    return events.take(idx[:int(events.num_rows * 0.2)])


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


def _dedup_fn(key, pdfs, state: GroupState):
    if state.hasTimedOut:
        state.remove()
        return
    if state.exists:
        # drain the iterator (required) and emit nothing: a first
        # occurrence was already emitted in an earlier micro-batch
        for _ in pdfs:
            pass
        return
    first = None
    for pdf in pdfs:
        if first is None and len(pdf):
            first = pdf.iloc[:1][_OUT_COLS]
    if first is not None:
        state.update((1,))
        # the first trigger's watermark is still 0: count the TTL from
        # the event's own time, so a key outlives the next trigger
        ts_ms = first["ts"].iloc[0].value // 1_000_000
        state.setTimeoutTimestamp(
            max(state.getCurrentWatermarkMs(), ts_ms) + _TTL_MS)
        yield first


def run_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First occurrence of every event_id across micro-batches; the
    replayed duplicates (the at-least-once case) are dropped. State is
    one flag per seen id, evicted 7 days past its first event (or past
    the watermark when that is later). Spark's
    ``dropDuplicatesWithinWatermark`` covers plain dedup; this is the
    template for stateful logic the built-ins cannot express
    (conditional emission, custom eviction, counters)."""
    with _stage(spark, sf_dir, "events_dedup", _replay) as ev:
        return _run(ev.groupBy("event_id").applyInPandasWithState(
            _dedup_fn, _OUT_SCHEMA, "seen int", "append",
            GroupStateTimeout.EventTimeTimeout), "events_dedup")
