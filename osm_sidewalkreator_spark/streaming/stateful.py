"""Custom stateful streaming operator: cross-micro-batch exact dedup.

Demonstrates the engine's ``applyInPandasWithState`` seam (SURVEY.md
§2.10): keyed state (one flag per event_id) with an event-time TTL so
state does not grow unboundedly on an infinite stream. Spark's native
``dropDuplicatesWithinWatermark`` covers the common case; this operator
is the template for stateful logic the built-ins can't express
(conditional emission, custom eviction, counters).
"""

from __future__ import annotations

import shutil
import tempfile
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

_OUT_SCHEMA = ("event_id long, ts timestamp, user_id long, "
               "event_type string, value double")
_STATE_SCHEMA = "seen int"
_OUT_COLS = ["event_id", "ts", "user_id", "event_type", "value"]
_TTL_MS = 7 * 24 * 3600 * 1000


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
        state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + _TTL_MS)
        yield first


def stream_dedup_events(spark: SparkSession, events_dir: str,
                        query_name: str = "events_dedup_stream") -> DataFrame:
    """First occurrence of every event_id across all micro-batches;
    duplicates (replays, at-least-once sources) are dropped. State is
    one row per unseen-until-now id, evicted 7 days past the watermark.
    """
    schema = spark.read.parquet(events_dir).schema
    src = (spark.readStream.schema(schema).parquet(events_dir)
           .withColumn("ts", F.to_timestamp("ts"))
           .withWatermark("ts", "10 minutes"))
    out = (src.groupBy("event_id")
           .applyInPandasWithState(
               _dedup_fn, _OUT_SCHEMA, _STATE_SCHEMA, "append",
               GroupStateTimeout.EventTimeTimeout))
    q = (out.writeStream.format("memory").queryName(query_name)
         .outputMode("append")
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return spark.table(query_name)


def run_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage the events table PLUS a replayed 20% slice (duplicate ids) as
    two source files, then run the stateful dedup over the stream."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    stage = Path(tempfile.gettempdir()) / "sidewalkreator_dedup_stream" \
        / Path(sf_dir).name
    if stage.exists():
        shutil.rmtree(stage)
    stage.mkdir(parents=True)
    shutil.copy(f"{sf_dir}/events.parquet", stage / "part0.parquet")
    # replay slice staged driver-side with pyarrow: the source files are
    # test fixtures, and a Spark sort+limit+write job here doubled the
    # query's wall-clock for no coverage gain
    t = pq.read_table(f"{sf_dir}/events.parquet")
    n = int(t.num_rows * 0.2)
    idx = pc.sort_indices(t, sort_keys=[("event_id", "ascending")])[:n]
    pq.write_table(t.take(idx), stage / "part1.parquet")
    name = f"events_dedup_{Path(sf_dir).name.replace('.', '_')}"
    return stream_dedup_events(spark, str(stage), name)
