"""Stateful streaming NEAR-duplicate suppression (SimHash-bucketed).

The batch near-dup path (MinHash pairs -> connected components) needs
the whole corpus; a continuous ingest pipeline instead wants to drop a
document the moment it arrives if something close enough was already
admitted.  This operator does that with ``applyInPandasWithState``:

* fingerprint: 64-bit SimHash computed as a NARROW column expression
  (``textops.simhash_expr`` — an array fold, no explode/groupBy, so it
  legally precedes the stateful operator on a stream);
* key: the top ``bucket_bits`` of the fingerprint (one key per doc —
  the property that makes near-dup dedup streamable at all; MinHash's
  4 band keys per doc would need cross-key agreement, i.e. an external
  KV store);
* state per bucket: the fingerprints admitted so far (``array<long>``,
  evicted by event-time TTL);
* verify: hamming distance <= ``max_hamming`` against the bucket's
  admitted fingerprints — a popcount loop over ints, driver-free.

SEMANTICS (documented, not hidden): a doc is dropped iff an EARLIER
admitted doc in the SAME bucket is within ``max_hamming``.  Near-pairs
whose fingerprints straddle a bucket boundary are missed — the same
recall trade as batch LSH bucketing, tuned by ``bucket_bits`` (fewer
bits = bigger buckets = higher recall, more state per key).  Identical
texts always collide (hamming 0, same bucket).

Scale: state is partitioned by bucket across executors; per-key state
size is the number of admitted near-dup-distinct fingerprints in that
bucket within the TTL horizon.  Order inside a micro-batch is pinned
to (ts, doc_id) so replays are deterministic.
"""

from __future__ import annotations

import shutil
import tempfile
from pathlib import Path

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from osm_sidewalkreator_spark.operators.textops import simhash_expr

_OUT_SCHEMA = "doc_id long, ts timestamp, simhash long, bucket long"
_STATE_SCHEMA = "fps array<long>"
_TTL_MS = 7 * 24 * 3600 * 1000
MAX_HAMMING = 3
# Per-bucket cap on retained fingerprints (FIFO eviction of the
# oldest) — mirrors the batch LSH hot-bucket guard: a pathological
# bucket (boilerplate flood) must not grow state unboundedly inside
# the TTL horizon. At the cap, the oldest admits stop being compared
# against, trading a little recall on ancient dups for bounded state.
MAX_STATE = 4096

# 256-entry byte-popcount LUT: popcount of a uint64 array = LUT over
# its uint8 view, summed per 8-byte lane. Vectorized (no per-element
# Python) — numpy<2.0 has no bitwise_count ufunc.
_POP8 = np.unpackbits(np.arange(256, dtype=np.uint8)[:, None],
                      axis=1).sum(axis=1).astype(np.uint8)


def _popcount64(a: np.ndarray) -> np.ndarray:
    return _POP8[a.view(np.uint8)].reshape(len(a), 8).sum(axis=1)


def _neardup_fn(key, pdfs, state: GroupState):
    if state.hasTimedOut:
        state.remove()
        return
    rows = [pdf for pdf in pdfs if len(pdf)]
    if not rows:
        return
    batch = pd.concat(rows).sort_values(["ts", "doc_id"])
    prior = (np.asarray(state.get[0], dtype=np.int64).view(np.uint64)
             if state.exists else np.empty(0, dtype=np.uint64))
    fps = batch["simhash"].to_numpy(dtype=np.int64).view(np.uint64)
    # kept fingerprints live in one preallocated buffer so each doc's
    # verify is a single vectorized XOR + popcount over the buffer —
    # no O(kept) Python loop per row.
    buf = np.empty(len(prior) + len(fps), dtype=np.uint64)
    buf[:len(prior)] = prior
    m = len(prior)
    admit = np.zeros(len(fps), dtype=bool)
    for i in range(len(fps)):
        if m and (_popcount64(buf[:m] ^ fps[i]) <= MAX_HAMMING).any():
            continue
        buf[m] = fps[i]
        m += 1
        admit[i] = True
    kept = buf[:m] if m <= MAX_STATE else buf[m - MAX_STATE:m]
    state.update((kept.view(np.int64).tolist(),))
    # Anchor the TTL to the batch's OWN event time, not the pre-batch
    # watermark: in the first micro-batch getCurrentWatermarkMs() is 0,
    # so watermark+TTL lands in 1970 and the next watermark advance
    # would evict everything admitted here. max() keeps the timeout
    # monotone when a late batch trails the watermark.
    batch_max_ms = int(pd.Timestamp(batch["ts"].max()).value // 10**6)
    state.setTimeoutTimestamp(
        max(batch_max_ms, state.getCurrentWatermarkMs()) + _TTL_MS)
    if admit.any():
        yield batch.loc[admit, ["doc_id", "ts", "simhash", "bucket"]]


def stream_neardup_docs(spark: SparkSession, docs_dir: str,
                        bucket_bits: int = 16,
                        query_name: str = "docs_neardup_stream",
                        watermark: str = "10 minutes") -> DataFrame:
    """Admit only near-dup-distinct documents from a document stream.

    ``docs_dir`` parquet files need (doc_id, text, ts).  Returns the
    admitted rows (memory sink, availableNow) with fingerprint and
    bucket for audit.
    """
    schema = spark.read.parquet(docs_dir).schema
    src = (spark.readStream.schema(schema).parquet(docs_dir)
           .withColumn("ts", F.to_timestamp("ts"))
           .withWatermark("ts", watermark)
           .withColumn("simhash", simhash_expr())
           .withColumn("bucket",
                       F.shiftrightunsigned("simhash", 64 - bucket_bits))
           .select("doc_id", "ts", "simhash", "bucket"))
    out = (src.groupBy("bucket")
           .applyInPandasWithState(
               _neardup_fn, _OUT_SCHEMA, _STATE_SCHEMA, "append",
               GroupStateTimeout.EventTimeTimeout))
    q = (out.writeStream.format("memory").queryName(query_name)
         .outputMode("append")
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return spark.table(query_name)


def run_stream_neardup(spark: SparkSession, sf_dir: str,
                       replay_fraction: float = 0.2) -> DataFrame:
    """Stage the documents table with deterministic event times PLUS a
    later replay slice (same text, new doc_ids — exact near-dups at
    hamming 0), then run the streaming suppression."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    stage = Path(tempfile.gettempdir()) / "sidewalkreator_neardup_stream" \
        / Path(sf_dir).name
    if stage.exists():
        shutil.rmtree(stage)
    stage.mkdir(parents=True)
    t = pq.read_table(f"{sf_dir}/documents.parquet",
                      columns=["doc_id", "text"])
    base = int(pa.compute.max(t["doc_id"]).as_py()) + 1
    ts0 = pd.Timestamp("2026-01-01", tz="UTC").value // 10**6
    ts = pa.array((ts0 + pc.multiply(t["doc_id"], 1000).to_numpy())
                  .astype("datetime64[ms]"))
    pq.write_table(t.append_column("ts", ts), stage / "part0.parquet")
    n = int(t.num_rows * replay_fraction)
    idx = pc.sort_indices(t, sort_keys=[("doc_id", "ascending")])[:n]
    rep = t.take(idx)
    rep = rep.set_column(0, "doc_id",
                         pc.add(rep["doc_id"], base))
    ts_rep = pa.array((ts0 + 10**9
                       + pc.multiply(rep["doc_id"], 1000).to_numpy())
                      .astype("datetime64[ms]"))
    pq.write_table(rep.append_column("ts", ts_rep),
                   stage / "part1.parquet")
    name = f"docs_neardup_{Path(sf_dir).name.replace('.', '_')}"
    return stream_neardup_docs(spark, str(stage), query_name=name)
