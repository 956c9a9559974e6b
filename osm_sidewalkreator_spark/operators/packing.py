"""Greedy sequence packing: chunks -> fixed-capacity training rows.

The step between chunking and the data loader: concatenate token
chunks into sequences of at most ``seq_tokens`` tokens so a training
batch wastes minimal padding.  The packer is NEXT-FIT in a
deterministic order (sort keys within each shard): walk the chunks,
accumulate tokens, open a new sequence when the next chunk would
overflow.  Next-fit is the packing rule large pipelines actually run
(first-fit-decreasing packs ~1-2% tighter but destroys document
locality and needs a global sort); next-fit keeps a document's chunks
adjacent and is streamable.

Scale shape (the 100 TB contract):

* Packing is independent per shard, so the only exchange is the
  repartition on ``group_col`` — the same shuffle ``shard_corpus``
  already pays; composing them costs ONE exchange total because the
  partitioning is reused.
* Within a shard the kernel is NumPy: one cumulative sum, then one
  ``searchsorted`` per EMITTED SEQUENCE (not per chunk) to find the
  greedy boundary — O(n + s log n) with no per-row Python.
* A chunk longer than ``seq_tokens`` becomes its own (overflowing)
  sequence, flagged ``oversize = true`` — truncation policy belongs
  to the tokenizer stage, not the packer, so nothing is silently cut.

Determinism: (shard, sort keys) fully determine seq ids, so retries
and different cluster sizes emit identical packing — same property as
the sampling/sharding ops (pure function of content keys).

Reference parity: the reference plugin has no training-data tier;
this extends the engine's curation pipeline alongside
``chunk_documents`` (operators/textops.py) and ``shard_corpus``
(operators/sampling.py).
"""

from __future__ import annotations

from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T


def pack_next_fit(tokens: np.ndarray, capacity: int) -> np.ndarray:
    """Next-fit sequence ids for chunk token counts, in order.

    Vectorized over sequences: each greedy boundary is one
    ``searchsorted`` into the cumulative sum; the loop runs once per
    emitted sequence, not once per chunk.
    """
    n = len(tokens)
    seq = np.empty(n, dtype=np.int64)
    cum = np.cumsum(tokens, dtype=np.int64)
    start = 0
    s = 0
    while start < n:
        base = cum[start - 1] if start > 0 else 0
        # last index whose running total still fits
        end = int(np.searchsorted(cum, base + capacity, side="right"))
        if end <= start:           # oversize chunk: own sequence
            end = start + 1
        seq[start:end] = s
        start = end
        s += 1
    return seq


def pack_sequences(chunks: DataFrame, seq_tokens: int,
                   group_col="shard",
                   order_cols: Iterable[str] = ("doc_id", "chunk_idx")
                   ) -> DataFrame:
    """Add (seq_id, seq_pos, oversize) to a chunk table.

    ``seq_id`` numbers sequences within each ``group_col`` value (a
    global id is ``(group_col, seq_id)``); ``seq_pos`` is the chunk's
    0-based position inside its sequence; ``oversize`` marks single
    chunks that exceed ``seq_tokens`` on their own.

    ``group_col`` may be one column name or a sequence of them —
    packing NEVER crosses a group boundary, so callers with a
    train/val/test ``split`` column must include it in the group key
    (a sequence mixing splits would leak held-out text into training;
    see job_curate.py).
    """
    if seq_tokens < 1:
        raise ValueError(f"seq_tokens must be >= 1: {seq_tokens}")
    group_cols = [group_col] if isinstance(group_col, str) \
        else list(group_col)
    order_cols = tuple(order_cols)
    out_schema = T.StructType(
        chunks.schema.fields
        + [T.StructField("seq_id", T.LongType()),
           T.StructField("seq_pos", T.IntegerType()),
           T.StructField("oversize", T.BooleanType())])
    cols = [f.name for f in chunks.schema.fields]

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(list(order_cols), kind="mergesort") \
                 .reset_index(drop=True)
        toks = pdf["n_chunk_tokens"].to_numpy(dtype=np.int64)
        if len(toks) and toks.min() < 1:
            raise ValueError("token counts must be >= 1")
        seq = pack_next_fit(toks, seq_tokens)
        # position within sequence: index minus the sequence's first
        # index (sequences are contiguous runs in sorted order)
        first = np.concatenate(([0], np.flatnonzero(np.diff(seq)) + 1))
        pos = np.arange(len(seq)) - first[seq]
        pdf["seq_id"] = seq
        pdf["seq_pos"] = pos.astype(np.int32)
        pdf["oversize"] = toks > seq_tokens
        return pdf[cols + ["seq_id", "seq_pos", "oversize"]]

    return chunks.groupBy(*group_cols).applyInPandas(_pack, out_schema)
