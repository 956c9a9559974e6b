"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride as ``binary`` columns with a metadata struct;
decode and feature extraction run as an Arrow-batched
``mapInPandas`` stage. The actual codec work is STUBBED (no
image/audio libraries in this environment — the decode seam raises
``NotImplementedError`` unless the deterministic fake is requested);
the Spark-side contract — schema, batch iteration, partitioning — is
real and tested.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

MEDIA_META_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("media_type", T.StringType()),
    T.StructField("n_bytes", T.LongType()),
    T.StructField("feat_mean", T.DoubleType()),
    T.StructField("feat_std", T.DoubleType()),
    T.StructField("width_px", T.IntegerType()),
    T.StructField("height_px", T.IntegerType()),
])


def decode_media(payload: bytes, media_type: str, use_fake: bool):
    """Decode seam. Real codecs are unavailable in this container;
    ``use_fake`` substitutes a deterministic byte-statistics pseudo-image
    so the distributed plumbing can be exercised end to end."""
    if not use_fake:
        raise NotImplementedError(
            "media codecs (PIL/ffmpeg) are not installed in this "
            "environment; pass use_fake=True for the deterministic stub")
    arr = np.frombuffer(payload, dtype=np.uint8)
    side = max(1, int(np.sqrt(len(arr))))
    return arr[: side * side].reshape(side, side)


def extract_media_features(df: DataFrame) -> DataFrame:
    """mapInPandas feature extraction over a binary column.

    Batch shape: Iterator[pd.DataFrame] -> Iterator[pd.DataFrame]; one
    output row per input row; Arrow transfers the binary payloads.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for url, payload in zip(pdf["url"], pdf["html"]):
                img = decode_media(bytes(payload), "image/fake",
                                   use_fake=True)
                rows.append((url, "image/fake", len(payload),
                             float(img.mean()), float(img.std()),
                             img.shape[1], img.shape[0]))
            yield pd.DataFrame(rows, columns=[f.name for f in
                                              MEDIA_META_SCHEMA])

    return df.select("url", "html").mapInPandas(run, MEDIA_META_SCHEMA)
