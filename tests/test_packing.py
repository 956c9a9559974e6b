"""Sequence packing vs a loop reference + packing invariants."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from osm_sidewalkreator_spark.operators import packing as PK
from osm_sidewalkreator_spark.operators import sampling as SA
from osm_sidewalkreator_spark.operators import textops as TX
from osm_sidewalkreator_spark.session import get_spark

SF = "/root/testdata/sf0.001"
CAP = 256


@pytest.fixture(scope="module")
def spark():
    return get_spark()


@pytest.fixture(scope="module")
def packed(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    chunks = TX.chunk_documents(SA.shard_corpus(docs, 4),
                                chunk_tokens=96, overlap=8,
                                extra_cols=("shard",))
    out = PK.pack_sequences(chunks, CAP).toPandas()
    return out.sort_values(["shard", "doc_id", "chunk_idx"]) \
              .reset_index(drop=True)


def _reference_next_fit(tokens, capacity):
    """The obvious per-chunk loop the vectorized kernel must match."""
    seq, pos, s, p, acc = [], [], 0, 0, 0
    for t in tokens:
        if acc > 0 and acc + t > capacity:
            s, p, acc = s + 1, 0, 0
        seq.append(s)
        pos.append(p)
        acc += t
        p += 1
    return seq, pos


def test_matches_loop_reference_per_shard(packed):
    assert len(packed) > 0
    for _, grp in packed.groupby("shard"):
        grp = grp.sort_values(["doc_id", "chunk_idx"])
        seq, pos = _reference_next_fit(
            grp.n_chunk_tokens.tolist(), CAP)
        assert grp.seq_id.tolist() == seq
        assert grp.seq_pos.tolist() == pos


def test_capacity_and_maximality(packed):
    for (_, _), grp in packed.groupby(["shard", "seq_id"]):
        total = grp.n_chunk_tokens.sum()
        if not grp.oversize.any():
            assert total <= CAP
        else:                       # oversize chunks pack alone
            assert len(grp) == 1
    # greedy maximality: each sequence could not absorb the first
    # chunk of the next sequence
    for _, sh in packed.groupby("shard"):
        sh = sh.sort_values(["doc_id", "chunk_idx"])
        sums = sh.groupby("seq_id").n_chunk_tokens.sum()
        heads = sh[sh.seq_pos == 0].set_index("seq_id").n_chunk_tokens
        for s in range(int(sh.seq_id.max())):
            assert sums[s] + heads[s + 1] > CAP


def test_nothing_lost_and_positions_contiguous(spark, packed):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    chunks = TX.chunk_documents(SA.shard_corpus(docs, 4),
                                chunk_tokens=96, overlap=8,
                                extra_cols=("shard",))
    assert len(packed) == chunks.count()
    assert packed.n_chunk_tokens.sum() == \
        chunks.agg(F.sum("n_chunk_tokens")).collect()[0][0]
    for (_, _), grp in packed.groupby(["shard", "seq_id"]):
        assert sorted(grp.seq_pos.tolist()) == list(range(len(grp)))


def test_oversize_chunk_packs_alone(spark):
    rows = [(0, 0, 10), (0, 1, 300), (0, 2, 10), (0, 3, 240)]
    d = spark.createDataFrame(
        rows, "doc_id long, chunk_idx long, n_chunk_tokens long") \
        .withColumn("shard", F.lit(0))
    got = PK.pack_sequences(d, CAP).toPandas() \
            .sort_values("chunk_idx").reset_index(drop=True)
    assert got.seq_id.tolist() == [0, 1, 2, 2]
    assert got.oversize.tolist() == [False, True, False, False]


def test_kernel_vectorized_equals_loop_random():
    rng = np.random.default_rng(7)
    for _ in range(25):
        toks = rng.integers(1, 120, size=rng.integers(1, 400))
        seq = PK.pack_next_fit(toks.astype(np.int64), 100)
        ref, _ = _reference_next_fit(toks.tolist(), 100)
        assert seq.tolist() == ref


def test_composes_with_shard_corpus_single_exchange(spark):
    # shard_corpus's repartition(shard) already satisfies the packer's
    # groupBy(shard) distribution: ONE exchange for the whole chain
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    chunks = TX.chunk_documents(SA.shard_corpus(docs, 4),
                                chunk_tokens=96, overlap=8,
                                extra_cols=("shard",))
    plan = (PK.pack_sequences(chunks, CAP)
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("Exchange") == 1


def test_rejects_bad_inputs(spark):
    d = spark.createDataFrame(
        [(0, 0, 0)], "doc_id long, chunk_idx long, n_chunk_tokens long") \
        .withColumn("shard", F.lit(0))
    with pytest.raises(ValueError):
        PK.pack_sequences(d, 0)
    with pytest.raises(Exception):   # zero-token chunk surfaces
        PK.pack_sequences(d, 10).collect()


def test_pack_sequences_never_crosses_multi_group_key(spark):
    from osm_sidewalkreator_spark.operators.domains import split_corpus
    from osm_sidewalkreator_spark.operators.packing import (
        pack_sequences)
    import pyspark.sql.functions as F
    chunks = spark.range(400).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 4).alias("shard"),
        F.lit(0).alias("chunk_idx"),
        (F.pmod(F.col("id") * 7, F.lit(90)) + 10).cast("int")
        .alias("n_chunk_tokens"))
    chunks = split_corpus(chunks, {"train": 0.8, "val": 0.2},
                          key_col="doc_id")
    packed = pack_sequences(chunks, 128,
                            group_col=("shard", "split"),
                            order_cols=("doc_id", "chunk_idx"))
    # a (shard, split, seq_id) sequence contains exactly one split
    mixed = (packed.groupBy("shard", "seq_id")
             .agg(F.countDistinct("split").alias("k")))
    # same (shard, seq_id) MAY repeat across splits — that's why the
    # split is part of the key; within (shard, split, seq_id) the
    # capacity invariant still holds
    cap = (packed.filter(~F.col("oversize"))
           .groupBy("shard", "split", "seq_id")
           .agg(F.sum("n_chunk_tokens").alias("t"))
           .filter(F.col("t") > 128).count())
    assert cap == 0
    assert packed.count() == chunks.count()
