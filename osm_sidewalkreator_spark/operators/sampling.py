"""Deterministic corpus sampling + sharding for training-data prep.

The last mile of a curation pipeline: mix domains/languages by
weight, shuffle the corpus into a reproducible pseudo-random order,
and split it into fixed shard files. All decisions are PURE FUNCTIONS
of (doc content keys, seed) — no RNG state, so any subset of the
corpus reproduces the same keep/shard/order decisions on any cluster
size or retry (a property Spark's ``DataFrame.sample`` does NOT give
across partitionings), and an independent engine can recompute them
exactly (DuckDB parity tests).

Portability: decisions hash ``md5(seed || ':' || key)`` and use the
first 12 hex chars as a uniform integer in [0, 16^12) — md5 is
available and bit-identical in Spark, DuckDB, and Python, unlike
xxhash64, and 48 bits is plenty for a sampling threshold. The hash is
JVM column algebra (whole-stage codegen); nothing leaves the scan
stage for the keep decision, so weighted sampling composes into a
curation chain as a narrow filter.

Scale notes: ``weighted_sample`` is shuffle-free. ``shard_corpus``
adds exactly one exchange (repartition by shard id) — the shuffle a
shard writer needs anyway — and the within-shard sort rides the
shuffle's sort-merge machinery (``sortWithinPartitions``), never a
global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_HEX_CHARS = 12  # 48 bits: uniform enough for per-mille thresholds
_SPACE = float(16 ** _HEX_CHARS)


def _unit_hash(key_col, seed: str):
    """Uniform [0,1) double from md5(seed ':' key) — portable across
    Spark/DuckDB/Python; both engines parse the same 12 hex chars."""
    h = F.md5(F.concat(F.lit(f"{seed}:"), key_col.cast("string")))
    return F.conv(F.substring(h, 1, _HEX_CHARS), 16, 10) \
        .cast("double") / F.lit(_SPACE)


def weighted_sample(docs: DataFrame, fractions: dict[str, float],
                    group_col: str = "lang", key_col: str = "doc_id",
                    seed: str = "mix-v1",
                    default_fraction: float = 0.0) -> DataFrame:
    """Keep each doc with its group's probability, deterministically.

    ``fractions`` maps group values (e.g. language or domain) to keep
    probabilities in [0, 1]; groups absent from the map use
    ``default_fraction``. The decision is ``unit_hash(seed, key) <
    fraction`` — a narrow filter: no shuffle, no RNG, stable under
    retries/repartitioning, and the SAME doc set is kept when the
    corpus grows (sampling by content key, not by position).
    """
    for g, frac in fractions.items():
        if not 0.0 <= frac <= 1.0:
            raise ValueError(f"fraction for {g!r} not in [0,1]: {frac}")
    if not 0.0 <= default_fraction <= 1.0:
        raise ValueError(
            f"default_fraction not in [0,1]: {default_fraction}")
    frac_expr = F.lit(float(default_fraction))
    for g, frac in sorted(fractions.items()):
        frac_expr = F.when(F.col(group_col) == g,
                           F.lit(float(frac))).otherwise(frac_expr)
    return docs.filter(_unit_hash(F.col(key_col), seed) < frac_expr)


def temperature_fractions(docs: DataFrame, temperature: float,
                          target_rows: int,
                          group_col: str = "source") -> dict[str, float]:
    """Derive per-group keep fractions from corpus counts with
    temperature sampling (the mT5/CC-100 mixing rule):

        w_g  =  n_g**alpha / sum_h n_h**alpha      (alpha = 1/T)
        p_g  =  min(1, target_rows * w_g / n_g)

    ``T > 1`` flattens the mixture toward uniform (up-samples rare
    domains/languages); ``T = 1`` is proportional (p identical for all
    groups); ``T -> 0`` degenerates to argmax. The count aggregate
    map-side combines down to one row per group before its (tiny)
    shuffle, so deriving the mixture from a 100 TB corpus moves
    #groups rows to the driver, nothing more. Fractions are rounded
    to 9 decimals so an independent engine recomputing them through a
    different libm ``pow`` lands on the same grid (1-ulp pow noise is
    ~1e-16 relative, far under the grain; the md5 unit-hash the keep
    decision compares against is uniform, so a boundary collision at
    the grain is ~5e-10 per row).
    """
    if temperature <= 0:
        raise ValueError(f"temperature must be > 0: {temperature}")
    if target_rows < 0:
        raise ValueError(f"target_rows must be >= 0: {target_rows}")
    alpha = 1.0 / temperature
    counts = {r["g"]: r["n"] for r in
              docs.groupBy(F.col(group_col).alias("g"))
                  .agg(F.count(F.lit(1)).alias("n")).collect()}
    z = sum(n ** alpha for n in counts.values())
    return {g: round(min(1.0, target_rows * (n ** alpha) / z / n), 9)
            for g, n in counts.items()}


def temperature_sample(docs: DataFrame, temperature: float,
                       target_rows: int, group_col: str = "source",
                       seed: str = "temp-v1") -> DataFrame:
    """Temperature-mix the corpus: counts -> fractions -> the same
    deterministic narrow-filter keep decision as ``weighted_sample``.
    Two scans of the input (one collapsing aggregate for counts, one
    filtered pass) — the count pass reads only ``group_col``."""
    fr = temperature_fractions(docs, temperature, target_rows,
                               group_col=group_col)
    return weighted_sample(docs, fr, group_col=group_col, seed=seed)


def shard_corpus(docs: DataFrame, n_shards: int,
                 key_col: str = "doc_id",
                 seed: str = "shard-v1") -> DataFrame:
    """Assign every doc a shard and a reproducible pseudo-random order.

    Adds ``shard`` (= floor(unit_hash * n_shards), uniform) and
    ``shard_order`` (the 48-bit hash value itself — sorting a shard by
    it IS the deterministic global shuffle of training order), then
    repartitions by shard and sorts within partitions, so a
    ``partitionBy('shard')``/per-file write emits each shard in its
    final order with exactly ONE exchange and no global sort.
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1: {n_shards}")
    # one hash per row: shard_order IS the 48-bit hash integer, and
    # shard = floor((order / 16^12) * n) reproduces _unit_hash's value
    # bit-exactly (order/2^48 is an exact double, same rounding as the
    # string->double cast inside _unit_hash)
    order_col = F.conv(F.substring(
        F.md5(F.concat(F.lit(f"{seed}:"), F.col(key_col).cast("string"))),
        1, _HEX_CHARS), 16, 10).cast("long")
    out = (docs
           .withColumn("shard_order", order_col)
           .withColumn("shard",
                       F.floor(F.col("shard_order").cast("double")
                               / F.lit(_SPACE) * n_shards).cast("int")))
    return (out.repartition(n_shards, "shard")
            .sortWithinPartitions("shard", "shard_order", key_col))
