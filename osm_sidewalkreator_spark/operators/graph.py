"""Distributed connected components + near-dup cluster resolution.

The pair generators (``textops.minhash_lsh_pairs``,
``textops.ngram_jaccard_pairs``, ``simsearch.embedding_neardup_dedup``)
emit near-duplicate PAIRS, but a training corpus is deduplicated per
CLUSTER: duplicates are transitive (A~B, B~C => drop two of {A,B,C}),
so the pairs must be resolved into connected components before keeper
selection.  This module closes that gap with the alternating
large-star / small-star algorithm (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'13) expressed in pure
DataFrame ops.

Scale notes (the reason for large-star/small-star over naive label
propagation):

* converges in O(log^2 n) rounds independent of component DIAMETER —
  label propagation needs O(diameter) rounds, which on chain-shaped
  dup clusters (crawl mirrors) is O(n);
* every round is two shuffles keyed by the 8-byte node id, with
  map-side combine on the min() aggregations;
* each round's edge set shrinks monotonically toward the star graph
  (component-min -> member), so shuffle volume decays across rounds;
* hub skew self-heals: large-star rewires every high-degree node's
  neighbours directly to the running minimum, so no single reducer key
  accumulates a whole component across rounds;
* per-round lineage is truncated with ``localCheckpoint`` (executor
  blocks, no driver round-trip).  On a long-running 1000-executor job
  swap this for reliable ``checkpoint()`` to survive executor loss —
  the seam is one line and noted inline.

Convergence is detected with a two-term signature — ``count`` +
``bit_xor(xxhash64(lo, hi))`` — so the per-round driver action is one
scalar row, never a collect of the edge set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import local_frame

# Broadcast-scale fast path: when the DISTINCT edge set fits a
# broadcast-sized bound, resolve components with one driver-side
# union-find instead of O(log^2 n) alternating-star rounds. Each star
# round costs ~6 tiny-stage shuffles + a checkpoint + a signature
# action — seconds of pure scheduling latency when the edge set is
# thousands of rows (near-dup pair sets are usually << corpus size).
# The bound is the same order as a broadcast-join build side (200k
# edges x 16 B ~ 3 MB); above it the distributed algorithm runs
# unchanged, so the 100 TB path is untouched.
_CC_DRIVER_MAX_EDGES = 200_000


def _canon_edges(pairs: DataFrame) -> DataFrame:
    """Distinct (lo, hi) of the (a, b) pairs with lo < hi, self-loops
    dropped."""
    return (pairs
            .select(F.least(F.col("a"), F.col("b")).alias("lo"),
                    F.greatest(F.col("a"), F.col("b")).alias("hi"))
            .where(F.col("lo") != F.col("hi"))
            .distinct())


def _signature(edges: DataFrame) -> tuple:
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(xxhash64(lo, hi))").alias("x")).first()
    return (row["n"], row["x"])


def connected_components(pairs: DataFrame) -> DataFrame:
    """(node, component) for every node that appears in the (a, b)
    ``pairs``.

    ``component`` is the minimum node id of the component (a canonical,
    deterministic label).  Ids may be any orderable Spark type — longs
    and strings are both tested; least/greatest/min all follow the
    column's natural ordering.

    Nodes with no edges do not appear (the caller left-joins and
    coalesces to self — see ``dedup_clusters``).
    """
    max_iter = 64
    spark = pairs.sparkSession
    e = _canon_edges(pairs)
    # one pass decides the path: collect at most MAX+1 distinct edges.
    # Small graphs (the common case for near-dup pair sets) resolve
    # driver-side with identical labels (component = min member id);
    # large graphs fall through to the distributed star rounds.
    head = e.limit(_CC_DRIVER_MAX_EDGES + 1).collect()
    if len(head) <= _CC_DRIVER_MAX_EDGES:
        node_t = e.schema["lo"].dataType
        schema = T.StructType([T.StructField("node", node_t),
                               T.StructField("component", node_t)])
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        for r in head:
            lo, hi = r["lo"], r["hi"]
            if lo not in parent:
                parent[lo] = lo
            if hi not in parent:
                parent[hi] = hi
            ra, rb = find(lo), find(hi)
            if ra != rb:
                # attach the larger root under the smaller: every root
                # stays the MINIMUM of its component, matching the
                # star algorithm's canonical label exactly
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        labels = [(v, find(v)) for v in parent]
        return local_frame(spark, labels, schema)
    e = e.localCheckpoint(eager=True)
    sig = _signature(e)
    for _ in range(max_iter):
        # -- large-star: every neighbour v > u rewires to
        #    m(u) = min(N(u) + {u}).  Operates on the symmetric view.
        sym = (e.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
               .unionByName(
                   e.select(F.col("hi").alias("u"), F.col("lo").alias("v"))))
        m = (sym.groupBy("u").agg(F.min("v").alias("mn"))
             .select("u", F.least("u", "mn").alias("m")))
        ls = (sym.join(m, "u")
              .where(F.col("v") > F.col("u"))
              # m <= u < v, so the (m, v) edge keeps the lo<hi canon
              .select(F.col("m").alias("lo"), F.col("v").alias("hi"))
              .where(F.col("lo") != F.col("hi"))
              .distinct())
        # -- small-star: every node u with smaller neighbours S(u)
        #    rewires S(u) + {u} to min(S(u)).  ls edges are (lo, hi)
        #    with lo < hi, i.e. already grouped by the larger endpoint.
        mn2 = ls.groupBy("hi").agg(F.min("lo").alias("mn"))
        ss_self = mn2.select(F.col("mn").alias("lo"), F.col("hi"))
        ss_nb = (ls.join(mn2, "hi")
                 .where(F.col("lo") != F.col("mn"))
                 # mn < lo (mn is the min over lo's), canon holds
                 .select(F.col("mn").alias("lo"), F.col("lo").alias("hi")))
        e_new = (ss_self.unionByName(ss_nb).distinct()
                 # cluster seam: use spark.sparkContext.setCheckpointDir +
                 # .checkpoint() here for fault tolerance on real clusters
                 .localCheckpoint(eager=True))
        new_sig = _signature(e_new)
        e.unpersist()
        e = e_new
        if new_sig == sig:
            break
        sig = new_sig
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds")
    # Converged star graph: every edge is (component_min, member).
    labels = (e.select(F.col("hi").alias("node"),
                       F.col("lo").alias("component"))
              .unionByName(
                  e.select(F.col("lo").alias("node"),
                           F.col("lo").alias("component")).distinct()))
    return labels


def dedup_clusters(docs: DataFrame, pairs: DataFrame,
                   prefer: str | None = None) -> DataFrame:
    """Resolve near-dup pairs into clusters and elect one keeper each.

    Returns ``docs`` plus:

    * ``cluster_id`` — min doc id of the near-dup component (the doc's
      own id for singletons);
    * ``cluster_size`` — docs in the cluster (1 for singletons);
    * ``is_keeper`` — true for exactly one doc per cluster.

    Keeper election: highest ``prefer`` column first (e.g. a quality
    score; nulls lose), then lowest id as the deterministic tie-break.
    With ``prefer=None`` the keeper is simply the lowest id.  The
    election is a window over ``cluster_id`` — one shuffle, and the
    partition sizes are near-dup cluster sizes (bounded in practice by
    the pair generators' hot-bucket caps), not corpus size.
    """
    cc = connected_components(pairs)
    labeled = (docs.join(cc, docs["doc_id"] == cc["node"], "left")
               .withColumn("cluster_id",
                           F.coalesce(F.col("component"), F.col("doc_id")))
               .drop("node", "component"))
    order = [F.col("doc_id").asc()]
    if prefer is not None:
        order.insert(0, F.col(prefer).desc_nulls_last())
    w = Window.partitionBy("cluster_id")
    return (labeled
            .withColumn("cluster_size", F.count(F.lit(1)).over(w))
            .withColumn("is_keeper",
                        F.row_number().over(w.orderBy(*order)) == 1))
