"""Connected components on an edge DataFrame.

Small edge lists (at most ``LOCAL_EDGE_LIMIT`` oriented edges) finish on
the driver: one bounded ``limit`` collect, an in-memory union-find, and an
Arrow-backed DataFrame of the result — the contract-then-finish-locally
design of Łącki et al., "Connected Components at Scale via Local
Contractions" (arXiv:1807.10727). At batch sizes this replaces the
checkpoint, star-round and convergence jobs with two.

Larger edge lists run alternating large-star / small-star rounds (Kiveris
et al., "Connected Components in MapReduce and Beyond", SoCC 2014) —
O(log n) rounds, no collect_list (hot hubs like a template-farm star stay as
min-aggregations + joins, never materialized as one row). Each round is two
shuffles; lineage is cut with localCheckpoint every round (swap for
``checkpoint(dir)`` on a real cluster), and convergence is one aggregate
per round (:func:`_converged`).

Both paths return the same rows: (node, component min) for every non-min
node of every component.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

# oriented edges up to which connected_components finishes on the driver;
# 200k id pairs stay well under a few hundred MB of driver memory
LOCAL_EDGE_LIMIT = 200_000
# large-star/small-star rounds before connected_components gives up
MAX_ROUNDS = 30


def _large_star(edges: DataFrame) -> DataFrame:
    """Attach every neighbor v > u to min(Γ(u) ∪ {u})."""
    sym = edges.select("u", "v").union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
    mins = mins.select("u", F.least("mn", "u").alias("m"))
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Within each node's ≤-neighborhood, attach everything to the min."""
    directed = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).where(F.col("u") != F.col("v"))
    mins = directed.groupBy("u").agg(F.min("v").alias("m"))
    moved = (
        directed.join(mins, "u")
        .where(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    self_edges = mins.select(F.col("u"), F.col("m").alias("v"))
    return moved.union(self_edges).distinct()


def _converged(edges: DataFrame) -> bool:
    """Fixpoint test: the star rounds are no-ops exactly when the edge set
    is a directed star forest — every edge already points child → parent
    (u > v, which every star-round output and the oriented input satisfy
    by construction), every child has exactly ONE parent (edges are
    distinct, so a child row per parent), and no node is both a child and
    a parent. Checking this directly is one aggregation pass over the
    checkpointed edges, versus the former stability fingerprint which
    needed one EXTRA full star round (6 shuffles + a checkpoint) just to
    observe "nothing changed". The multi-parent condition matters: a
    state like {(c,a),(c,b)} has disjoint child/parent sets but is NOT
    the fixpoint (small-star still rewrites it), so child-uniqueness must
    be part of the test."""
    endpoints = edges.select(
        F.col("u").alias("n"), F.lit(1).alias("c"), F.lit(0).alias("p")
    ).unionAll(
        edges.select(F.col("v").alias("n"), F.lit(0).alias("c"), F.lit(1).alias("p"))
    )
    bad = (
        endpoints.groupBy("n")
        .agg(F.sum("c").alias("nc"), F.max("p").alias("np"))
        .where(
            (F.col("nc") > 1) | ((F.col("nc") >= 1) & (F.col("np") == 1))
        )
    )
    return bad.isEmpty()


def _local_components(edges: pa.Table) -> tuple[np.ndarray, np.ndarray]:
    """(node, component min) for every non-min node of an oriented (u, v)
    edge table, by union-find on the driver."""
    ids, idx = np.unique(
        np.concatenate([
            edges.column("u").to_numpy(zero_copy_only=False),
            edges.column("v").to_numpy(zero_copy_only=False),
        ]),
        return_inverse=True,
    )
    # ids are sorted, so a smaller index is a smaller id: hooking the larger
    # root under the smaller keeps every root its component's min
    parent = list(range(len(ids)))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    half = edges.num_rows
    for a, b in zip(idx[:half].tolist(), idx[half:].tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    root = np.array([find(x) for x in range(len(ids))], dtype=np.int64)
    child = np.flatnonzero(root != np.arange(len(ids)))
    return ids[child], ids[root[child]]


def connected_components(
    pairs: DataFrame, src: str = "url_a", dst: str = "url_b"
) -> DataFrame:
    """pairs(url_a, url_b) → (url, cluster_id) for every node that appears in
    an edge; cluster_id = min url of the component.  Singleton handling is
    the caller's (left join + coalesce to own url). The id columns keep
    their type (semantic.py passes long vector ids)."""
    # orient child → parent up front (connectivity is orientation-blind and
    # the fixpoint star forest is canonical, so the result is unchanged);
    # this keeps the u > v invariant true from round 0 on, which is what
    # lets _converged test the fixpoint with a single semi-join
    edges = pairs.select(
        F.greatest(F.col(src), F.col(dst)).alias("u"),
        F.least(F.col(src), F.col(dst)).alias("v"),
    ).where(F.col("u") != F.col("v")).distinct()
    head = edges.limit(LOCAL_EDGE_LIMIT + 1).toArrow()
    if head.num_rows <= LOCAL_EDGE_LIMIT:
        node, root = _local_components(head)
        schema = StructType([
            StructField("url", edges.schema["u"].dataType),
            StructField("cluster_id", edges.schema["v"].dataType),
        ])
        # a pyarrow table goes to the JVM as Arrow batches: no Python
        # worker, no pandas fallback path, and an empty table is fine
        table = pa.table({
            "url": pa.array(node, type=head.schema.field("u").type),
            "cluster_id": pa.array(root, type=head.schema.field("v").type),
        })
        return pairs.sparkSession.createDataFrame(table, schema)
    # materialize the input edge list BEFORE iterating: each star round
    # references `edges` several times (unions + joins), and a lazy upstream
    # DAG would be re-executed once per reference inside round 0 (measured
    # 5× wall blow-up with a lazy LSH pair plan upstream)
    edges = edges.localCheckpoint(eager=True)
    # check AFTER each round, not before round 1: the initial edge set is
    # the largest the loop ever sees (rounds only shrink it toward the
    # star forest), so a pre-round check would pay its endpoint shuffle on
    # the biggest input every call just to detect the rare
    # already-converged case — for which one no-op round is cheap anyway
    for _ in range(MAX_ROUNDS):
        edges = _small_star(_large_star(edges)).localCheckpoint(eager=True)
        if _converged(edges):
            break
    else:
        raise RuntimeError(f"connected_components: no convergence in {MAX_ROUNDS} rounds")
    # at the fixpoint every edge is (node → component min)
    return edges.select(F.col("u").alias("url"), F.col("v").alias("cluster_id"))


def assign_clusters(pages_urls: DataFrame, pairs: DataFrame) -> DataFrame:
    """(url, cluster_id): one row per distinct url of ``pages_urls``,
    however many crawls list it (own url when singleton)."""
    comp = connected_components(pairs)
    return (
        pages_urls.select("url").distinct()
        .join(comp, "url", "left")
        .select("url", F.coalesce("cluster_id", "url").alias("cluster_id"))
    )
