"""Connected-components correctness vs a local union-find oracle.

Every graph runs through both paths of ``connected_components``: the
driver-side finish, and the large-star/small-star rounds (edge limit
forced to 0)."""

from __future__ import annotations

import warnings
from unittest import mock

import numpy as np
from pyspark.sql.types import LongType, StringType, StructField, StructType

from iscc_specs_spark.operators import cluster
from iscc_specs_spark.operators.cluster import assign_clusters, connected_components

# path → edge limit: the module default finishes these test graphs on the
# driver; 0 sends every non-empty edge list through the star rounds
PATHS = {"driver": cluster.LOCAL_EDGE_LIMIT, "rounds": 0}


def _limit(path):
    return mock.patch.object(cluster, "LOCAL_EDGE_LIMIT", PATHS[path])


def _uf_oracle(n_nodes, edges):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # representative = min node id in component
    comp = {}
    for x in range(n_nodes):
        comp.setdefault(find(x), []).append(x)
    return {x: min(members) for root, members in comp.items() for x in members}


def _run(spark, n_nodes, edges):
    names = [f"n{idx:05d}" for idx in range(n_nodes)]
    pairs = spark.createDataFrame(
        [(names[a], names[b]) for a, b in edges], ["url_a", "url_b"]
    )
    urls = spark.createDataFrame([(u,) for u in names], ["url"])
    want = _uf_oracle(n_nodes, edges)
    for path in PATHS:
        with _limit(path):
            got = {
                r["url"]: r["cluster_id"]
                for r in assign_clusters(urls, pairs).collect()
            }
        for idx in range(n_nodes):
            assert got[names[idx]] == names[want[idx]], f"{path}: node {idx}"


def test_cc_path_graph(spark):
    # worst case for naive label propagation; log-round for star algorithm
    _run(spark, 60, [(i, i + 1) for i in range(59)])


def test_cc_star_and_random(spark):
    rng = np.random.default_rng(11)
    edges = [(0, i) for i in range(1, 30)]  # hot hub
    edges += [(int(a), int(b)) for a, b in rng.integers(30, 200, size=(120, 2)) if a != b]
    _run(spark, 200, edges)


def test_cc_two_components_and_singletons(spark):
    _run(spark, 20, [(1, 2), (2, 3), (10, 11), (11, 12), (12, 10)])


def test_cc_empty_edge_list(spark):
    schema = StructType(
        [StructField("url_a", StringType()), StructField("url_b", StringType())]
    )
    pairs = spark.createDataFrame([], schema)
    urls = spark.createDataFrame([("a",), ("b",)], ["url"])
    for path in PATHS:
        with _limit(path), warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            comp = connected_components(pairs)
            assert comp.collect() == [], path
            got = sorted(map(tuple, assign_clusters(urls, pairs).collect()))
        # no pandas/Arrow fallback (PySpark warns with a UserWarning)
        assert not [w for w in caught if issubclass(w.category, UserWarning)], (
            path, [str(w.message) for w in caught],
        )
        assert comp.schema["url"].dataType == StringType()
        assert got == [("a", "a"), ("b", "b")], path


def test_cc_long_ids_keep_their_type(spark):
    """semantic.py clusters long vector ids (vec_a, vec_b), not urls."""
    edges = [(1, 2), (2, 3), (7, 5), (40, 41), (41, 39)]
    pairs = spark.createDataFrame(edges, ["vec_a", "vec_b"])
    want = _uf_oracle(42, edges)
    for path in PATHS:
        with _limit(path):
            comp = connected_components(pairs, src="vec_a", dst="vec_b")
            got = dict(map(tuple, comp.collect()))
        assert comp.schema["url"].dataType == LongType(), path
        assert comp.schema["cluster_id"].dataType == LongType(), path
        # only non-min nodes of a component appear, each with its min
        assert got == {
            x: want[x] for a, b in edges for x in (a, b) if want[x] != x
        }, path


def test_cc_just_above_the_edge_limit_runs_star_rounds(spark):
    edges = [(i, i + 1) for i in range(12)] + [(20, 21), (21, 22)]
    names = [f"n{idx:05d}" for idx in range(30)]
    pairs = spark.createDataFrame(
        [(names[a], names[b]) for a, b in edges], ["url_a", "url_b"]
    )
    want = _uf_oracle(30, edges)
    for limit, local in ((len(edges), True), (len(edges) - 1, False)):
        with mock.patch.object(cluster, "LOCAL_EDGE_LIMIT", limit), mock.patch.object(
            cluster, "_local_components", wraps=cluster._local_components
        ) as spy:
            got = dict(map(tuple, connected_components(pairs).collect()))
        assert spy.called == local, limit
        assert got == {
            names[x]: names[want[x]]
            for a, b in edges for x in (a, b) if want[x] != x
        }, limit
