"""Skew-path regression: dup_pairs — inline-verified cold buckets plus the
broadcast-routed hot-bucket hub edges — must agree with a NumPy brute force
of "shares a band key and passes the dup predicate", and capping must not
change cluster assignments on a template-farm fixture (hub-and-spoke
preserves connectivity; every hub edge between near-identical farm members
survives verification)."""

from __future__ import annotations

from collections import defaultdict
from itertools import combinations

import numpy as np
import pytest
from pyspark.sql import functions as F

from iscc_specs_spark.operators import lsh
from iscc_specs_spark.operators.cluster import assign_clusters
from iscc_specs_spark.operators.codegen import compute_codes
from iscc_specs_spark.sources.pages import generate_pages

N_DOCS = 1200  # ~12 farm docs (doc_id % 101 == 100) land in one hot bucket
CAP = 4


@pytest.fixture(scope="module")
def codes(spark):
    pages = generate_pages(spark, N_DOCS, partitions=8)
    return compute_codes(pages).localCheckpoint(eager=True)


def _popcount(v: np.ndarray) -> np.ndarray:
    return np.unpackbits(v.view(np.uint8).reshape(-1, 8), axis=1).sum(axis=1)


class Reference:
    """NumPy brute force of dup_pairs' pair set over a codes table: pairs
    of exact-dup representatives (min url per tophash) that share a band
    key — an equal ``rows``-value minhash slice or an equal 16-bit simhash
    sub-key — and pass the dup predicate, plus the exact-dup spokes from
    each representative to the other members of its tophash group."""

    def __init__(self, codes):
        pdf = (
            codes.select("url", "cid_body", "simhash", "minhash", "tophash")
            .toPandas()
            .sort_values("url")
            .reset_index(drop=True)
        )
        self.urls = pdf["url"].to_numpy()
        self.idx = {u: i for i, u in enumerate(self.urls)}
        self.cid = pdf["cid_body"].to_numpy(np.int64).view(np.uint64)
        self.sim = pdf["simhash"].to_numpy(np.int64).view(np.uint64)
        self.top = pdf["tophash"].to_numpy()
        rep_url = pdf.groupby("tophash")["url"].transform("min").to_numpy()
        reps = np.flatnonzero(rep_url == self.urls)

        mh = np.stack(pdf["minhash"].to_numpy()).astype(np.int64)[reps]
        r = lsh.ROWS
        keys = [mh[:, b * r:(b + 1) * r] for b in range(lsh.BANDS)]
        keys += [
            ((self.sim[reps] >> np.uint64(16 * k)) & np.uint64(0xFFFF))[:, None]
            for k in range(4)
        ]
        cand = set()
        for key in keys:
            buckets = defaultdict(list)
            for i, k in zip(reps, key):
                buckets[k.tobytes()].append(i)
            for members in buckets.values():
                cand.update(combinations(members, 2))
        i, j = np.array(sorted(cand)).T
        ok = self.passes(i, j)
        self.pairs = {(self.urls[a], self.urls[b]) for a, b in zip(i[ok], j[ok])}
        self.pairs |= {
            (rep_url[k], u) for k, u in enumerate(self.urls) if rep_url[k] != u
        }

    def hamming(self, i, j):
        return (
            _popcount(self.cid[i] ^ self.cid[j]),
            _popcount(self.sim[i] ^ self.sim[j]),
        )

    def passes(self, i, j):
        hc, hs = self.hamming(i, j)
        return (
            (hc <= lsh.CID_T_MAX_HAMMING)
            | (hs <= lsh.SIMHASH_MAX_HAMMING)
            | (self.top[i] == self.top[j])
        )

    def clusters(self) -> dict:
        """url → min url of its connected component over the pairs."""
        parent = {u: u for u in self.urls}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in self.pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {u: find(u) for u in self.urls}


@pytest.fixture(scope="module")
def reference(codes):
    return Reference(codes)


def _pair_set(df):
    return {(r["url_a"], r["url_b"]) for r in df.select("url_a", "url_b").collect()}


def test_hot_path_is_exercised(codes):
    slim = lsh.rep_codes(codes)
    bands = lsh.minhash_bands(slim).union(lsh.simhash_bands(slim))
    max_bucket = (
        bands.groupBy("band_id", "band_hash")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert max_bucket > CAP, "fixture must contain a bucket above the cap"


def test_capped_dup_pairs_match_numpy_reference(codes, reference):
    """Uncapped dup_pairs == the NumPy reference; every capped pair (cold
    buckets verified inline, hub edges verified by verify_pairs) passes the
    dup predicate with NumPy's Hamming distances, and the capped clusters
    equal the reference's transitive closure."""
    uncapped = lsh.dup_pairs(codes, bucket_cap=1 << 30)
    assert _pair_set(uncapped) == reference.pairs

    capped = lsh.dup_pairs(codes, bucket_cap=CAP).localCheckpoint(eager=True)
    rows = capped.collect()
    assert rows
    i = np.array([reference.idx[r["url_a"]] for r in rows])
    j = np.array([reference.idx[r["url_b"]] for r in rows])
    assert reference.passes(i, j).all()
    hc, hs = reference.hamming(i, j)
    assert [(r["cid_hamming"], r["simhash_hamming"]) for r in rows] == list(
        zip(hc.tolist(), hs.tolist())
    )

    clusters = assign_clusters(codes.select("url"), capped).collect()
    assert {r["url"]: r["cluster_id"] for r in clusters} == reference.clusters()


def test_capping_preserves_farm_cluster(spark, codes):
    """Cluster assignments with an aggressive cap equal the uncapped ones on
    this fixture: hub-and-spoke keeps every hot bucket connected and the
    farm members are mutually near-identical, so hub edges verify."""
    uncapped = assign_clusters(
        codes.select("url"), lsh.dup_pairs(codes, bucket_cap=1 << 30)
    )
    capped = assign_clusters(
        codes.select("url"), lsh.dup_pairs(codes, bucket_cap=CAP)
    )
    a = {r["url"]: r["cluster_id"] for r in uncapped.collect()}
    b = {r["url"]: r["cluster_id"] for r in capped.collect()}
    assert a == b
