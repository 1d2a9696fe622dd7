"""Tests for the benchmark's input generators.

    python3 -m pytest perfbench/test_gen.py -q     (from the repository root)

No Spark: page codes come from the program's NumPy kernel, and the dup
predicate is restated here in NumPy, independently of the Spark operators.
"""

from __future__ import annotations

import os

import numpy as np
import pytest

import gen
from workloads import BUCKET_CAP, WORDS_2K, WORDS_8K, BatchWeb


def popcount(x: np.ndarray) -> np.ndarray:
    return np.unpackbits(x.astype(np.uint64).view(np.uint8).reshape(-1, 8), axis=1).sum(1)


def is_dup(cid, sim, top, a, b) -> np.ndarray:
    """The program's dup predicate over row-index arrays ``a``, ``b``."""
    return (
        (popcount(cid[a] ^ cid[b]) <= gen.CID_MAX)
        | (popcount(sim[a] ^ sim[b]) <= gen.SIM_MAX)
        | (top[a] == top[b])
    )


def first_member_edges(labels: list[str]) -> tuple[np.ndarray, np.ndarray]:
    """Truth edges of label clusters: first member to every other one."""
    first: dict[str, int] = {}
    a, b = [], []
    for i, lab in enumerate(labels):
        if lab in first:
            a.append(first[lab])
            b.append(i)
        else:
            first[lab] = i
    return np.array(a, dtype=np.int64), np.array(b, dtype=np.int64)


def files_bytes(path: str) -> dict[str, bytes]:
    out = {}
    for n in sorted(os.listdir(path)):
        with open(os.path.join(path, n), "rb") as f:
            out[n] = f.read()
    return out


def stage(tmp_path, name: str, table) -> dict[str, bytes]:
    d = str(tmp_path / name)
    gen.write_parquet(table, d, 3)
    return files_bytes(d)


def test_pages_same_seed_byte_identical(tmp_path):
    a = stage(tmp_path, "a", gen.pages(5, 120, WORDS_2K)[0])
    b = stage(tmp_path, "b", gen.pages(5, 120, WORDS_2K)[0])
    c = stage(tmp_path, "c", gen.pages(6, 120, WORDS_2K)[0])
    assert a == b
    assert a != c


def test_codes_same_seed_byte_identical(tmp_path):
    a = stage(tmp_path, "a", gen.codes(5, 2000, 200)[0])
    b = stage(tmp_path, "b", gen.codes(5, 2000, 200)[0])
    c = stage(tmp_path, "c", gen.codes(6, 2000, 200)[0])
    assert a == b
    assert a != c


def test_page_slices_concatenate_to_the_full_range():
    full, labels = gen.pages(3, 90, WORDS_2K)
    parts = [gen.pages(3, 30, WORDS_2K, start=s) for s in (0, 30, 60)]
    assert sum((p[1] for p in parts), []) == labels
    for col in full.column_names:
        assert sum((p[0].column(col).to_pylist() for p in parts), []) == (
            full.column(col).to_pylist()
        )


@pytest.mark.parametrize(
    "seed,n,words,farm_every",
    [(1, 240, WORDS_2K, 101), (2, 240, WORDS_2K, 101), (3, 160, WORDS_8K, BatchWeb.farm_every)],
)
def test_planted_page_edges_pass_the_dup_predicate(seed, n, words, farm_every):
    from iscc_specs_spark.kernel.batch import content_text_batch, data_instance_batch

    table, labels = gen.pages(seed, n, words, farm_every=farm_every)
    text = content_text_batch(table.column("text").to_pylist())
    data = data_instance_batch(table.column("html").to_pylist())
    cid = text["cid_body"].astype(np.uint64)
    sim = text["simhash"].astype(np.uint64)
    top = np.array(data["tophash"], dtype=object)
    a, b = first_member_edges(labels)
    assert len(a) > n // 5  # clusters, farm and empty pages are planted
    ok = is_dup(cid, sim, top, a, b)
    bad = [(labels[i], int(i), int(j)) for i, j in zip(a[~ok], b[~ok])]
    assert not bad


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_planted_code_edges_pass_the_dup_predicate(seed):
    n, farm = 6000, 300
    table, labels, edges = gen.codes(seed, n, farm)
    cid = np.array(table.column("cid_body").to_pylist(), dtype=np.int64).astype(np.uint64)
    sim = np.array(table.column("simhash").to_pylist(), dtype=np.int64).astype(np.uint64)
    top = np.array(table.column("tophash").to_pylist(), dtype=object)
    a, b = (np.array(x, dtype=np.int64) for x in zip(*edges))
    assert is_dup(cid, sim, top, a, b).all()
    # every edge joins rows of one truth cluster
    assert all(labels[i] == labels[j] for i, j in edges)
    # cid_body is the kernel's packing of the minhash LSBs
    mh = np.array(table.column("minhash").to_pylist(), dtype=np.int64).astype(np.uint64)
    assert (gen.cid_body(mh) == cid.astype(np.int64)).all()
    assert labels.count("farm") == farm > BUCKET_CAP


def test_drift_chain_ends_are_not_direct_duplicates():
    """Chains must need transitive closure: some chain's ends fail the
    predicate although every link passes."""
    table, labels, edges = gen.codes(4, 6000, 300)
    cid = np.array(table.column("cid_body").to_pylist(), dtype=np.int64).astype(np.uint64)
    sim = np.array(table.column("simhash").to_pylist(), dtype=np.int64).astype(np.uint64)
    top = np.array(table.column("tophash").to_pylist(), dtype=object)
    chains: dict[str, list[int]] = {}
    for i, j in edges:
        if labels[i].startswith("g") and j == i + 1:
            chains.setdefault(labels[i], [i]).append(j)
    ends = [(c[0], c[-1]) for c in chains.values() if len(c) > 4]
    a, b = (np.array(x, dtype=np.int64) for x in zip(*ends))
    assert (~is_dup(cid, sim, top, a, b)).sum() > len(ends) // 2
