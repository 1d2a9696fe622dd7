from __future__ import annotations

import numpy as np
import pytest

from iscc_specs_spark.operators import ann


@pytest.fixture(scope="module")
def emb(spark):
    # clustered vectors (20 centers, small noise): realistic near-dup shape
    rng = np.random.RandomState(3)
    centers = rng.randn(20, 16)
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = np.vstack(
        [c + 0.15 * rng.randn(6, 16) for c in centers]
    ).astype("float32")
    rows = [(i, v.tolist(), int(i // 6)) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    return df, vecs


def _numpy_topk(vecs, qids, k):
    out = {}
    v = vecs.astype("float64")
    norms = np.linalg.norm(v, axis=1)
    for q in qids:
        cos = (v @ v[q]) / (norms * norms[q])
        cos = np.round(cos, 6)
        order = sorted(
            (i for i in range(len(v)) if i != q),
            key=lambda i: (-cos[i], i),
        )
        out[q] = [(i, cos[i]) for i in order[:k]]
    return out


def test_brute_force_topk_matches_numpy(emb):
    df, vecs = emb
    qids = [0, 1, 2]
    res = ann.brute_force_topk(
        df, df.where(df.vec_id.isin(qids)), k=5
    ).collect()
    want = _numpy_topk(vecs, qids, 5)
    got = {}
    for r in res:
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["neighbor_id"], r["cosine"])
        )
    for q in qids:
        ranked = [x[1:] for x in sorted(got[q])]
        assert [n for n, _ in ranked] == [n for n, _ in want[q]]
        for (_, c_got), (_, c_want) in zip(ranked, want[q]):
            assert c_got == pytest.approx(c_want, abs=1e-6)


def test_rhp_lsh_recall(emb):
    df, vecs = emb
    qids = [0, 1, 2, 3, 4]
    qdf = df.where(df.vec_id.isin(qids))
    exact = ann.brute_force_topk(df, qdf, k=5).collect()
    approx = ann.rhp_lsh_topk(
        df, qdf, k=5, nbits=8, ntables=8, multiprobe_bits=1, dim=16
    ).collect()
    truth = {(r["query_id"], r["neighbor_id"]) for r in exact}
    got = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.8  # multi-table LSH on clustered vectors


def test_rhp_signature_deterministic(emb):
    df, _ = emb
    a = ann.rhp_lsh_topk(df, df.where(df.vec_id < 2), k=3, dim=16).collect()
    b = ann.rhp_lsh_topk(df, df.where(df.vec_id < 2), k=3, dim=16).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_rhp_lsh_requires_dim(emb):
    df, _ = emb
    with pytest.raises(ValueError, match="dim"):
        ann.rhp_lsh_topk(df, df.where(df.vec_id < 2), k=3)


def test_rhp_buckets_arrow_keeps_input_types(spark):
    """Id and passthrough columns come out with their input types (a
    string id, a float array) and the signatures equal the long-id run's."""
    from pyspark.sql import functions as F

    rows = [(i, [float(i + j) - 3.5 for j in range(4)]) for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    want = ann.rhp_buckets_arrow(df, 4, 2, 7, 4, passthrough=("v",))
    assert dict(want.dtypes) == {
        "vec_id": "bigint", "v": "array<double>", "sigs": "array<bigint>",
    }
    named = df.select(
        F.concat(F.lit("doc-"), F.col("vec_id").cast("string")).alias("name"),
        "v", F.col("v").cast("array<float>").alias("vf"),
    )
    got = ann.rhp_buckets_arrow(
        named, 4, 2, 7, 4, id_col="name", passthrough=("vf",)
    )
    assert dict(got.dtypes) == {
        "name": "string", "vf": "array<float>", "sigs": "array<bigint>",
    }
    assert sorted((f"doc-{r['vec_id']}", r["sigs"]) for r in want.collect()) == (
        sorted((r["name"], r["sigs"]) for r in got.collect())
    )


@pytest.mark.parametrize(
    "bad, match",
    [(None, "NULL v vector at vec_id=2"),
     ([1.0, 2.0], "v vector of length 2 at vec_id=2, expected dim=4")],
)
def test_rhp_buckets_arrow_rejects_null_or_ragged_vectors(spark, bad, match):
    rows = [(i, [1.0, -1.0, 0.5, 2.0]) for i in range(4)]
    rows[2] = (2, bad)
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    with pytest.raises(Exception, match=match):
        ann.rhp_buckets_arrow(df, 4, 2, 7, 4).collect()


def test_ivf_build_partition_invariant(spark):
    """The quantizer is a pure function of the corpus — repartitioning must
    change neither centroids nor assignments (fixed-point integer centroid
    sums are reduce-order-independent by construction)."""
    from iscc_specs_spark.operators.ann import ivf_build

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    c1, a1 = ivf_build(emb.repartition(2), k_lists=4, iters=2, dim=64)
    c2, a2 = ivf_build(emb.repartition(13), k_lists=4, iters=2, dim=64)
    assert c1 == c2
    assert sorted(map(tuple, a1.collect())) == sorted(map(tuple, a2.collect()))


def test_ivf_topk_full_probe_equals_brute_force(spark):
    """With nprobe = k_lists every list is probed, so IVF must reproduce
    the exact brute-force top-k (same scores, same tie order)."""
    from iscc_specs_spark.operators.ann import brute_force_topk, ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.where("vec_id < 5")
    want = brute_force_topk(emb, q, k=5).collect()
    got = ivf_topk(emb, q, k=5, nprobe=4, k_lists=4, iters=2, dim=64).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_ivf_topk_partial_probe_recall(spark):
    """Partial probe: returned scores are exact (equal to brute force for
    the same pair), the hit set grows monotonically with nprobe (probe
    lists are nested by construction), and recall on the strongest planted
    pairs clears a deterministic floor. Note the synthetic corpus plants
    near-dups at only ~0.4 cosine (≈66 deg) — intrinsically hard for a
    coarse quantizer; real near-dup corpora (≥0.9 cosine) sit deep inside
    one list. Everything here is a pure function of the corpus, so the
    numbers are stable, not flaky."""
    from iscc_specs_spark.operators.ann import brute_force_topk, ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    truth = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in brute_force_topk(emb, emb, k=5).collect()
    }
    strong = {k_ for k_, c in truth.items() if c >= 0.4}
    assert len(strong) > 50
    hits = {}
    for nprobe in (1, 3):
        got = ivf_topk(
            emb, emb, k=5, nprobe=nprobe, k_lists=8, iters=2, dim=64
        ).collect()
        for r in got:
            key = (r["query_id"], r["neighbor_id"])
            if key in truth:
                assert r["cosine"] == truth[key]
        hits[nprobe] = {(r["query_id"], r["neighbor_id"]) for r in got}
    assert len(strong & hits[3]) >= len(strong & hits[1])
    assert len(strong & hits[3]) / len(strong) >= 0.65
