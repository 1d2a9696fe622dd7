"""Approximate nearest-neighbor search over an embedding column.

Three paths over ``embeddings(vec_id, embedding array<float>, label)``:

  * ``brute_force_topk``  — exact cosine top-k: broadcast the (small) query
    set against the corpus; one narrow map + one shuffle for the per-query
    top-k window. The correctness baseline and the verifier.
  * ``rhp_lsh_topk``      — scale path: random-hyperplane (SimHash for
    vectors, Charikar 2002 — the same sketch family the reference uses for
    text at /root/reference/src/iscc/iscc.py:236-257) bucketing. Corpus is
    hashed once to a ``nbits``-bit signature; queries probe their own bucket
    (plus multi-probe single-bit flips), exact cosine re-rank inside the
    probed buckets only.
  * ``ivf_build``/``ivf_topk`` — inverted-file scale path: a deterministic
    spherical k-means coarse quantizer partitions the corpus into
    ``k_lists`` lists; each query probes its ``nprobe`` nearest centroids
    and re-ranks exactly within those lists only (scan cost ≈
    nprobe/k_lists of the corpus; at rest the assignment table is
    partitioned by list_id so probes prune at the scan).

At 100 TB the brute-force path is a full corpus scan per query batch (fine
for few queries — it is one broadcast join, no shuffle of the corpus); the
LSH path turns that into a bucket-pruned scan: the corpus signature table is
bucketed/partitioned by (plane_set, bucket) so a query batch touches only
matching partitions.

Hyperplanes are deterministic (seeded NumPy, generated at plan time on the
driver) — no nondeterminism in the plan.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from iscc_specs_spark.operators.dedup_variants import dot_expr


def _as_double(df: DataFrame, out: str = "v") -> DataFrame:
    return df.select(
        "vec_id", F.col("embedding").cast("array<double>").alias(out)
    )


def _cos(vq, nq, vc, nc):
    """cosine from precomputed norms — bit-identical to the per-pair form."""
    return F.round(dot_expr(vq, vc) / (nq * nc), 6)


def brute_force_topk(
    emb: DataFrame, queries: DataFrame, k: int = 10
) -> DataFrame:
    """Exact cosine top-k per query vector.

    queries: (vec_id, embedding) — broadcast side. Returns
    (query_id, neighbor_id, cosine, rank) with rank 1..k, ties broken by
    neighbor_id; the query vector itself is excluded. Norms are computed
    once per row before the join.
    """
    corpus = (
        _as_double(emb, "vc")
        .withColumnRenamed("vec_id", "neighbor_id")
        .withColumn("nc", F.sqrt(dot_expr(F.col("vc"), F.col("vc"))))
    )
    q = (
        _as_double(queries, "vq")
        .withColumnRenamed("vec_id", "query_id")
        .withColumn("nq", F.sqrt(dot_expr(F.col("vq"), F.col("vq"))))
    )
    scored = (
        corpus.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            _cos(F.col("vq"), F.col("nq"), F.col("vc"), F.col("nc")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def hyperplanes(dim: int, nbits: int = 16, seed: int = 7) -> list[list[float]]:
    """Deterministic random hyperplanes (driver-side, seeded)."""
    rng = np.random.RandomState(seed)
    return rng.randn(nbits, dim).astype("float64").tolist()


def rhp_signature(vec: str, planes: list[list[float]]):
    """Pack sign(v·h_i) bits into one LONG — native sequential fold, no UDF.

    ``vec`` is the *name* of an array<double> column: the whole expression
    is built as one SQL string (single py4j call, parsed once by Catalyst)
    instead of thousands of individual ``F.lit`` Column objects — plan
    *construction* dominated wall time for multi-table configs (nbits ×
    ntables × dim literals each cost a py4j round trip).  Same operations
    in the same order → bit-identical signatures.
    """
    terms = []
    for i, h in enumerate(planes):
        lit = "array(" + ",".join(repr(float(x)) + "D" for x in h) + ")"
        dot = (
            f"aggregate(zip_with({vec}, {lit}, (x, y) -> x * y), "
            "0.0D, (acc, v) -> acc + v)"
        )
        terms.append(f"IF({dot} >= 0, {1 << i}L, 0L)")
    return F.expr("CAST(" + " + ".join(terms) + " AS BIGINT)")


def _rhp_sig_batch(V: np.ndarray, planes: np.ndarray) -> np.ndarray:
    """NumPy twin of :func:`rhp_signature` over a vector batch.

    ``planes`` is (nbits, dim); returns one int64 signature per row of
    ``V``. Each plane dot is accumulated STRICTLY left-to-right via
    ``np.cumsum`` (sequential by definition — unlike ``np.sum``'s pairwise
    reordering), i.e. the identical multiply-then-add sequence the SQL
    fold performs, so every dot equals the fold's value bit-for-bit up to
    the sign of an exactly-zero total (the fold's 0.0 seed can turn a
    -0.0 into +0.0) — which the ``>= 0`` sign test cannot distinguish
    (IEEE orders -0.0 == 0.0). Signature integers are therefore identical
    to the SQL path's, verified exhaustively against rhp_signature on the
    driver embedding tables."""
    # n × nbits × dim products, cumsum over dim = exact sequential fold
    prods = V[:, None, :] * planes[None, :, :]
    dots = np.cumsum(prods, axis=2)[:, :, -1]
    bits = (dots >= 0).astype(np.int64)
    return (bits << np.arange(planes.shape[0], dtype=np.int64)[None, :]).sum(
        axis=1
    )


def rhp_buckets_arrow(
    df: DataFrame,
    nbits: int,
    ntables: int,
    seed: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "v",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """All-tables RHP signatures in ONE Arrow pass →
    ``(id_col, *passthrough, sigs array<long>)`` with ``sigs[t]`` the
    table-``t`` signature (``posexplode`` positions line up with the SQL
    path's ``F.lit(t)`` table ids).

    The SQL signature projection interprets two lambdas per vector
    element per plane (ntables × nbits × dim × 2 evals per vector — the
    corpus-side signature stage measured 0.5–1.0 s at bench scale where
    this pass costs ~0.04 s); signatures are bit-identical
    (:func:`_rhp_sig_batch`). ``passthrough`` ships columns through the
    Arrow boundary unchanged (the topk corpus keeps its vector payload
    without a join-back — no shuffle of the embedding column, same
    single-crossing posture as the codegen stage); batch temporaries are
    n × nbits × dim float64 — a few MB at the session's Arrow batch size.
    The id and passthrough columns keep their types from ``df.schema``.

    Every ``vec_col`` vector must be non-NULL with exactly ``dim``
    elements: a NULL or ragged vector raises ``ValueError`` (surfacing as
    the task's Python error) instead of signing a wrong-shaped batch.
    """
    import pandas as pd
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    planes = np.stack(
        [
            np.array(hyperplanes(dim, nbits, seed + 1000 * t), dtype=np.float64)
            for t in range(ntables)
        ]
    )

    def run(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vecs = pdf[vec_col]
            null = vecs.isna()
            if null.any():
                raise ValueError(
                    f"rhp_buckets_arrow: NULL {vec_col} vector at {id_col}="
                    f"{pdf[id_col][null].iloc[0]}"
                )
            ragged = vecs.map(len) != dim
            if ragged.any():
                raise ValueError(
                    f"rhp_buckets_arrow: {vec_col} vector of length "
                    f"{len(vecs[ragged].iloc[0])} at {id_col}="
                    f"{pdf[id_col][ragged].iloc[0]}, expected dim={dim}"
                )
            V = np.array(list(vecs), dtype=np.float64)
            sigs = np.empty((len(pdf), ntables), dtype=np.int64)
            for t in range(ntables):
                sigs[:, t] = _rhp_sig_batch(V, planes[t])
            out = {id_col: pdf[id_col]}
            for c in passthrough:
                out[c] = pdf[c]
            out["sigs"] = list(sigs)
            yield pd.DataFrame(out)

    pass_schema = StructType(
        [df.schema[c] for c in (id_col, *passthrough)]
        + [StructField("sigs", ArrayType(LongType()))]
    )
    in_cols = [id_col, vec_col] + [c for c in passthrough if c != vec_col]
    return df.select(*in_cols).mapInPandas(run, schema=pass_schema)


def rhp_lsh_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nbits: int = 12,
    ntables: int = 8,
    seed: int = 7,
    multiprobe_bits: int = 1,
    dim: int | None = None,
) -> DataFrame:
    """LSH-bucketed approximate top-k (same output schema as brute force).

    Standard multi-table random-hyperplane LSH: ``ntables`` independent
    ``nbits``-bit signatures per vector; a corpus vector is a candidate for
    a query iff they share a bucket in ≥1 table (plus single-bit-flip
    multiprobe buckets on the query side). Exact cosine re-rank within
    candidates only. Recall knobs: P(candidate) = 1 − (1 − p^nbits)^ntables
    with p = 1 − θ/π; defaults give >0.99 for cosine ≥ 0.9 pairs.

    Scale notes: the corpus signature table is computed once (narrow) and
    at 100 TB would be written bucketed by (table_id, bucket) so each query
    batch prunes to matching buckets; the per-table explode multiplies rows
    by ntables but each row is (id, bucket) — tiny vs the embedding column,
    which never shuffles (re-rank joins fetch it via the bucket join).
    """
    if dim is None:
        # Spark's ArrayType carries no length, so inferring dim would need a
        # plan-time job ( .first() ) — a hidden scan before the real plan
        # even builds. Require it instead; callers always know their
        # embedding dimensionality.
        raise ValueError(
            "rhp_lsh_topk requires dim (embedding dimensionality): "
            "ArrayType has no static length and inferring it would run a "
            "plan-time job"
        )
    # corpus signatures: one Arrow pass for all tables (bit-identical to
    # the SQL fold — rhp_buckets_arrow docstring), vector payload shipped
    # through the same pass so no join-back / no shuffle of the embedding
    # column; norms stay native. The QUERY side keeps the SQL signatures:
    # it is a handful of broadcast rows, and the multiprobe flips are
    # plain bitwiseXOR over the same integers either way.
    corpus = (
        rhp_buckets_arrow(
            _as_double(emb, "vc").withColumnRenamed("vec_id", "neighbor_id"),
            nbits, ntables, seed, dim,
            id_col="neighbor_id", vec_col="vc", passthrough=("vc",),
        )
        .withColumn("nc", F.sqrt(dot_expr(F.col("vc"), F.col("vc"))))
        .select(
            "neighbor_id", "vc", "nc", F.posexplode("sigs").alias("t", "h")
        )
        .withColumn("bucket", F.struct("t", "h"))
        .drop("t", "h")
    )
    q = (
        _as_double(queries, "vq")
        .withColumnRenamed("vec_id", "query_id")
        .withColumn("nq", F.sqrt(dot_expr(F.col("vq"), F.col("vq"))))
    )
    q_probes = []
    for t in range(ntables):
        planes = hyperplanes(dim, nbits, seed + 1000 * t)
        qsig = rhp_signature("vq", planes)
        probes = [qsig]
        if multiprobe_bits >= 1:
            probes += [qsig.bitwiseXOR(F.lit(1 << i)) for i in range(nbits)]
        q_probes += [F.struct(F.lit(t).alias("t"), p.alias("h")) for p in probes]
    q = q.withColumn("bucket", F.explode(F.array(*q_probes)))
    cand = corpus.join(F.broadcast(q), "bucket").where(
        F.col("neighbor_id") != F.col("query_id")
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        _cos(F.col("vq"), F.col("nq"), F.col("vc"), F.col("nc")).alias("cosine"),
    ).dropDuplicates(["query_id", "neighbor_id"])
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: k-means coarse quantizer + list-pruned search
# ---------------------------------------------------------------------------

_IVF_FP = 1 << 20  # fixed-point scale for order-independent centroid sums


def ivf_build(
    emb: DataFrame,
    k_lists: int = 16,
    iters: int = 3,
    dim: int | None = None,
    id_type: str = "long",
) -> tuple[list[list[float]], DataFrame]:
    """Deterministic spherical k-means coarse quantizer → (centroids,
    assignments(vec_id, list_id)).

    Spark-first Lloyd iterations with two properties a shared-nothing
    engine needs:

      * **assignment is one Arrow GEMM pass** (mapInPandas): each batch is
        scored against the broadcast k×dim centroid matrix in a single
        NumPy matmul — no n×k row explosion, the embedding column never
        shuffles;
      * **centroid update is exact integer arithmetic**: per-list component
        sums are accumulated as fixed-point BIGINTs (posexplode →
        groupBy(list, pos).sum), so the result is independent of partition
        count and reduce order — float summation order would make the
        model nondeterministic across cluster layouts. New centroid =
        (sum / count) rounded back to the fixed-point grid.

    Init = the ``k_lists`` corpus vectors with the smallest
    ``xxhash64(vec_id)`` (a deterministic spread sample; one bounded
    driver job at model-build time — this is a build, not a plan). Empty
    lists keep their previous centroid. This is a model-build job: at
    100 TB you run it on a sample and broadcast the centroids.
    """
    import pandas as pd

    if dim is None:
        raise ValueError("ivf_build requires dim (see rhp_lsh_topk)")
    corpus = _as_double(emb, "v").localCheckpoint(eager=True)

    init = (
        corpus.orderBy(F.xxhash64(F.col("vec_id")), F.col("vec_id"))
        .limit(k_lists)
        .collect()
    )
    cent = np.array([r["v"] for r in init], dtype=np.float64)

    def assign_pass(c_mat: np.ndarray):
        c_norm = c_mat / np.maximum(
            np.linalg.norm(c_mat, axis=1, keepdims=True), 1e-12
        )

        def run(batches):
            for pdf in batches:
                x = np.array(list(pdf["v"]), dtype=np.float64)
                if x.size == 0:
                    continue
                xn = x / np.maximum(
                    np.linalg.norm(x, axis=1, keepdims=True), 1e-12
                )
                lists = (xn @ c_norm.T).argmax(axis=1)
                yield pd.DataFrame(
                    {"vec_id": pdf["vec_id"], "list_id": lists.astype("int64")}
                )

        # id_type parameterizes the passthrough key so url-keyed corpora
        # (e.g. the curation plan's hashed-text vectors) avoid a lossy
        # string→int mapping; vec_id is only ever a join key here
        return corpus.mapInPandas(run, schema=f"vec_id {id_type}, list_id long")

    for _ in range(iters):
        assign = assign_pass(cent)
        sums = (
            assign.join(corpus, "vec_id")
            .select("list_id", F.posexplode("v").alias("pos", "x"))
            .groupBy("list_id", "pos")
            .agg(
                F.sum(
                    F.round(F.col("x") * _IVF_FP).cast("long")
                ).alias("s"),
                F.count("*").alias("n"),
            )
            .collect()
        )
        new = cent.copy()
        for lid in range(k_lists):
            comp = [r for r in sums if r["list_id"] == lid]
            if comp:
                n = comp[0]["n"]
                for r in comp:
                    new[lid, r["pos"]] = round(r["s"] / n) / _IVF_FP
        cent = new

    return cent.tolist(), assign_pass(cent)


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    k_lists: int = 16,
    iters: int = 3,
    dim: int | None = None,
    model: tuple[list[list[float]], DataFrame] | None = None,
) -> DataFrame:
    """IVF-pruned approximate top-k (same output schema as brute force).

    Each query probes its ``nprobe`` nearest coarse centroids and is
    re-ranked exactly against only the corpus vectors assigned to those
    lists — the classic inverted-file trade: recall is controlled by
    nprobe/k_lists, and the scan cost drops to ~nprobe/k_lists of the
    corpus. At 100 TB the assignment table is written partitioned by
    ``list_id`` (so a probe prunes partitions at the scan) and the
    centroid table is a broadcast literal; here both joins are expressed
    so Catalyst broadcasts the tiny sides and the corpus embedding column
    moves through exactly one equi-join.

    Pass ``model`` (from :func:`ivf_build`) to reuse a trained quantizer;
    otherwise one is built from the corpus with (k_lists, iters).
    """
    if dim is None:
        raise ValueError("ivf_topk requires dim (see rhp_lsh_topk)")
    cent_list, assign = model if model is not None else ivf_build(
        emb, k_lists=k_lists, iters=iters, dim=dim
    )
    spark = emb.sparkSession
    cent_df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cent_list)],
        schema="list_id long, c array<double>",
    ).withColumn("ncent", F.sqrt(dot_expr(F.col("c"), F.col("c"))))

    q = (
        _as_double(queries, "vq")
        .withColumnRenamed("vec_id", "query_id")
        .withColumn("nq", F.sqrt(dot_expr(F.col("vq"), F.col("vq"))))
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("probe_score").desc(), F.col("list_id")
    )
    probes = (
        q.crossJoin(F.broadcast(cent_df))
        .select(
            "query_id", "vq", "nq", "list_id",
            _cos(F.col("vq"), F.col("nq"), F.col("c"), F.col("ncent")).alias(
                "probe_score"
            ),
        )
        .withColumn("pr", F.row_number().over(wq))
        .where(F.col("pr") <= nprobe)
        .select("query_id", "vq", "nq", "list_id")
    )

    corpus = (
        _as_double(emb, "vc")
        .withColumnRenamed("vec_id", "neighbor_id")
        .withColumn("nc", F.sqrt(dot_expr(F.col("vc"), F.col("vc"))))
        .join(assign.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
    )
    cand = corpus.join(F.broadcast(probes), "list_id").where(
        F.col("neighbor_id") != F.col("query_id")
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        _cos(F.col("vq"), F.col("nq"), F.col("vc"), F.col("nc")).alias("cosine"),
    ).dropDuplicates(["query_id", "neighbor_id"])
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )
