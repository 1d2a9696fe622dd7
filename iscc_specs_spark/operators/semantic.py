"""SemDeDup-style semantic deduplication over an embedding column.

Published method (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
web-scale through semantic deduplication", arXiv:2303.09540): partition the
corpus with a k-means coarse quantizer, find duplicate groups WITHIN each
cluster by cosine threshold, and keep exactly one representative per group —
SemDeDup keeps the member least similar to its cluster centroid (the most
"novel" example), dropping the rest.

Spark-first layout (complements the pair-emitting operators in
dedup_variants.py — this one returns a per-document keep/drop decision):

  * the coarse quantizer is :func:`iscc_specs_spark.operators.ann.ivf_build`
    (deterministic fixed-point k-means; assignment is one Arrow GEMM pass,
    the embedding column never shuffles during training);
  * within-cluster pair generation is ONE equi-join on ``list_id`` — the
    n²/k_lists quadratic confined to each list is the SemDeDup contract
    itself, not an implementation accident: at 100 TB you scale ``k_lists``
    with the corpus (the paper uses n/k ≈ 20 k members per cluster) so
    per-list work stays bounded while total work is n²/k;
  * duplicate groups are the connected components of the thresholded
    within-list pair graph (large-star/small-star, reused from
    operators/cluster.py — edges never span lists but global CC is correct
    and already checkpoint-hardened);
  * the representative pick is a map-side ``min_by`` aggregation (no Window
    partitioned by an unbounded group — same rationale as
    plans/dedup.py:canonical_pick).

Cross-cluster near-dups are missed by design (the quantizer IS the candidate
generator); recall is controlled by k_lists/iters exactly as in the paper.
The DuckDB oracle twin recomputes centroid similarity, within-list pairs,
components and the representative pick from the STAGED quantizer model, so
the whole decision surface is value-checked.

Reference parity note: the reference engine (/root/reference) has no
embedding surface — this operator is part of the LLM-training-data layer the
blueprint (SURVEY.md §2, "beyond-reference ops") adds on top of the ISCC
tracks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from iscc_specs_spark.operators.ann import ivf_build
from iscc_specs_spark.operators.cluster import connected_components
from iscc_specs_spark.operators.dedup_variants import dot_expr
from iscc_specs_spark.operators.sampling import hash_bucket


def _safe_cos(dot, denom):
    """Cosine with a zero-norm guard: a zero vector (token-less doc from
    featurize_text) is similar-to-nothing → cosine 0.0. Without the guard
    0.0/0.0 aborts the job under this repo's ANSI-enabled Spark 4 sessions
    (DIVIDE_BY_ZERO); the oracle twin carries the identical CASE WHEN."""
    return F.when(denom == 0.0, F.lit(0.0)).otherwise(dot / denom)


def featurize_text(
    docs: DataFrame,
    dim: int = 64,
    id_col: str = "url",
    text_col: str = "text",
    hash_fn: str = "xxh64",
) -> DataFrame:
    """Hashing-trick bag-of-tokens embedding over a text column →
    ``(id_col, embedding array<double>)``, one row per input doc.

    The classic feature-hashing featurizer (Weinberger et al. 2009):
    lowercase whitespace tokens, each token hashed into one of ``dim``
    buckets, embedding = bucket-count vector. Native SQL end to end — one
    explode + one groupBy(id) with ``dim`` map-side-combining conditional
    sums (whole-stage codegen; the shuffle carries dim longs per doc, the
    token column never shuffles). Token-less docs get the zero vector via
    the id-side left join (downstream cosine treats them as
    similar-to-nothing).

    ``hash_fn='xxh64'`` is the production bucket hash (JVM-native).
    ``'md5'`` buckets by the first 8 hex chars of md5 — byte-identical in
    DuckDB (``('0x'||substr(md5(tok),1,8))::UBIGINT % dim``), so a driver
    row using it is cross-engine value-checkable end to end; counts are
    small integers, so every downstream dot product is exact in float64
    regardless of summation order (same md5-for-oracle / xxh64-production
    pattern as fingerprints and substring_matches)."""
    toks = docs.select(
        F.col(id_col),
        F.explode(
            F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), r"\s+")
        ).alias("tok"),
    ).where(F.col("tok") != "")
    bucket = hash_bucket(F.col("tok"), dim, hash_fn)
    counts = (
        toks.select(F.col(id_col), bucket.alias("j"))
        .groupBy(id_col)
        .agg(
            *[
                F.sum(F.when(F.col("j") == i, 1).otherwise(0))
                .cast("double")
                .alias(f"_f{i}")
                for i in range(dim)
            ]
        )
    )
    return docs.select(id_col).join(counts, id_col, "left").select(
        F.col(id_col),
        F.array(
            *[F.coalesce(F.col(f"_f{i}"), F.lit(0.0)) for i in range(dim)]
        ).alias("embedding"),
    )


def semantic_dedup(
    emb: DataFrame,
    threshold: float = 0.95,
    k_lists: int = 16,
    iters: int = 3,
    dim: int | None = None,
    model: tuple[list[list[float]], DataFrame] | None = None,
) -> DataFrame:
    """Per-document SemDeDup decision over ``emb(vec_id, embedding)``.

    Returns one row per input vector:
    ``(vec_id, list_id, centroid_cos, sem_group, group_size, rep_id, keep)``
    where ``sem_group`` is the min vec_id of the vector's duplicate group
    (its own id when it has no within-list neighbor at ``threshold``),
    ``rep_id`` is the kept member — the group member with the LOWEST
    centroid similarity (ties by vec_id), per the SemDeDup keep-the-novel
    rule — and ``keep`` is true for representatives and singletons.

    Pass ``model`` (from :func:`ivf_build`) to reuse a trained quantizer —
    the driver row stages the assignment table and reads it back so the
    GEMM argmax runs exactly once and the oracle ranks the identical model.
    """
    if dim is None:
        raise ValueError("semantic_dedup requires dim (see rhp_lsh_topk)")
    cents, assign = model if model is not None else ivf_build(
        emb, k_lists=k_lists, iters=iters, dim=dim
    )
    spark = emb.sparkSession
    cent_df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents)],
        schema="list_id long, c array<double>",
    ).withColumn("ncent", F.sqrt(dot_expr(F.col("c"), F.col("c"))))

    e = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).withColumn("nrm", F.sqrt(dot_expr(F.col("v"), F.col("v"))))

    # members = (vec_id, list_id, v, nrm, centroid_cos) — consumed by the
    # pair self-join (twice), the rep pick and the final projection, so
    # materialize once (CLAUDE.md: lazy multiply-referenced subtrees
    # re-execute per reference)
    members = (
        e.join(assign, "vec_id")
        .join(F.broadcast(cent_df), "list_id")
        .select(
            "vec_id",
            "list_id",
            "v",
            "nrm",
            F.round(
                _safe_cos(
                    dot_expr(F.col("v"), F.col("c")),
                    F.col("nrm") * F.col("ncent"),
                ),
                6,
            ).alias("centroid_cos"),
        )
        .localCheckpoint(eager=True)
    )

    a = members.select(
        "list_id",
        F.col("vec_id").alias("vec_a"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = members.select(
        "list_id",
        F.col("vec_id").alias("vec_b"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    pairs = (
        a.join(b, "list_id")
        .where(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            F.round(
                _safe_cos(
                    dot_expr(F.col("va"), F.col("vb")),
                    F.col("na") * F.col("nb"),
                ),
                6,
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )

    comp = connected_components(pairs, src="vec_a", dst="vec_b").select(
        F.col("url").alias("vec_id"), F.col("cluster_id").alias("sem_group")
    )
    grouped = members.select("vec_id", "list_id", "centroid_cos").join(
        comp, "vec_id", "left"
    ).select(
        "vec_id",
        "list_id",
        "centroid_cos",
        F.coalesce("sem_group", "vec_id").alias("sem_group"),
    )
    # keep-the-novel rule: min over (centroid_cos, vec_id) — centroid_cos
    # is never NULL (nonzero vectors have strictly positive norms; zero
    # vectors get 0.0 from the _safe_cos guard), so Spark's nulls-first
    # struct ordering and the oracle's plain ORDER BY agree
    reps = grouped.groupBy("sem_group").agg(
        F.min_by(
            "vec_id", F.struct(F.col("centroid_cos"), F.col("vec_id"))
        ).alias("rep_id"),
        F.count("*").cast("long").alias("group_size"),
    )
    return grouped.join(reps, "sem_group").select(
        "vec_id",
        "list_id",
        "centroid_cos",
        "sem_group",
        "group_size",
        "rep_id",
        (F.col("vec_id") == F.col("rep_id")).alias("keep"),
    )
