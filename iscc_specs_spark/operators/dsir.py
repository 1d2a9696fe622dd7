"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
arXiv:2302.03169): pick raw-corpus documents that look like a target
corpus, by importance weights over hashed n-gram features.

The published recipe, re-expressed Spark-first:

1. **Features** — lowercase whitespace unigrams + bigrams, hashed into
   ``buckets`` slots (the paper's 10k-bucket hashing trick). One
   ``posexplode`` + a per-document window ``lead`` builds both gram sizes
   in whole-stage codegen (the repo's established explode+lead pattern —
   higher-order ``transform`` lambdas are interpreted per element and were
   measured 10× slower on the hot n-gram paths, see textstats.py).
2. **Model** — two bag-of-features multinomials (raw and target),
   Laplace-smoothed; per-bucket log-likelihood ratio
   ``ln p_target(j) − ln p_raw(j)``. The model is ``buckets`` rows: it is
   fit with two narrow count aggregations and collected driver-side — the
   same bounded-model-build posture as IVF's k×dim centroid collect
   (operators/ann.py); at 100 TB the counts shuffle carries ≤ buckets
   rows per map partition and the collect stays a few KB.
3. **Weights** — per-document importance log-weight
   ``Σ_j count_doc(j) · llr(j)``. The llr is quantized driver-side to
   integer MICRO-units (``floor(x·1e6 + 0.5)`` — identical in Python and
   DuckDB, no banker's-rounding divergence), so the per-doc sum is an
   exact integer: reduction-order-independent, hence byte-identical
   across engines, partitionings and retries (same trick as
   urls.domain_stats' integer-millionths quality sum). Two doc_id-keyed
   shuffles (doc×bucket count, then the weight sum) — doc_id in every
   key, skew-free; the model joins in broadcast.
4. **Resampling** — Gumbel-top-k without replacement: key =
   ``logw + Gumbel(0,1)``, take the k largest. The Gumbel draw must be
   reproducible (re-running a selection on more executors must pick the
   same documents), so the uniform is hash-threshold derived from the
   document id — ``u = (bucket(md5(id)) + 0.5) / DENOM`` — a pure function
   of the id, exactly like sampling.stratified_sample's lottery ticket.
   Top-k is a ``TakeOrderedAndProject`` (partial per-partition top-k, no
   global sort).

Cross-engine contract: ``hash_fn='md5'`` buckets by the first 8 md5 hex
chars (DuckDB: ``('0x' || substr(md5(f),1,8))::BIGINT``) — the driver rows
use it so the DuckDB twin (oracles.dsir_*_sql) re-derives model, weights
and selection from the same documents table, value-identical.
``'xxh64'`` is the production bucket hash (JVM-native, ~2× faster), same
md5-for-oracle / xxh64-for-production dual as fingerprints and
semantic.featurize_text.

Reference scope note: beyond-reference surface (a training-data curation
stage; /root/reference has no sampling or mixing machinery).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iscc_specs_spark.operators.sampling import hash_bucket

DENOM = 1_000_000
MICRO = 1_000_000


def doc_features(
    docs: DataFrame,
    buckets: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "xxh64",
) -> DataFrame:
    """Hashed unigram+bigram counts: ``(id, j, cnt)``, one row per
    document × occupied bucket.

    The gram string never shuffles: rows are projected to the bucket id
    before the one (id, j)-keyed aggregation — fixed-width key, doc id in
    the key, skew-free."""
    text = F.lower(F.trim(F.coalesce(F.col(text_col), F.lit(""))))
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.when(text == "", F.array().cast("array<string>")).otherwise(
                F.split(text, r"\s+")
            )
        ).alias("pos", "t0"),
    )
    w = Window.partitionBy("id").orderBy("pos")
    leads = toks.select("id", "t0", F.lead("t0", 1).over(w).alias("t1"))
    grams = leads.select(
        "id",
        F.explode(
            F.when(
                F.col("t1").isNotNull(),
                F.array(F.col("t0"), F.concat_ws(" ", "t0", "t1")),
            ).otherwise(F.array(F.col("t0")))
        ).alias("feat"),
    )
    return (
        grams.select("id", hash_bucket(F.col("feat"), buckets, hash_fn).alias("j"))
        .groupBy("id", "j")
        .agg(F.count("*").alias("cnt"))
    )


def _bucket_counts(feats: DataFrame, buckets: int) -> list[int]:
    """Total occurrence count per bucket (dense, length ``buckets``) —
    one narrow aggregation, bounded collect (≤ buckets rows)."""
    out = [0] * buckets
    for r in feats.groupBy("j").agg(F.sum("cnt").alias("c")).collect():
        out[int(r["j"])] = int(r["c"])
    return out


def dsir_model(
    spark: SparkSession,
    raw: DataFrame,
    target: DataFrame,
    buckets: int = 4096,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "xxh64",
) -> DataFrame:
    """Fit the importance model: ``(j, llr_micro)`` for every bucket.

    ``llr_micro = floor((ln((c_t+1)/(T_t+B)) − ln((c_r+1)/(T_r+B)))·1e6
    + 0.5)`` with Laplace(+1) smoothing over all B buckets — an exact
    integer per bucket, so every downstream weight sum is order-exact.
    The arithmetic runs driver-side on the two collected count vectors
    (bounded: B longs each); the returned DataFrame is B rows,
    broadcast-sized by construction."""
    c_raw = _bucket_counts(
        doc_features(raw, buckets, id_col, text_col, hash_fn), buckets
    )
    c_tgt = _bucket_counts(
        doc_features(target, buckets, id_col, text_col, hash_fn), buckets
    )
    t_raw = sum(c_raw) + buckets
    t_tgt = sum(c_tgt) + buckets
    rows = []
    for j in range(buckets):
        # expression order mirrors the DuckDB twin exactly (IEEE ops are
        # deterministic given identical order; ln of an integer is the
        # same libm call in both engines on this host)
        llr = (math.log(c_tgt[j] + 1) - math.log(t_tgt)) - (
            math.log(c_raw[j] + 1) - math.log(t_raw)
        )
        rows.append((j, int(math.floor(llr * MICRO + 0.5))))
    return spark.createDataFrame(rows, "j long, llr_micro long")


def importance_weights(
    docs: DataFrame,
    model: DataFrame,
    buckets: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "xxh64",
) -> DataFrame:
    """Per-document importance log-weight: ``(id_col, n_grams,
    logw_micro)``.

    ``logw_micro = Σ_j cnt(j)·llr_micro(j)`` — exact integer arithmetic
    end to end. Gram-less documents keep weight 0 via the id-side left
    join (they carry no evidence either way). The model side broadcasts
    (≤ buckets rows); both shuffles are doc-keyed."""
    feats = doc_features(docs, buckets, id_col, text_col, hash_fn)
    per_doc = (
        feats.join(F.broadcast(model), "j")
        .groupBy("id")
        .agg(
            F.sum("cnt").alias("n_grams"),
            F.sum(F.col("cnt") * F.col("llr_micro")).alias("logw_micro"),
        )
        .withColumnRenamed("id", "__dsir_id")  # never collides with id_col
    )
    return (
        docs.select(F.col(id_col))
        .join(per_doc, F.col(id_col) == F.col("__dsir_id"), "left")
        .select(
            id_col,
            F.coalesce(F.col("n_grams"), F.lit(0)).alias("n_grams"),
            F.coalesce(F.col("logw_micro"), F.lit(0)).alias("logw_micro"),
        )
    )


def gumbel_key(id_col: Column, logw_micro: Column, hash_fn: str) -> Column:
    """Gumbel-perturbed selection key: ``logw + (−ln(−ln(u)))`` with the
    uniform ``u = (bucket(id) + 0.5) / DENOM`` a pure function of the id —
    deterministic across retries, partitionings and engines."""
    u = (hash_bucket(id_col.cast("string"), DENOM, hash_fn) + F.lit(0.5)) / F.lit(
        float(DENOM)
    )
    return logw_micro / F.lit(float(MICRO)) - F.log(-F.log(u))


def dsir_sample(
    docs: DataFrame,
    model: DataFrame,
    k: int,
    buckets: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "xxh64",
) -> DataFrame:
    """Gumbel-top-k importance resampling: the k documents with the
    largest ``logw + Gumbel`` keys — equivalent to weighted sampling
    WITHOUT replacement under weights ``exp(logw)`` (Vieira 2014), but
    fully deterministic here because the Gumbel draw is hash-derived.

    Returns ``(id_col, n_grams, logw_micro)``; the float key stays
    internal (integer outputs keep the cross-engine hash contract away
    from float formatting). Plan shape: TakeOrderedAndProject — each
    partition ships only its local top-k."""
    w = importance_weights(docs, model, buckets, id_col, text_col, hash_fn)
    key = gumbel_key(F.col(id_col), F.col("logw_micro"), hash_fn)
    return (
        w.orderBy(key.desc(), F.col(id_col))
        .limit(k)
        .select(id_col, "n_grams", "logw_micro")
    )
