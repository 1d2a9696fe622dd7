"""Deterministic stratified corpus sampling — the "mixing weights" step of
a training-data pipeline.

Corpus mixing assigns each stratum (language, source domain, quality band)
a sampling fraction and draws that fraction *reproducibly*: re-running the
pipeline, adding executors, or reordering input files must select exactly
the same documents (``df.sample`` is none of those — it is seed-and-
partition-layout dependent). The standard trick is hash-threshold
sampling: keep a row iff ``hash(key) mod D < round(frac · D)``. The keep
decision is a pure function of the key, so it is stable under retries,
repartitioning and incremental reruns, and two different pipelines
sampling the same corpus at fractions f₁ < f₂ produce NESTED samples
(bucket < f₁·D ⊂ bucket < f₂·D) — useful for scaling-law ladders.

Spark posture: the whole operator is one codegen-resident filter — no
shuffle, no UDF, no state. At 100 TB it fuses into the scan (the threshold
CASE and the hash both run inside WholeStageCodegen; with the corpus
partitioned by the strata column the non-sampled strata prune away
entirely). Reference scope note: beyond-reference surface (the reference
has no sampling); the md5-for-oracle / xxh64-for-production dual is the
repo's established cross-engine pattern (operators/semantic.featurize_text,
fingerprints).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DENOM = 1_000_000


def hash_bucket(key: Column, denom: int, hash_fn: str) -> Column:
    """A string column's bucket in ``[0, denom)``, for sampling, dsir and
    semantic.featurize_text. ``'md5'`` (first 8 hex chars) is
    byte-identical in DuckDB: ``('0x' || substr(md5(key), 1, 8))::UBIGINT
    % denom``; ``'xxh64'`` is the JVM-native production hash."""
    if hash_fn == "md5":
        return F.pmod(
            F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long"),
            F.lit(denom),
        )
    if hash_fn == "xxh64":
        return F.pmod(F.xxhash64(key), F.lit(denom))
    raise ValueError(f"unknown hash_fn {hash_fn!r}")


def stratified_sample(
    docs: DataFrame,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
    strata_col: str = "lang",
    key_col: str = "doc_id",
    hash_fn: str = "xxh64",
    denom: int = DENOM,
) -> DataFrame:
    """Filter ``docs`` to a deterministic stratified sample.

    ``fractions`` maps stratum value → sampling fraction in [0, 1];
    strata absent from the map get ``default_fraction``. Thresholds are
    fixed to integers (``round(frac · denom)``) on the driver so the keep
    predicate is exact integer arithmetic — no float comparison can drift
    between engines or releases. Returns the input rows that survive, all
    columns intact, plus the ``sample_bucket`` column for audit (a doc's
    bucket is its permanent lottery ticket: fraction changes re-use it).

    NULL strata fall under ``default_fraction`` (CASE WHEN on NULL matches
    no branch); a NULL key hashes like the string "NULL"-cast result in
    neither engine — keys are expected non-null (primary-key column).
    """
    for s, f_ in fractions.items():
        if not 0.0 <= f_ <= 1.0:
            raise ValueError(f"stratified_sample: fraction {f_} for {s!r}")
    if not 0.0 <= default_fraction <= 1.0:
        raise ValueError(
            f"stratified_sample: default_fraction {default_fraction}"
        )
    thresholds = {s: int(round(f_ * denom)) for s, f_ in fractions.items()}
    thr: Column = F.lit(int(round(default_fraction * denom)))
    for s, t in sorted(thresholds.items()):
        thr = F.when(F.col(strata_col) == s, F.lit(t)).otherwise(thr)
    bucket = hash_bucket(F.col(key_col).cast("string"), denom, hash_fn)
    return docs.withColumn("sample_bucket", bucket).where(
        F.col("sample_bucket") < thr
    )


def sample_report(
    docs: DataFrame,
    sampled: DataFrame,
    strata_col: str = "lang",
    key_col: str = "doc_id",
) -> DataFrame:
    """Per-stratum audit of a sample: input count, sampled count, achieved
    rate — the table a mixing run records next to its output so the
    realized mixture is checkable against the requested one. One map-side-
    combining aggregation per side, joined on the (tiny) strata key."""
    n_in = docs.groupBy(strata_col).agg(F.count(key_col).alias("n_in"))
    n_out = sampled.groupBy(strata_col).agg(F.count(key_col).alias("n_sampled"))
    return (
        n_in.join(n_out, strata_col, "left")
        .select(
            strata_col,
            "n_in",
            F.coalesce(F.col("n_sampled"), F.lit(0)).alias("n_sampled"),
            F.round(
                F.coalesce(F.col("n_sampled"), F.lit(0)) / F.col("n_in"), 6
            ).alias("rate"),
        )
    )
