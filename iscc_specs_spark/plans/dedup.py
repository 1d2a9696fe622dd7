"""End-to-end near-duplicate detection + clustering pipeline.

pages → ① codes (Arrow-vectorized codegen) → ② verified dup pairs
(exact ∪ MinHash-LSH ∪ SimHash, native verification) → ③ clusters
(connected components: union-find on the driver for small edge lists,
large-star/small-star rounds otherwise) → ④ canonical pick (keep oldest
warc_ts).

Each stage is materialized through the StageStore seam (parquet snapshot +
manifest); a rerun with the same config resumes from the last completed
stage (kill-after-stage produces byte-identical final clusters — T4).
"""

from __future__ import annotations

from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iscc_specs_spark.operators.codegen import compute_codes
from iscc_specs_spark.operators.cluster import assign_clusters
from iscc_specs_spark.operators import lsh
from iscc_specs_spark.sources.storage import StageStore, config_hash


@dataclass
class DedupConfig:
    bucket_cap: int = 64


def _fingerprint(cfg: DedupConfig) -> str:
    """The config plus the LSH constants every stage is built with."""
    return config_hash({
        **asdict(cfg), **lsh.band_geometry(),
        "cid_max": lsh.CID_T_MAX_HAMMING, "sim_max": lsh.SIMHASH_MAX_HAMMING,
    })


def lsh_metrics(band_table: DataFrame, bucket_cap: int) -> dict:
    """Bucket-size distribution — the observable record of skew mitigation."""
    row = (
        band_table.groupBy("band_id", "band_hash")
        .agg(F.count("*").alias("n"))
        .agg(
            F.count("*").alias("n_buckets"),
            F.max("n").alias("max_bucket"),
            F.sum(F.when(F.col("n") > bucket_cap, 1).otherwise(0)).alias("capped_buckets"),
            F.sum(F.when(F.col("n") > bucket_cap, F.col("n")).otherwise(0)).alias(
                "rows_in_capped"
            ),
        )
        .collect()[0]
    )
    return {k: int(row[k] or 0) for k in row.asDict()}


def canonical_pick(codes: DataFrame, clusters: DataFrame) -> DataFrame:
    """(url, cluster_id, is_canonical): keep the oldest (warc_ts, url) per
    cluster, one row per ``clusters`` row (one per url). The champion is
    taken over every crawl row of ``codes``, so a re-crawled url competes
    with its oldest crawl.

    min_by aggregation, NOT a row_number window: the window's
    partitionBy(cluster_id) sort puts a degenerate mega-cluster (a template
    farm is ~10⁴ members at 1 M pages, unbounded at 10¹²) into a single
    sorting task, while min_by partially aggregates map-side — the shuffle
    carries one candidate row per (map partition, cluster), so no cluster
    size can skew it. The member→champion join is a plain equi-join on
    cluster_id (AQE skew-split-able; O(k) data movement, no per-cluster
    sort).

    NULL ordering: Spark's struct ordering inside ``min_by`` is nulls-FIRST,
    so a NULL warc_ts wins the pick — also over a dated crawl of the same
    url; the DuckDB twins pin ``ORDER BY warc_ts ASC NULLS FIRST, url`` to
    match (oracles.py)."""
    crawls = codes.select("url", "warc_ts").join(clusters, "url")
    champs = crawls.groupBy("cluster_id").agg(
        F.min_by("url", F.struct("warc_ts", "url")).alias("_champ")
    )
    return clusters.join(champs, "cluster_id").select(
        "url",
        "cluster_id",
        (F.col("url") == F.col("_champ")).alias("is_canonical"),
    )


def run_dedup(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    cfg: DedupConfig | None = None,
) -> dict:
    """Returns {"clusters": DataFrame, "store": StageStore, ...stage dfs}."""
    cfg = cfg or DedupConfig()
    store = StageStore(out_dir, _fingerprint(cfg))

    # ① codes
    if store.has("codes"):
        codes = store.read(spark, "codes")
    else:
        codes = store.write(compute_codes(pages), "codes")

    # ② dup pairs
    if store.has("dup_pairs"):
        pairs = store.read(spark, "dup_pairs")
    else:
        # one slim representative table feeds BOTH the band stage and the
        # exact-dup pairing (previously two independent full-corpus
        # aggregations). No written stage covers it: the bands stage keeps
        # only band keys, not the payload verification reads
        slim = lsh.rep_codes(codes).localCheckpoint(eager=True)
        # the bands stage: keys-only rows (url, band_id, band_hash) at rest,
        # unpartitioned, the streaming probe's band-row shape. Nothing
        # reads it back: the metrics pass and the pair generator consume
        # the payload-carrying band rows in-plan over the checkpointed slim
        # table, which a resume rebuilds anyway
        if not store.has("bands"):
            store.save(lsh.band_keys(slim), "bands")
        band_rows = lsh.band_rows_table(slim)
        pairs = store.write(
            lsh.dup_pairs(codes, cfg.bucket_cap, slim=slim, band_rows=band_rows),
            "dup_pairs",
            lsh_metrics(band_rows, cfg.bucket_cap),
        )

    # ③ clusters (+ singleton attach), one row per url
    if store.has("clusters"):
        clusters = store.read(spark, "clusters")
    else:
        clusters = store.write(
            assign_clusters(codes.select("url"), pairs), "clusters"
        )

    # ④ canonical representative per cluster: keep oldest (warc_ts, url)
    # (skew-free min_by — see canonical_pick), url-sorted within each file
    # so its bytes do not follow the arrival order of shuffle blocks
    if store.has("canonical"):
        canonical = store.read(spark, "canonical")
    else:
        canonical = store.write(
            canonical_pick(codes, clusters).sortWithinPartitions("url"), "canonical"
        )

    return {
        "codes": codes,
        "dup_pairs": pairs,
        "clusters": clusters,
        "canonical": canonical,
        "store": store,
    }
