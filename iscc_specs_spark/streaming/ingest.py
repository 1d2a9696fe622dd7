"""Structured Streaming ingest: continuous pages → codes → dup flags.

The reference has zero streaming semantics (SURVEY.md §1.2) and the
north-rule resumability is batch snapshot/restart — but a production crawl
delivers pages continuously, so the engine also exposes the codegen stage as
a streaming sink:

    pages stream (file source over the same pages schema)
      → compute_codes (the identical Arrow-vectorized mapInPandas stage —
        mapInPandas is streaming-capable, no separate code path)
      → foreachBatch append into a codes table partitioned by ingest batch

Exactly-once: Spark's streaming checkpoint (offset log + commit log) makes
each micro-batch replay idempotent; the sink writes each batch into its own
``ingest_batch=<id>`` partition directory with dynamic partition overwrite,
so a replayed batch overwrites itself instead of duplicating.

Dedup runs incrementally on the same state: ``process_dedup_batch`` flags
each micro-batch's duplicates, within the batch and against a maintained
band index of every earlier batch, with the batch engine's own candidate
router and pair verifier (operators/lsh.py). Near-dup clustering is a
global fixpoint, not a per-window computation, so windowed streaming state
would be the wrong tool (SURVEY.md §2.7): ``curate_state`` closes the
accumulated flags into clusters and canonical picks on demand, with the
batch operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from iscc_specs_spark.operators.codegen import compute_codes

PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)

# dup_flags state schema (ingest_batch is the partition column). Consumers
# must read with this explicit schema: a stream whose batches produced zero
# flags so far leaves an empty partitioned dir (only _SUCCESS), which
# schema inference cannot read.
FLAGS_SCHEMA = "url string, dup_of string, src string, ingest_batch int"

# The maintained band index at ``state_dir/bands`` is partitioned by
# (ingest_batch, band_pfx) where band_pfx = pmod(xxhash64(band_id,
# band_hash), INDEX_BUCKETS): ingest_batch gives replay-safe `< batch_id`
# pruning, band_pfx gives the vs-history probe *static partition pruning*
# down to the new batch's own key prefixes — per-batch probe I/O is bounded
# by |distinct new prefixes| / INDEX_BUCKETS of the index instead of a full
# scan. INDEX_BUCKETS is the modulus of both streaming indexes (band_pfx
# here, url_pfx for the url index); it is baked into the stored directory
# layout, so each index records it in ``_INDEX_META.json`` at first write
# and the recorded value wins for the state dir's lifetime.
# process_dedup_batch is the index's only writer and always writes this
# layout; a state dir whose codes history has no index, or whose index
# lacks band_pfx or records another band geometry, raises BandIndexError.
# The prefix expression and bucket count are shared with the batch
# pipeline's at-rest band stage table (operators/lsh.py).
from iscc_specs_spark.operators.lsh import (  # noqa: E402
    BAND_PFX_BUCKETS as INDEX_BUCKETS,
    band_pfx,
)


def _read_state(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """An accumulated state table read with its explicit schema: an empty
    dir or an absent dir gives an empty DataFrame, never a
    schema-inference failure."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.schema(schema).parquet(path)
    except AnalysisException as e:
        if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
            return spark.createDataFrame([], schema)
        raise


def _write_batch(
    df: DataFrame, batch_id: int, path: str, *parts: str
) -> None:
    """Write one micro-batch's rows into its own ``ingest_batch=<id>``
    partition (then ``parts``) with dynamic partition overwrite, so a
    replayed batch overwrites its own earlier write."""
    (
        df.withColumn("ingest_batch", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest_batch", *parts)
        .parquet(path)
    )


def read_dup_flags(spark: SparkSession, state_dir: str) -> DataFrame:
    """Accumulated dup-flags state, schema-stable even when no batch has
    emitted a flag yet (empty dir → empty DataFrame, absent dir → empty
    DataFrame, never a schema-inference failure)."""
    return _read_state(spark, f"{state_dir}/dup_flags", FLAGS_SCHEMA)


def read_pages_stream(
    spark: SparkSession, source_dir: str, max_files_per_trigger: int = 4
) -> DataFrame:
    """File-source stream over parquet drops of the pages schema (a stand-in
    for a Kafka/WARC-fetcher source; swapping the source format is a one-line
    change here)."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )


def _start_stream(
    df: DataFrame, sink, checkpoint_dir: str, trigger_once: bool
) -> StreamingQuery:
    """Shared writeStream scaffolding for every track — append mode,
    checkpointed ``foreachBatch``, optional run-to-completion trigger —
    in ONE place so exactly-once wiring cannot diverge between tracks."""
    writer = (
        df.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(sink)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _partition_overwrite_sink(out_dir: str):
    """``foreachBatch`` body shared by the three codes tracks: exactly-once
    via per-batch ``ingest_batch`` dynamic partition overwrite (a replayed
    batch overwrites its own partition)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        _write_batch(batch_df, batch_id, out_dir)

    return sink


def start_codes_stream(
    pages_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    trigger_once: bool = True,
) -> StreamingQuery:
    """pages stream → codes table, exactly-once via checkpoint + per-batch
    partition overwrite."""
    codes = compute_codes(pages_stream)
    return _start_stream(
        codes, _partition_overwrite_sink(out_dir), checkpoint_dir, trigger_once
    )


def read_assets_stream(
    spark: SparkSession, source_dir: str, max_files_per_trigger: int = 4
) -> DataFrame:
    """File-source stream over parquet drops of the multimodal asset schema
    (operators/multimodal.py:ASSET_SCHEMA)."""
    from iscc_specs_spark.operators.multimodal import ASSET_SCHEMA

    return (
        spark.readStream.schema(ASSET_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )


def start_image_codes_stream(
    assets_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    trigger_once: bool = True,
) -> StreamingQuery:
    """Multimodal assets arriving continuously → Content-ID-Image table.

    The identical Arrow-batched ``image_codes`` stage as batch (mapInPandas
    is streaming-capable — no separate code path): PNG/GIF payloads run the
    real decode → normalize → DCT-hash kernel. Exactly-once the same way as
    the text stream: checkpoint + per-batch ``ingest_batch`` partition
    overwrite, so a replayed batch overwrites itself."""
    from iscc_specs_spark.operators.multimodal import image_codes

    return _start_stream(
        image_codes(assets_stream),
        _partition_overwrite_sink(out_dir),
        checkpoint_dir,
        trigger_once,
    )


def start_av_codes_stream(
    assets_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    trigger_once: bool = True,
) -> StreamingQuery:
    """Audio/video assets arriving continuously → engine-defined CID-A/CID-V
    fingerprint table — the A/V sibling of :func:`start_image_codes_stream`
    (operators/multimodal.py:av_codes is the identical Arrow-batched stage
    as batch: WAV-PCM window sampling + animated-GIF frame sampling).
    Exactly-once via checkpoint + per-batch ``ingest_batch`` partition
    overwrite, so a replayed batch overwrites itself."""
    from iscc_specs_spark.operators.multimodal import av_codes

    return _start_stream(
        av_codes(assets_stream),
        _partition_overwrite_sink(out_dir),
        checkpoint_dir,
        trigger_once,
    )


def start_incremental_dedup_stream(
    pages_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    trigger_once: bool = True,
    bucket_cap: int = 64,
) -> StreamingQuery:
    """Streaming near-dup flagging: each micro-batch's pages are coded and
    LSH-matched against every previously ingested document, then appended to
    the accumulated state — new duplicates are flagged as they arrive
    instead of waiting for the next global batch job.

    Per micro-batch (inside ``foreachBatch``, so plain batch DataFrames):

      1. codes for the new pages (same Arrow-vectorized stage as batch);
      2. within-batch dup pairs via the standard ``lsh.dup_pairs``;
      3. batch-vs-history candidates: the *new* batch's band keys join the
         MAINTAINED band index at ``state_dir/bands`` (appended batch by
         batch — history codes are never re-banded, so per-batch kernel
         work stays O(|batch|) regardless of corpus age) — the new side is
         tiny, so Spark broadcasts it and the index streams through;
         verification is the same native Hamming predicate. The index is
         additionally partitioned by ``band_pfx`` (a hash prefix of the
         band key), so the probe statically prunes to the partitions
         holding the new batch's own prefixes instead of scanning the
         whole index;
      4. append codes to ``state_dir/codes``, flags to
         ``state_dir/dup_flags`` and band rows to ``state_dir/bands``,
         each into an ``ingest_batch=<id>`` partition with dynamic
         overwrite — a replayed batch overwrites itself, so the stream
         stays exactly-once end-to-end.

    Flags schema: (url, dup_of, src, ingest_batch) — ``dup_of`` is the
    matched earlier url (within-batch matches point to the pair minimum).
    """
    codes_stream = compute_codes(pages_stream)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        process_dedup_batch(batch_df, batch_id, state_dir, bucket_cap)

    return _start_stream(codes_stream, sink, checkpoint_dir, trigger_once)


def _read_history(spark: SparkSession, path: str) -> DataFrame | None:
    """History codes table, or None iff the path does not exist yet (first
    batch). Any other failure — corrupt files, permissions, transient FS
    faults — propagates and fails the stream rather than silently skipping
    vs-history flagging for the batch."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        if (
            "PATH_NOT_FOUND" in str(e)
            or "Path does not exist" in str(e)
            # an empty first batch writes only _SUCCESS — no schema to
            # infer yet, semantically the same as "no history"
            or "UNABLE_TO_INFER_SCHEMA" in str(e)
        ):
            return None
        raise


def _index_meta(state_dir: str, sub: str) -> dict:
    """The index's ON-DISK layout record ``<sub>/_INDEX_META.json``, or
    ``{}`` for an index not written yet. Its ``index_buckets`` wins over
    :data:`INDEX_BUCKETS`: ``band_pfx`` partition pruning is only correct
    when probe prefixes are computed with the same modulus the index was
    written with — a changed constant would silently prune away true
    vs-history matches (missed dup flags, no error). The band index also
    records its ``band_geometry``: keys computed another way match
    nothing. The first writer records the layout (underscore-prefixed
    files are invisible to Spark's parquet listing); later batches — and
    restarts of a build with a different constant — read it from there.
    Local-FS JSON is the sandbox seam; at warehouse scale these are fields
    of the table's manifest (sources/storage.py)."""
    import json
    import os

    meta = os.path.join(state_dir, sub, "_INDEX_META.json")
    if os.path.exists(meta):
        with open(meta) as f:
            return json.load(f)
    return {}


def _record_index_meta(state_dir: str, sub: str, record: dict) -> None:
    import json
    import os

    meta = os.path.join(state_dir, sub, "_INDEX_META.json")
    if not os.path.exists(meta):
        os.makedirs(os.path.dirname(meta), exist_ok=True)
        # atomic: a crash mid-write must not leave a truncated JSON file —
        # _index_meta would raise on EVERY later batch (the one crash
        # window with no self-healing path)
        tmp = meta + ".tmp"
        with open(tmp, "w") as f:
            json.dump(record, f)
        os.replace(tmp, meta)


class BandIndexError(RuntimeError):
    """A streaming state dir whose maintained streaming index is missing or
    not in the layout its only writer writes: (ingest_batch, band_pfx) and
    this build's band geometry for process_dedup_batch's band index,
    (ingest_batch, url_pfx) for process_url_batch's url index."""


def read_band_index(
    spark: SparkSession,
    state_dir: str,
    batch_id: int,
    new_pfx: list[int] | None = None,
) -> DataFrame | None:
    """Pruned view of the maintained band index for batch ``batch_id``'s
    vs-history probe: replay-safe ``ingest_batch < batch_id`` plus — when
    the probe supplies its prefix set — a literal ``band_pfx IN (...)``
    partition filter, so the scan lists only matching partition
    directories (static pruning: both predicates are on partition columns
    and appear as PartitionFilters in the plan). Returns None iff the index
    does not exist yet; raises :class:`BandIndexError` if it lacks the
    ``band_pfx`` partition column."""
    hb = _read_history(spark, f"{state_dir}/bands")
    if hb is None:
        return None
    if "band_pfx" not in hb.columns:
        raise BandIndexError(
            f"band index {state_dir}/bands has no band_pfx partition column: "
            "it was not written by process_dedup_batch's (ingest_batch, "
            "band_pfx) layout; rebuild the state dir"
        )
    hb = hb.where(F.col("ingest_batch") < F.lit(batch_id))
    if new_pfx is not None:
        hb = hb.where(F.col("band_pfx").isin(sorted(new_pfx)))
    return hb.select("url", "band_id", "band_hash")


def process_dedup_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    bucket_cap: int = 64,
) -> None:
    """One micro-batch of the incremental dedup stream (the ``foreachBatch``
    body, exposed at module level so replay semantics are testable and the
    driver contract can run a deterministic two-batch replay).

    Idempotent under replay: history is filtered to ``ingest_batch <
    batch_id`` — when a batch is retried after a failure between the state
    write and the checkpoint commit, its own previously-written partition is
    excluded, so documents never match their own earlier write (which would
    flag every doc as a hamming-0 dup of itself). ``ingest_batch`` is the
    partition column, so the filter is partition pruning, not a scan.

    The historical band table is a *maintained index*, not a per-batch
    recomputation: each batch appends its own band rows to
    ``state_dir/bands`` (same ``ingest_batch`` partition-overwrite sink as
    codes/flags, so replay overwrites itself), and the vs-history probe
    reads that table directly. Without the index, banding the accumulated
    codes table costs O(|history|) *kernel work* per micro-batch — ingest
    cost would grow linearly with corpus age; with it, per-batch work is
    O(|batch|) banding + one pruned probe of the index.

    Index layout: partitioned by (ingest_batch, band_pfx) where band_pfx =
    pmod(xxhash64(band_id, band_hash), INDEX_BUCKETS). Before the probe,
    the new batch's ≤ INDEX_BUCKETS distinct prefixes are collected (a
    bounded driver list, same class as the lineage/metric collects) and
    pushed down as a literal IN partition filter — the probe's scan lists
    only matching partition directories (static pruning, visible in the
    plan's PartitionFilters and in ``inputFiles()``), so probe I/O per
    batch is bounded by the new batch's key-prefix coverage of the index
    rather than the index's full size. The bucket modulus is recorded in
    the index's ``_INDEX_META.json`` on first write and ALWAYS wins over
    :data:`INDEX_BUCKETS` afterwards (a mismatched modulus would silently
    prune away true matches).

    A state dir this function did not write fails loudly: when codes
    history exists but ``state_dir/bands`` does not, the index lacks the
    ``band_pfx`` column, or its recorded band geometry is missing or not
    :func:`lsh.band_geometry` (read before any Spark job),
    :class:`BandIndexError` is raised before any state is written.
    """
    import os

    from iscc_specs_spark.operators import lsh

    spark = batch_df.sparkSession
    meta = _index_meta(state_dir, "bands")
    geometry = lsh.band_geometry()
    if os.path.isdir(f"{state_dir}/bands") and meta.get("band_geometry") != geometry:
        raise BandIndexError(
            f"band index {state_dir}/bands records band geometry "
            f"{meta.get('band_geometry')}, not {geometry}; rebuild the state dir"
        )
    index_buckets = meta.get("index_buckets", INDEX_BUCKETS)
    batch = batch_df.localCheckpoint(eager=True)

    # one representative table per batch: the within-batch pairs and the
    # vs-history probe (banding + verify side a) all read it
    new_slim = lsh.rep_codes(batch).localCheckpoint(eager=True)
    # within-batch pairs (standard path; url_a < url_b → flag url_b)
    intra = lsh.dup_pairs(batch, bucket_cap=bucket_cap, slim=new_slim).select(
        F.col("url_b").alias("url"), F.col("url_a").alias("dup_of"),
        F.lit("intra_batch").alias("src"),
    )

    # this batch's contribution to the band index (ALL rows, matching the
    # probe semantics: every historical row must be findable, not just its
    # exact-dup representative)
    own_bands = lsh.band_keys(batch).withColumn(
        "band_pfx", band_pfx(index_buckets)
    )

    hist = _read_history(spark, f"{state_dir}/codes")
    if hist is not None:
        # exclude this batch's own partition: a replayed batch must not
        # match against its own prior (uncommitted) write
        hist = hist.where(F.col("ingest_batch") < F.lit(batch_id))
    if hist is not None and hist.head(1):
        # nb feeds the prefix collect, the key semi-join and the broadcast
        # probe — lazy, each reference would re-run the banding
        nb = lsh.band_keys(new_slim).localCheckpoint(eager=True)
        # the new batch's key prefixes: ≤ index_buckets ints, collected on
        # the driver and pushed down as a literal partition filter (static
        # pruning — the probe never lists non-matching band_pfx dirs)
        new_pfx = sorted(
            r[0]
            for r in nb.select(band_pfx(index_buckets).alias("p"))
            .distinct()
            .collect()
        )
        hb = read_band_index(spark, state_dir, batch_id, new_pfx)
        if hb is None:
            raise BandIndexError(
                f"state dir {state_dir} holds codes history but no band "
                f"index at {state_dir}/bands; rebuild the state dir"
            )
        # vs-history candidates with the engine-standard hot-bucket cap
        # (lsh.hot_buckets): the index restricted to the new batch's band
        # keys (semi-join — each history row matches once per key, NOT once
        # per new url) splits into cold rows, paired with every new member,
        # and one min-url hub per hot bucket, which takes each new member's
        # single edge — a template-farm band key costs O(|new|) candidates
        # per batch, not O(|new| × |hist_bucket|)
        nbn = F.broadcast(nb.withColumnRenamed("url", "new_url"))
        new_keys = nb.select("band_id", "band_hash").dropDuplicates()
        hb_new = hb.join(F.broadcast(new_keys), ["band_id", "band_hash"])
        cold_rows, hubs = lsh.hot_buckets(hb_new, bucket_cap, F.col("url"))
        cand = (
            cold_rows.withColumnRenamed("url", "url_b")
            .unionByName(hubs.withColumnRenamed("hub", "url_b"))
            .join(nbn, ["band_id", "band_hash"])
            .select(
                F.col("new_url").alias("url_a"), "url_b",
                F.lit("lsh").alias("src"),
            )
            .dropDuplicates(["url_a", "url_b"])
        )
        cross = lsh.verify_pairs(cand, new_slim, codes_b=hist).select(
            F.col("url_a").alias("url"), F.col("url_b").alias("dup_of"),
            F.lit("vs_history").alias("src"),
        )
        flags = intra.unionByName(cross)
    else:
        flags = intra

    # flags + codes + this batch's band-index rows, each into its own
    # ingest_batch partition (replay overwrites itself in all three); the
    # band index is additionally partitioned by band_pfx for probe pruning,
    # and repartitioned by it first so each band_pfx directory of a batch
    # gets one file (≤ index_buckets files per batch, not tasks × buckets)
    _record_index_meta(
        state_dir, "bands",
        {"index_buckets": index_buckets, "band_geometry": geometry},
    )
    _write_batch(flags, batch_id, f"{state_dir}/dup_flags")
    _write_batch(batch, batch_id, f"{state_dir}/codes")
    _write_batch(
        own_bands.repartition("band_pfx"), batch_id, f"{state_dir}/bands",
        "band_pfx",
    )


def curate_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """Periodic curation over the accumulated streaming state — the bridge
    between the streaming and batch surfaces.

    The incremental dup flags ARE an edge list (url → dup_of, one edge per
    detected duplicate relation, intra-batch and vs-history alike), so the
    global canonical corpus is recovered by running the batch engine's own
    operators over the state tables:

        codes(state) + flags-as-edges → connected components →
        canonical_pick (skew-free min_by on (warc_ts, url))

    Returns (url, cluster_id, is_canonical): every ingested url with its
    duplicate cluster and whether it is the cluster's canonical
    representative (the oldest (warc_ts, url) member, matching
    plans/dedup.py §④). Run after any micro-batch to get the
    curated-corpus delta without waiting for a global batch job; a
    rerun over unchanged state is deterministic.
    """
    from iscc_specs_spark.operators.cluster import assign_clusters
    from iscc_specs_spark.plans.dedup import canonical_pick

    codes = _read_history(spark, f"{state_dir}/codes")
    if codes is None:
        # no batch has landed data yet (missing dir, or an empty first
        # micro-batch's _SUCCESS-only drop): schema-stable empty result,
        # same hardening contract as read_dup_flags
        return spark.createDataFrame(
            [], "url string, cluster_id string, is_canonical boolean"
        )
    # a re-crawled url has one codes row per ingesting batch: collapse to
    # one row per url BEFORE clustering — assign_clusters would otherwise
    # emit N cluster rows and canonical_pick's members join would square
    # them (N² identical output rows for a url crawled N times). min()
    # skips NULL warc_ts identically in Spark and DuckDB, so the earliest
    # NON-NULL crawl timestamp represents the url in the canonical pick.
    urls = codes.groupBy("url").agg(F.min("warc_ts").alias("warc_ts"))
    flags = read_dup_flags(spark, state_dir)
    edges = flags.select(
        F.col("url").alias("url_a"), F.col("dup_of").alias("url_b")
    )
    clusters = assign_clusters(urls.select("url"), edges)
    return canonical_pick(urls, clusters)


# ---------------------------------------------------------------------------
# Streaming canonical-URL crawl dedup (re-crawl handling)
# ---------------------------------------------------------------------------

# url_flags state schema (ingest_batch is the partition column); read with
# the explicit schema for the same empty-partition reason as FLAGS_SCHEMA.
URL_FLAGS_SCHEMA = (
    "url string, dup_of string, canon_url string, src string, ingest_batch int"
)


def _url_pfx(buckets: int):
    return F.pmod(F.xxhash64(F.col("canon_url")), F.lit(buckets)).cast("int")


def read_url_flags(spark: SparkSession, state_dir: str) -> DataFrame:
    """Accumulated url-recrawl flags, schema-stable when empty (same
    contract as :func:`read_dup_flags`)."""
    return _read_state(spark, f"{state_dir}/url_flags", URL_FLAGS_SCHEMA)


def read_url_index(
    spark: SparkSession,
    state_dir: str,
    batch_id: int,
    new_pfx: list[int] | None = None,
) -> DataFrame | None:
    """Pruned view of the maintained url index for batch ``batch_id``'s
    re-crawl probe: replay-safe ``ingest_batch < batch_id`` plus a literal
    ``url_pfx IN (...)`` partition filter when the probe supplies its
    prefix set (both predicates on partition columns — static pruning,
    same contract as :func:`read_band_index`). Returns None iff the index
    does not exist yet (first batch); raises :class:`BandIndexError` if it
    lacks the ``url_pfx`` partition column."""
    hist = _read_history(spark, f"{state_dir}/urls")
    if hist is None:
        return None
    if "url_pfx" not in hist.columns:
        raise BandIndexError(
            f"url index {state_dir}/urls has no url_pfx partition column: "
            "it was not written by process_url_batch's (ingest_batch, "
            "url_pfx) layout; rebuild the state dir"
        )
    hist = hist.where(F.col("ingest_batch") < F.lit(batch_id))
    if new_pfx is not None:
        hist = hist.where(F.col("url_pfx").isin(sorted(new_pfx)))
    return hist.select("canon_url", "url", "last_ts", "ingest_batch")


def process_url_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
) -> None:
    """One micro-batch of streaming canonical-URL crawl dedup (the
    ``foreachBatch`` body, module-level so replay semantics are testable).

    The batch's pages are canonicalized ONCE (codegen projection), then:

      1. within-batch: one keeper per canonical url via the batch
         operator's rule (latest ``warc_ts``, ties to the smallest url);
         every other spelling is flagged ``src='intra_batch'`` against the
         keeper;
      2. vs history: the keeper set probes the MAINTAINED url index at
         ``state_dir/urls`` — partitioned (ingest_batch, url_pfx), probed
         with a literal prefix IN-list exactly like the band index, so
         probe I/O is bounded by the batch's own prefix coverage, never
         the index's age. A keeper whose canonical url is already indexed
         is flagged ``src='vs_history'`` against the EARLIEST indexed
         spelling (first-arrival wins across batches — a stream cannot
         retract what it already emitted, so later re-crawls are flagged
         rather than replacing; the batch plan's latest-wins rule applies
         when the corpus is re-curated from state);
      3. this batch's keepers append to the index, flags to
         ``state_dir/url_flags``, each under its own ``ingest_batch``
         partition with dynamic overwrite — a replayed batch overwrites
         itself and (via ``ingest_batch < batch_id`` in the probe) never
         matches its own prior uncommitted write.

    The bucket modulus is recorded in ``urls/_INDEX_META.json`` on first
    write and always wins over :data:`INDEX_BUCKETS` afterwards (same
    invariant as the band index: a mismatched modulus would silently prune
    true re-crawl matches). An index without the ``url_pfx`` column raises
    :class:`BandIndexError` before any state is written.
    """
    from iscc_specs_spark.operators.urls import canonical_url, url_dedup

    spark = batch_df.sparkSession
    url_buckets = _index_meta(state_dir, "urls").get("index_buckets", INDEX_BUCKETS)
    batch = (
        batch_df.select("url", "warc_ts")
        .withColumn("canon_url", canonical_url("url"))
        .localCheckpoint(eager=True)
    )

    kept = url_dedup(batch, canon_col="canon_url").localCheckpoint(eager=True)
    intra = (
        batch.join(
            kept.select("canon_url", F.col("url").alias("keep_url")),
            "canon_url",
        )
        .where(F.col("url") != F.col("keep_url"))
        .select(
            "url",
            F.col("keep_url").alias("dup_of"),
            "canon_url",
            F.lit("intra_batch").alias("src"),
        )
    )

    keeper = kept.withColumn("url_pfx", _url_pfx(url_buckets))
    new_pfx = sorted(
        r[0] for r in keeper.select("url_pfx").distinct().collect()
    )
    hist = read_url_index(spark, state_dir, batch_id, new_pfx)
    flags = intra
    if hist is not None and hist.head(1):
        first = (
            hist.groupBy("canon_url")
            .agg(F.min(F.struct("ingest_batch", "last_ts", "url")).alias("m"))
            .select("canon_url", F.col("m.url").alias("dup_of"))
        )
        recrawl = (
            keeper.join(first, "canon_url")
            # a re-crawl under the IDENTICAL spelling would flag itself
            # (url == dup_of): drop it — the page is not a dup of a
            # different spelling, and a self-loop flag would make the
            # documented pre-filter composition remove the url entirely
            # (same guard as the content stream's re-crawled-url case)
            .where(F.col("url") != F.col("dup_of"))
            .select(
                "url",
                "dup_of",
                "canon_url",
                F.lit("vs_history").alias("src"),
            )
        )
        flags = intra.unionByName(recrawl)

    _record_index_meta(state_dir, "urls", {"index_buckets": url_buckets})
    _write_batch(flags, batch_id, f"{state_dir}/url_flags")
    _write_batch(
        keeper.select("canon_url", "url", "last_ts", "url_pfx"), batch_id,
        f"{state_dir}/urls", "url_pfx",
    )


def start_url_dedup_stream(
    pages_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    trigger_once: bool = True,
) -> StreamingQuery:
    """Streaming re-crawl dedup: flag every page whose canonical url was
    already ingested (or arrives under several spellings in one batch)
    BEFORE any kernel work — the cheapest duplicate class handled at the
    door, exactly where the batch curation plan's ⓪a stage sits. Compose
    by running this stream's flags as a pre-filter for the incremental
    content-dedup stream, or feed ``read_url_flags`` into curate_state's
    edge list."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        process_url_batch(batch_df, batch_id, state_dir)

    return _start_stream(pages_stream, sink, checkpoint_dir, trigger_once)
