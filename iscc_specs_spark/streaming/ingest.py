"""Structured Streaming ingest: continuous pages → codes → dup flags.

The reference has zero streaming semantics (SURVEY.md §1.2) and the
north-rule resumability is batch snapshot/restart — but a production crawl
delivers pages continuously, so the engine also runs its Arrow-batched
stages on streams. mapInPandas is streaming-capable, so the stage is the
batch one, and one append stream (:func:`start_table_stream`) writes any
of them:

    pages or assets stream (file source over the same schema)
      → compute_codes / image_codes / av_codes (the caller's stage)
      → foreachBatch append into a table partitioned by ingest batch

Exactly-once: Spark's streaming checkpoint (offset log + commit log) makes
each micro-batch replay idempotent; the sink writes each batch into its own
``ingest_batch=<id>`` partition directory with dynamic partition overwrite,
so a replayed batch overwrites itself instead of duplicating.

Dedup runs incrementally on the same state: ``process_dedup_batch`` flags
each micro-batch's duplicates, within the batch and against the codes
history of every earlier batch, with the batch engine's own candidate
router and pair verifier (operators/lsh.py). Its vs-history probe bands
the history it reads for verification with ``lsh.band_keys`` (native
Spark SQL, no kernel work), so band keys are never kept at rest and are
always this build's. ``process_url_batch`` flags re-crawls against a
maintained url index, each micro-batch's rows in its own
``ingest_batch=<id>`` directory of parquet files, under an on-disk
layout check run before any Spark job (:func:`_check_index`). Both
probes read the history through one replay-safe reader
(:func:`_read_history`, ``ingest_batch < batch_id``), every history
batch's files; a broadcast key semi-join then keeps the rows that share
a key with the new batch. Spark lists a table's ``ingest_batch=*``
directories serially, and in one parallel listing job once there are
more than 32 of them. Every state table is read with its schema given
(:func:`_read_state`), never inferred.
Near-dup clustering is a global fixpoint, not a per-window computation, so
windowed streaming state would be the wrong tool (SURVEY.md §2.7):
``curate_state`` closes the accumulated flags into clusters and canonical
picks on demand, with the batch operators.

State layout: a state dir holds one table per subdirectory, each a set of
``ingest_batch=<id>`` directories of parquet files written by
:func:`_write_batch` in the storage seam's codec
(``sources.storage.PARQUET_CODEC``, zstd):

    codes/      codes history (``codegen.CODES_SCHEMA``)
    dup_flags/  dup flags (``FLAGS_SCHEMA``)
    urls/       url index (canon_url, url)
    url_flags/  url re-crawl flags (``URL_FLAGS_SCHEMA``)

Readers pick the codec per file, so a state dir written with snappy
parquet (Spark's default) still takes new batches, and the batches
written after it are zstd. A ``bands/`` band index that older builds
kept beside the codes history is neither read nor deleted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from iscc_specs_spark.operators.codegen import CODES_SCHEMA, compute_codes
from iscc_specs_spark.sources.storage import PARQUET_CODEC

PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)

# dup_flags state schema (ingest_batch is the partition column). Consumers
# must read with this explicit schema: a stream whose batches produced zero
# flags so far leaves an empty partitioned dir (only _SUCCESS), which
# schema inference cannot read.
FLAGS_SCHEMA = "url string, dup_of string, src string, ingest_batch int"

# the codes history's schema, and the url index's at ``state_dir/urls``
_CODES_HISTORY_SCHEMA = CODES_SCHEMA + ", ingest_batch int"
_URL_INDEX_SCHEMA = "canon_url string, url string, ingest_batch int"


def _read_state(
    spark: SparkSession, path: str, schema: str
) -> DataFrame | None:
    """A state table read with its ``schema`` given, or None iff ``path``
    does not exist (checked on disk: no inference job, no failed read)."""
    import os

    if not os.path.isdir(path):
        return None
    return spark.read.schema(schema).parquet(path)


def _read_history(
    spark: SparkSession, path: str, schema: str, batch_id: int
) -> DataFrame | None:
    """Batch ``batch_id``'s view of the state table at ``path``: the rows
    of every earlier batch, ``ingest_batch < batch_id`` — replay-safe (a
    retried batch never sees its own earlier write) and a PartitionFilter
    in the plan — or None iff the table does not exist."""
    df = _read_state(spark, path, schema)
    return None if df is None else df.where(F.col("ingest_batch") < F.lit(batch_id))


def _write_batch(df: DataFrame, batch_id: int, path: str) -> None:
    """Write one micro-batch's rows, as ``PARQUET_CODEC`` parquet, into its
    own ``ingest_batch=<id>`` partition with dynamic partition overwrite,
    so a replayed batch overwrites its own earlier write."""
    (
        df.withColumn("ingest_batch", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .option("compression", PARQUET_CODEC)
        .partitionBy("ingest_batch")
        .parquet(path)
    )


def read_dup_flags(spark: SparkSession, state_dir: str) -> DataFrame:
    """Accumulated dup-flags state, schema-stable even when no batch has
    emitted a flag yet (empty dir → empty DataFrame, absent dir → empty
    DataFrame, never a schema-inference failure)."""
    flags = _read_state(spark, f"{state_dir}/dup_flags", FLAGS_SCHEMA)
    return spark.createDataFrame([], FLAGS_SCHEMA) if flags is None else flags


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
    """Shared writeStream scaffolding for every stream — append mode,
    checkpointed ``foreachBatch``, optional run-to-completion trigger —
    in ONE place so exactly-once wiring cannot diverge between streams."""
    writer = (
        df.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(sink)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_table_stream(
    stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    trigger_once: bool = True,
) -> StreamingQuery:
    """A stage's stream → the table at ``out_dir``, exactly-once via
    checkpoint + per-batch ``ingest_batch`` partition overwrite (a
    replayed batch overwrites its own partition). Pass the stage applied
    to a source stream: ``compute_codes(read_pages_stream(...))``,
    ``image_codes(read_assets_stream(...))`` or
    ``av_codes(read_assets_stream(...))``."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        _write_batch(batch_df, batch_id, out_dir)

    return _start_stream(stream, sink, checkpoint_dir, trigger_once)


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
      3. batch-vs-history candidates: the *new* batch's band keys probe
         the band keys of the codes history at ``state_dir/codes`` —
         every history batch's files, banded in plan and filtered to the
         new keys by a broadcast semi-join (:func:`process_dedup_batch`)
         — and pass the same dup predicate;
      4. append codes to ``state_dir/codes`` and flags to
         ``state_dir/dup_flags``, each into an ``ingest_batch=<id>``
         partition with dynamic overwrite — a replayed batch overwrites
         itself, so the stream stays exactly-once end-to-end.

    Flags schema: (url, dup_of, src, ingest_batch) — ``dup_of`` is the
    matched earlier url (within-batch matches point to the pair minimum).
    """
    codes_stream = compute_codes(pages_stream)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        process_dedup_batch(batch_df, batch_id, state_dir, bucket_cap)

    return _start_stream(codes_stream, sink, checkpoint_dir, trigger_once)


def _check_index(path: str) -> None:
    """The ON-DISK layout check of the url index at ``path``, before any
    Spark job: every entry Spark lists must be an ``ingest_batch=<id>``
    directory of parquet files. An index in another layout (such as the
    older (ingest_batch, url_pfx) directories) raises
    :class:`BandIndexError`; an index not written yet passes."""
    import glob
    import os

    # glob skips ``_``/``.`` names, as Spark's listing does
    bad = [
        p for p in glob.glob(os.path.join(path, "[!_]*"))
        if not os.path.basename(p).startswith("ingest_batch=")
    ] + [
        p for p in glob.glob(os.path.join(path, "ingest_batch=*", "[!_]*"))
        if os.path.isdir(p)
    ]
    if bad:
        raise BandIndexError(
            f"index {path} holds {os.path.relpath(bad[0], path)}, not only "
            "ingest_batch=<id> directories of parquet files: it was "
            "written in another layout; rebuild the state dir"
        )


class BandIndexError(RuntimeError):
    """A streaming state dir whose maintained url index is not in the
    layout its only writer writes: ``ingest_batch=<id>`` directories of
    parquet files."""


def read_band_index(
    spark: SparkSession,
    state_dir: str,
    batch_id: int,
    new_pfx: list[int] | None = None,
) -> DataFrame | None:
    """The vs-history probe's band rows for batch ``batch_id``:
    :func:`lsh.band_keys` over the codes history of every earlier batch
    (:func:`_read_history`), as (url, band_id, band_hash) rows — 20 per
    history row — or None before the first batch. ``new_pfx`` keeps the
    rows whose :func:`lsh.band_pfx` is in it — a row filter, not a
    partition filter: every history file is still read."""
    from iscc_specs_spark.operators import lsh

    hist = _read_history(
        spark, f"{state_dir}/codes", _CODES_HISTORY_SCHEMA, batch_id
    )
    if hist is None:
        return None
    hb = lsh.band_keys(hist)
    return hb if new_pfx is None else hb.where(lsh.band_pfx().isin(sorted(new_pfx)))


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

    The vs-history probe bands the codes history it already reads to
    verify candidates: :func:`lsh.band_keys` over every earlier batch's
    rows (all of them, not only exact-dup representatives, so every
    history row is findable) is native Spark SQL over the stored MinHash
    and SimHash — no kernel work, and keys of this build's
    :func:`lsh.band_geometry`, which cannot go stale. A broadcast
    semi-join on the new batch's (band_id, band_hash) keys keeps the
    matching rows. The probe reads every history batch's codes files;
    Spark lists the ``ingest_batch=*`` directories serially, and in one
    parallel listing job once there are more than 32 of them. A ``bands/``
    index that older builds kept in the state dir is ignored.
    """
    from iscc_specs_spark.operators import lsh

    spark = batch_df.sparkSession
    batch = batch_df.localCheckpoint(eager=True)

    # one representative table per batch: the within-batch pairs and the
    # vs-history probe (banding + verify side a) all read it
    new_slim = lsh.rep_codes(batch).localCheckpoint(eager=True)
    # within-batch pairs (standard path; url_a < url_b → flag url_b)
    intra = lsh.dup_pairs(batch, bucket_cap=bucket_cap, slim=new_slim).select(
        F.col("url_b").alias("url"), F.col("url_a").alias("dup_of"),
        F.lit("intra_batch").alias("src"),
    )

    # exclude this batch's own partition: a replayed batch must not match
    # against its own prior (uncommitted) write
    hist = _read_history(
        spark, f"{state_dir}/codes", _CODES_HISTORY_SCHEMA, batch_id
    )
    if hist is not None:
        # nb feeds the key semi-join and the broadcast probe — lazy, each
        # reference would re-run the banding
        nb = lsh.band_keys(new_slim).localCheckpoint(eager=True)
        # vs-history candidates with the engine-standard hot-bucket cap
        # (lsh.hot_buckets): the history's band rows restricted to the new
        # batch's band keys (semi-join — each history row matches once per
        # key, NOT once per new url) split into cold rows, paired with
        # every new member, and one min-url hub per hot bucket, which
        # takes each new member's single edge — a template-farm band key
        # costs O(|new|) candidates per batch, not O(|new| × |hist_bucket|)
        nbn = F.broadcast(nb.withColumnRenamed("url", "new_url"))
        new_keys = nb.select("band_id", "band_hash").dropDuplicates()
        hb_new = lsh.band_keys(hist).join(
            F.broadcast(new_keys), ["band_id", "band_hash"]
        )
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

    # flags + codes, each into its own ingest_batch partition (replay
    # overwrites itself in both)
    _write_batch(flags, batch_id, f"{state_dir}/dup_flags")
    _write_batch(batch, batch_id, f"{state_dir}/codes")


def curate_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """Periodic curation over the accumulated streaming state — the bridge
    between the streaming and batch surfaces.

    The incremental dup flags ARE an edge list (url → dup_of, one edge per
    detected duplicate relation, intra-batch and vs-history alike), so the
    global canonical corpus is recovered by running the batch engine's own
    operators over the state tables:

        codes(state) + flags-as-edges → connected components →
        canonical_pick (skew-free min_by on (warc_ts, url))

    Returns (url, cluster_id, is_canonical): one row per ingested url,
    however many batches re-crawled it, with its duplicate cluster and
    whether it is the cluster's canonical representative (the url of the
    oldest (warc_ts, url) crawl — the same two calls and rule as
    plans/dedup.py ③④). Run after any micro-batch to get the
    curated-corpus delta without waiting for a global batch job; a
    rerun over unchanged state is deterministic; a state dir with no
    codes rows yet gives an empty frame of the same columns.
    """
    from iscc_specs_spark.operators.cluster import assign_clusters
    from iscc_specs_spark.plans.dedup import canonical_pick

    codes = _read_state(spark, f"{state_dir}/codes", _CODES_HISTORY_SCHEMA)
    if codes is None:
        # no batch has run yet: schema-stable empty result, same contract
        # as read_dup_flags
        return spark.createDataFrame(
            [], "url string, cluster_id string, is_canonical boolean"
        )
    flags = read_dup_flags(spark, state_dir)
    edges = flags.select(
        F.col("url").alias("url_a"), F.col("dup_of").alias("url_b")
    )
    return canonical_pick(codes, assign_clusters(codes, edges))


# ---------------------------------------------------------------------------
# Streaming canonical-URL crawl dedup (re-crawl handling)
# ---------------------------------------------------------------------------

# url_flags state schema (ingest_batch is the partition column); read with
# the explicit schema for the same empty-partition reason as FLAGS_SCHEMA.
URL_FLAGS_SCHEMA = (
    "url string, dup_of string, canon_url string, src string, ingest_batch int"
)


def read_url_flags(spark: SparkSession, state_dir: str) -> DataFrame:
    """Accumulated url-recrawl flags, schema-stable when empty (same
    contract as :func:`read_dup_flags`)."""
    flags = _read_state(spark, f"{state_dir}/url_flags", URL_FLAGS_SCHEMA)
    return spark.createDataFrame([], URL_FLAGS_SCHEMA) if flags is None else flags


def read_url_index(
    spark: SparkSession, state_dir: str, batch_id: int
) -> DataFrame | None:
    """The url index's probe view: (canon_url, url, ingest_batch) rows —
    one per canonical url and ingesting batch — of every batch before
    ``batch_id`` (:func:`_read_history`), or None. An index that fails
    the layout check (:func:`_check_index`) raises
    :class:`BandIndexError`."""
    path = f"{state_dir}/urls"
    _check_index(path)
    return _read_history(spark, path, _URL_INDEX_SCHEMA, batch_id)


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
         ``state_dir/urls`` — one ``ingest_batch=<id>`` directory per
         batch; the probe reads every history batch's files and joins them
         on ``canon_url``. A keeper whose canonical url is already indexed
         is flagged ``src='vs_history'`` against its first arrival: the
         keeper of the earliest ingesting batch (the index holds one per
         batch; first-arrival wins across batches — a stream cannot
         retract what it already emitted, so later re-crawls are flagged
         rather than replacing; the batch plan's latest-wins rule applies
         when the corpus is re-curated from state);
      3. this batch's keepers append to the index, flags to
         ``state_dir/url_flags``, each under its own ``ingest_batch``
         partition with dynamic overwrite — a replayed batch overwrites
         itself and (via ``ingest_batch < batch_id`` in the probe) never
         matches its own prior uncommitted write.

    An index whose entries are not ``ingest_batch=<id>`` directories of
    parquet files (such as the older (ingest_batch, url_pfx) layout)
    raises :class:`BandIndexError` from the on-disk layout check, before
    any Spark job runs and before any state is written.
    """
    from iscc_specs_spark.operators.urls import canonical_url, url_dedup

    spark = batch_df.sparkSession
    _check_index(f"{state_dir}/urls")
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

    hist = read_url_index(spark, state_dir, batch_id)
    flags = intra
    if hist is not None:
        first = (
            hist.groupBy("canon_url")
            .agg(F.min(F.struct("ingest_batch", "url")).alias("m"))
            .select("canon_url", F.col("m.url").alias("dup_of"))
        )
        recrawl = (
            kept.join(first, "canon_url")
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

    _write_batch(flags, batch_id, f"{state_dir}/url_flags")
    _write_batch(kept.select("canon_url", "url"), batch_id, f"{state_dir}/urls")


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
