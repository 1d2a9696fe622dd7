from __future__ import annotations

import os

from iscc_specs_spark.operators.codegen import compute_codes
from iscc_specs_spark.sources.pages import generate_pages
from iscc_specs_spark.streaming.ingest import read_pages_stream, start_table_stream


def test_streaming_codes_match_batch(spark, tmp_path):
    src = str(tmp_path / "pages_src")
    out = str(tmp_path / "codes_out")
    ckpt = str(tmp_path / "ckpt")

    pages = generate_pages(spark, 120, partitions=2)
    # two separate file drops → at least two micro-batches
    pages.where("url like '%/p/1%'").write.parquet(src + "/drop1")
    pages.where("url not like '%/p/1%'").write.parquet(src + "/drop2")
    # file source scans a single dir: move drops into it as files
    import shutil

    os.makedirs(src + "/all")
    n = 0
    for d in ("drop1", "drop2"):
        for f in os.listdir(f"{src}/{d}"):
            if f.endswith(".parquet"):
                shutil.move(f"{src}/{d}/{f}", f"{src}/all/b{n}.parquet")
                n += 1

    q = start_table_stream(
        compute_codes(
            read_pages_stream(spark, src + "/all", max_files_per_trigger=1)
        ),
        out, ckpt,
    )
    q.awaitTermination(120)

    got = spark.read.parquet(out).drop("ingest_batch")
    want = compute_codes(pages)
    g = {r["url"]: r for r in got.collect()}
    w = {r["url"]: r for r in want.collect()}
    assert set(g) == set(w) and len(g) == 120
    for url in w:
        assert g[url]["content_id"] == w[url]["content_id"]
        assert g[url]["instance_id"] == w[url]["instance_id"]

    # restart with same checkpoint: no new batches, no duplicates (idempotent)
    q2 = start_table_stream(
        compute_codes(read_pages_stream(spark, src + "/all")), out, ckpt
    )
    q2.awaitTermination(60)
    assert spark.read.parquet(out).count() == 120


def test_incremental_dedup_stream(spark, tmp_path):
    """Second micro-batch's near-dups of first-batch docs get flagged
    vs_history; replay with the same checkpoint is idempotent."""
    from iscc_specs_spark.streaming.ingest import start_incremental_dedup_stream

    src = str(tmp_path / "pages_src")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt2")

    # block 0 of the generator plants a duplicate cluster at positions 0..k-1
    pages = generate_pages(spark, 40, partitions=1).localCheckpoint(eager=True)
    first = pages.where("url like '%/p/0'")         # cluster base doc
    rest = pages.where("url not like '%/p/0'")      # includes its edit variants
    os.makedirs(src)
    first.coalesce(1).write.parquet(src + "/tmp1")
    rest.coalesce(1).write.parquet(src + "/tmp2")
    import shutil

    for i, d in enumerate(("tmp1", "tmp2")):
        for f in os.listdir(f"{src}/{d}"):
            if f.endswith(".parquet"):
                shutil.move(f"{src}/{d}/{f}", f"{src}/b{i}.parquet")

    q = start_incremental_dedup_stream(
        read_pages_stream(spark, src, max_files_per_trigger=1), state, ckpt
    )
    q.awaitTermination(180)

    codes = spark.read.parquet(state + "/codes")
    assert codes.count() == 40
    flags = spark.read.parquet(state + "/dup_flags")
    hist_hits = {
        (r["url"], r["dup_of"]) for r in flags.where("src = 'vs_history'").collect()
    }
    # the base doc arrived in batch 0; its variants in batch 1 must flag it
    assert any(dup_of.endswith("/p/0") for _, dup_of in hist_hits), hist_hits

    # replay: no new input → state unchanged (exactly-once)
    n_flags = flags.count()
    q2 = start_incremental_dedup_stream(read_pages_stream(spark, src), state, ckpt)
    q2.awaitTermination(60)
    assert spark.read.parquet(state + "/codes").count() == 40
    assert spark.read.parquet(state + "/dup_flags").count() == n_flags


def test_pending_batch_replay_is_idempotent(spark, tmp_path):
    """A batch retried after failure-between-state-write-and-checkpoint-commit
    (its own partition already on disk) must produce byte-identical flags —
    in particular no hamming-0 self-matches against its own prior write."""
    from iscc_specs_spark.streaming.ingest import process_dedup_batch

    state = str(tmp_path / "state_replay")
    pages = generate_pages(spark, 40, partitions=2)
    codes = compute_codes(pages).localCheckpoint(eager=True)
    b0 = codes.where("url like '%/p/0'")
    b1 = codes.where("url not like '%/p/0'")

    process_dedup_batch(b0, 0, state)
    process_dedup_batch(b1, 1, state)

    def snap():
        return sorted(
            map(tuple, spark.read.parquet(state + "/dup_flags").collect())
        )

    clean = snap()
    assert any(r[2] == "vs_history" for r in clean), "fixture must cross-match"

    # replay batch 1: state_dir/codes already holds ingest_batch=1
    process_dedup_batch(b1, 1, state)
    replayed = snap()
    assert replayed == clean
    assert not any(url == dup_of for url, dup_of, _, _ in replayed)


def test_history_bands_probed_from_maintained_index(spark, tmp_path):
    """The vs-history probe must read the persisted band index, not re-band
    the accumulated codes table (O(|history|) kernel work per micro-batch).

    Proof by corruption: after batch 0 lands, zero out minhash+simhash in
    the *history codes* partition (keeping cid/tophash, which verification
    uses). A later near-dup batch can then only find its vs_history
    candidate through the band rows persisted at batch-0 time — an
    implementation that re-derives bands from history codes sees garbage
    signatures and finds nothing."""
    from pyspark.sql import functions as F

    from iscc_specs_spark.streaming.ingest import process_dedup_batch

    state = str(tmp_path / "state_bandidx")
    pages = generate_pages(spark, 40, partitions=2)
    codes = compute_codes(pages).localCheckpoint(eager=True)
    # block 0: positions 0..1 are a planted duplicate pair (k=2)
    b0 = codes.where("url like '%/p/0'")
    b1 = codes.where("url like '%/p/1'")

    process_dedup_batch(b0, 0, state)
    assert os.path.isdir(state + "/bands/ingest_batch=0")

    # corrupt the signatures in history CODES (band index stays intact)
    corrupted = (
        spark.read.parquet(state + "/codes")
        .where("ingest_batch = 0")
        .withColumn(
            "minhash", F.transform("minhash", lambda x: F.lit(0).cast("long"))
        )
        .withColumn("simhash", F.lit(123456789).cast("long"))
        .localCheckpoint(eager=True)  # break file lineage before overwrite
    )
    (
        corrupted.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest_batch")
        .parquet(state + "/codes")
    )

    process_dedup_batch(b1, 1, state)
    flags = spark.read.parquet(state + "/dup_flags")
    hits = {
        (r["url"], r["dup_of"])
        for r in flags.where("src = 'vs_history'").collect()
    }
    assert any(
        url.endswith("/p/1") and dup_of.endswith("/p/0") for url, dup_of in hits
    ), hits
    assert os.path.isdir(state + "/bands/ingest_batch=1")


def test_read_dup_flags_empty_state(spark, tmp_path):
    """A stream whose batches emitted zero flags leaves an empty partitioned
    dup_flags dir; read_dup_flags must return an empty, correctly-typed
    DataFrame instead of a schema-inference failure (and the same for a
    state dir where no batch ran at all)."""
    from iscc_specs_spark.streaming.ingest import (
        FLAGS_SCHEMA,
        process_dedup_batch,
        read_dup_flags,
    )

    # absent state dir
    missing = read_dup_flags(spark, str(tmp_path / "nonexistent"))
    assert missing.count() == 0
    assert [f.name for f in missing.schema.fields] == [
        "url", "dup_of", "src", "ingest_batch"
    ]

    # batch of singletons only → zero flags written
    state = str(tmp_path / "state_noflags")
    pages = generate_pages(spark, 40, partitions=1)
    codes = compute_codes(pages).localCheckpoint(eager=True)
    singles = codes.where(
        "url like '%/p/15' or url like '%/p/16' or url like '%/p/17'"
    )
    process_dedup_batch(singles, 0, state)
    flags = read_dup_flags(spark, state)
    assert flags.count() == 0
    assert flags.schema == spark.createDataFrame([], FLAGS_SCHEMA).schema


def test_streaming_image_codes_match_batch(spark, tmp_path):
    """Image assets arriving in two micro-batch drops produce the same
    Content-ID-Image codes as one batch pass (real PNG decode kernel)."""
    from iscc_specs_spark.operators.multimodal import image_codes, synthetic_assets
    from iscc_specs_spark.streaming.ingest import read_assets_stream

    src = str(tmp_path / "assets_src")
    out = str(tmp_path / "image_codes_out")
    ckpt = str(tmp_path / "ckpt_img")

    assets = synthetic_assets(spark, n=30).localCheckpoint(eager=True)
    os.makedirs(src)
    assets.where("asset_id < 15").coalesce(1).write.parquet(src + "/tmp1")
    assets.where("asset_id >= 15").coalesce(1).write.parquet(src + "/tmp2")
    import shutil

    n = 0
    for d in ("tmp1", "tmp2"):
        for f in os.listdir(f"{src}/{d}"):
            if f.endswith(".parquet"):
                shutil.move(f"{src}/{d}/{f}", f"{src}/b{n}.parquet")
                n += 1

    q = start_table_stream(
        image_codes(read_assets_stream(spark, src, max_files_per_trigger=1)),
        out, ckpt,
    )
    q.awaitTermination(120)

    got = {
        r["asset_id"]: r["image_cid"]
        for r in spark.read.parquet(out).collect()
    }
    want = {
        r["asset_id"]: r["image_cid"] for r in image_codes(assets).collect()
    }
    assert got == want and len(got) == 10  # every 3rd of 30 is an image


def test_streaming_av_codes_match_batch(spark, tmp_path):
    """A/V assets arriving in two micro-batch drops produce the same
    engine-defined fingerprints and failure classes as one batch pass
    (real WAV-PCM / animated-GIF sampling kernels)."""
    from iscc_specs_spark.operators.multimodal import av_codes, synthetic_assets
    from iscc_specs_spark.streaming.ingest import read_assets_stream

    src = str(tmp_path / "av_src")
    out = str(tmp_path / "av_codes_out")
    ckpt = str(tmp_path / "ckpt_av")

    assets = synthetic_assets(spark, n=30).localCheckpoint(eager=True)
    os.makedirs(src)
    assets.where("asset_id < 15").coalesce(1).write.parquet(src + "/tmp1")
    assets.where("asset_id >= 15").coalesce(1).write.parquet(src + "/tmp2")
    import shutil

    n = 0
    for d in ("tmp1", "tmp2"):
        for f in os.listdir(f"{src}/{d}"):
            if f.endswith(".parquet"):
                shutil.move(f"{src}/{d}/{f}", f"{src}/b{n}.parquet")
                n += 1

    q = start_table_stream(
        av_codes(read_assets_stream(spark, src, max_files_per_trigger=1)),
        out, ckpt,
    )
    q.awaitTermination(120)

    got = {
        r["asset_id"]: (r["av_code"], r["decode_status"])
        for r in spark.read.parquet(out).collect()
    }
    want = {
        r["asset_id"]: (r["av_code"], r["decode_status"])
        for r in av_codes(assets).collect()
    }
    assert got == want and len(got) == 20  # 10 audio + 10 video of 30


def test_curate_state_matches_batch_clusters(spark, tmp_path):
    """Curation over accumulated streaming state produces the same cluster
    partition and the same canonical picks as the batch pipeline on the
    identical corpus (edge sets differ — incremental vs global banding —
    but the induced partition must agree on this fixture)."""
    from iscc_specs_spark.operators.cluster import assign_clusters
    from iscc_specs_spark.operators import lsh
    from iscc_specs_spark.plans.dedup import canonical_pick
    from iscc_specs_spark.streaming.ingest import (
        curate_state,
        process_dedup_batch,
    )

    state = str(tmp_path / "state_curate")
    pages = generate_pages(spark, 60, partitions=2)
    codes = compute_codes(pages).localCheckpoint(eager=True)
    parity = "cast(regexp_extract(url, '(\\\\d+)$', 1) as long) % 2"
    process_dedup_batch(codes.where(f"{parity} = 0"), 0, state)
    process_dedup_batch(codes.where(f"{parity} = 1"), 1, state)

    got = curate_state(spark, state)
    want = canonical_pick(
        codes.select("url", "warc_ts"),
        assign_clusters(codes.select("url"), lsh.dup_pairs(codes)),
    )
    g = {r["url"]: (r["cluster_id"], r["is_canonical"]) for r in got.collect()}
    w = {r["url"]: (r["cluster_id"], r["is_canonical"]) for r in want.collect()}
    assert set(g) == set(w) and len(g) == 60
    # same partition: same cluster label (both use min-url labels) and the
    # same canonical member per cluster
    assert g == w


CAP = 64


def _vs_history_flags(spark, state, hist_n):
    """vs-history flags of one new doc probing a fabricated history bucket
    of ``hist_n`` identical-signature members (identical minhash →
    identical band keys), with bucket_cap CAP; also the history urls."""
    from iscc_specs_spark.streaming.ingest import process_dedup_batch

    mh = list(range(64))
    hist_urls = [f"https://h.example/p/{i:04d}" for i in range(hist_n)]
    rows = [(u, 5, 7777, mh, f"top_{u}", None) for u in hist_urls]
    process_dedup_batch(_mini_codes(spark, rows), 0, state, bucket_cap=CAP)
    new = [("https://new.example/p/1", 5, 7777, mh, "top_new", None)]
    process_dedup_batch(_mini_codes(spark, new), 1, state, bucket_cap=CAP)
    flags = spark.read.parquet(state + "/dup_flags").where(
        "src = 'vs_history'"
    )
    return sorted((r["url"], r["dup_of"]) for r in flags.collect()), hist_urls


def test_cross_history_hot_bucket_hub_routed(spark, tmp_path):
    """A history band bucket over bucket_cap routes new members to the
    bucket's min-url hub instead of emitting one candidate per history
    member — per-batch candidate volume stays O(|new|) as a mega-cluster
    ages. Verified at the boundary: a bucket of bucket_cap + 1 members."""
    got, hist_urls = _vs_history_flags(spark, str(tmp_path / "hot"), CAP + 1)
    # exactly ONE flag, routed to the bucket hub (min history url)
    assert got == [("https://new.example/p/1", hist_urls[0])], got


def test_cross_history_bucket_at_cap_is_cold(spark, tmp_path):
    """A history band bucket of exactly bucket_cap members is cold: the new
    doc is verified against, and flagged as a dup of, every member."""
    got, hist_urls = _vs_history_flags(spark, str(tmp_path / "cold"), CAP)
    assert got == [("https://new.example/p/1", u) for u in hist_urls], got


def test_hot_bucket_hub_preserves_cluster_recall(spark, tmp_path):
    """A new true near-dup arriving into a >cap template-farm bucket gets
    exactly one hub edge, and curation still places it in the SAME cluster
    as every farm member — hub routing trades pair recall for bounded
    candidate volume without losing cluster recall."""
    from iscc_specs_spark.streaming.ingest import (
        curate_state,
        process_dedup_batch,
    )

    state = str(tmp_path / "state_hub_recall")
    mh = list(range(64))
    farm = [f"https://farm.example/p/{i:04d}" for i in range(100)]
    rows = [(u, 5, 7777, mh, f"top_{u}", None) for u in farm]
    process_dedup_batch(
        _mini_codes(spark, rows), 0, state, bucket_cap=64
    )
    process_dedup_batch(
        _mini_codes(spark, [("https://new.example/p/1", 5, 7777, mh, "t_n", None)]),
        1, state, bucket_cap=64,
    )
    curated = curate_state(spark, state)
    clusters = {r["url"]: r["cluster_id"] for r in curated.collect()}
    want = clusters[farm[0]]
    assert all(clusters[u] == want for u in farm)
    assert clusters["https://new.example/p/1"] == want


def _mini_codes(spark, rows):
    """(url, cid_body, simhash, minhash, tophash, warc_ts) rows — the slim
    schema process_dedup_batch needs."""
    return spark.createDataFrame(
        rows,
        "url string, cid_body long, simhash long, minhash array<long>, "
        "tophash string, warc_ts timestamp",
    )


def test_band_index_probe_plan_is_pruned_scan(spark, tmp_path):
    """read_band_index's plan must carry ingest_batch as a PartitionFilter
    (replay-safe pruning) and contain no Python/banding subtree — the
    probe is a pure parquet scan (pins the round-3 regression: history is
    never re-banded per micro-batch). A prefix list is a row filter of the
    same scan, and keeps exactly the rows whose band_pfx is in it."""
    from iscc_specs_spark.operators.lsh import band_pfx
    from iscc_specs_spark.streaming.ingest import (
        process_dedup_batch,
        read_band_index,
    )

    state = str(tmp_path / "state_plan")
    mh = list(range(64))
    process_dedup_batch(
        _mini_codes(spark, [("https://a.example/p/0", 5, 7, mh, "t", None)]),
        0,
        state,
    )
    df = read_band_index(spark, state, batch_id=99, new_pfx=[3, 5, 11])
    plan = df._jdf.queryExecution().executedPlan().toString()
    pf = next(
        (ln for ln in plan.splitlines() if "PartitionFilters" in ln), ""
    )
    assert "ingest_batch" in pf, plan
    for banned in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert banned not in plan, plan
    every = read_band_index(spark, state, batch_id=99)
    want = every.where(band_pfx().isin(3, 5, 11))
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, want.collect()))
    assert every.count() == 20  # 16 MinHash bands + 4 SimHash sub-keys


def test_missing_or_unpartitioned_band_index_fails_loudly(spark, tmp_path):
    """process_dedup_batch is the band index's only writer and always
    writes one ingest_batch=<id> directory of parquet files per batch. A
    state dir whose codes history has no index, or whose index is in the
    older (ingest_batch, band_pfx) layout, must raise BandIndexError
    naming the state dir from the on-disk layout check — before any Spark
    job runs and before any state is written, so dup_flags and codes stay
    exactly as they were."""
    import json
    import re
    import shutil

    import pytest

    from iscc_specs_spark.operators.lsh import band_geometry, band_pfx
    from iscc_specs_spark.streaming.ingest import (
        BandIndexError,
        process_dedup_batch,
    )

    state = str(tmp_path / "state_bad_index")
    pages = generate_pages(spark, 60, partitions=2)
    codes = compute_codes(pages).localCheckpoint(eager=True)
    b0 = codes.where("url like '%/p/0'")
    b1 = codes.where("url like '%/p/1'")
    b2 = codes.where("url not like '%/p/0' and url not like '%/p/1'")
    process_dedup_batch(b0, 0, state)
    process_dedup_batch(b1, 1, state)

    def snap(*subs):
        out = {}
        for sub in subs:
            for root, _, files in os.walk(os.path.join(state, sub)):
                for f in files:
                    with open(os.path.join(root, f), "rb") as fh:
                        out[os.path.relpath(os.path.join(root, f), state)] = fh.read()
        return out

    sc = spark.sparkContext

    def batch_2(group, match):
        sc.setJobGroup(group, "batch 2 over a bad band index")
        try:
            with pytest.raises(BandIndexError, match=match):
                process_dedup_batch(b2, 2, state)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert not sc.statusTracker().getJobIdsForGroup(group), group

    # (a) codes history without a band index
    saved = state + "__bands"
    shutil.move(state + "/bands", saved)
    before = snap("dup_flags", "codes")
    batch_2("no_band_index", re.escape(state))
    assert snap("dup_flags", "codes") == before
    assert not os.path.exists(state + "/bands")

    # (b) the same rows in the older (ingest_batch, band_pfx) layout: under
    # the record its writer left, and under this build's record
    (
        spark.read.parquet(saved).withColumn("band_pfx", band_pfx())
        .write.partitionBy("ingest_batch", "band_pfx")
        .parquet(state + "/bands")
    )
    with open(saved + "/_INDEX_META.json") as f:
        meta = json.load(f)
    assert meta == {"band_geometry": band_geometry()}
    old_meta = {"index_buckets": 64, **meta}
    for record, match in ((old_meta, "records"), (meta, "band_pfx=")):
        with open(state + "/bands/_INDEX_META.json", "w") as f:
            json.dump(record, f)
        before = snap("dup_flags", "codes", "bands")
        batch_2("old_layout_band_index", re.escape(state + "/bands") + ".*" + match)
        assert snap("dup_flags", "codes", "bands") == before


def test_band_index_of_another_geometry_fails_loudly(spark, tmp_path):
    """A band index built with another band-key geometry (or recording
    none, or with no record file) holds keys no new batch can match: vs-history flags would drop
    to zero with no error. process_dedup_batch must raise BandIndexError
    from the index's JSON record alone, before writing any state."""
    import json

    import pytest

    from iscc_specs_spark.operators.lsh import band_geometry
    from iscc_specs_spark.streaming.ingest import (
        BandIndexError,
        process_dedup_batch,
    )

    state = str(tmp_path / "state_geometry")
    pages = generate_pages(spark, 40, partitions=2)
    codes = compute_codes(pages).localCheckpoint(eager=True)
    b0 = codes.where("url like '%/p/0'")
    b1 = codes.where("url not like '%/p/0'")
    process_dedup_batch(b0, 0, state)

    meta_path = state + "/bands/_INDEX_META.json"
    with open(meta_path) as f:
        meta = json.load(f)
    assert meta["band_geometry"] == band_geometry()
    other = dict(meta["band_geometry"], rows=meta["band_geometry"]["rows"] + 1)
    sc = spark.sparkContext
    # another geometry, a record without one, and no record at all
    stale = ({**meta, "band_geometry": other}, {"index_buckets": 64}, None)
    for record in stale:
        if record is None:
            os.remove(meta_path)
        else:
            with open(meta_path, "w") as f:
                json.dump(record, f)
        sc.setJobGroup("stale_geometry", "batch 1 over a stale index")
        with pytest.raises(BandIndexError, match="band geometry"):
            process_dedup_batch(b1, 1, state)
        sc.setLocalProperty("spark.jobGroup.id", None)
        assert not sc.statusTracker().getJobIdsForGroup("stale_geometry")
        for sub in ("dup_flags", "codes", "bands"):
            assert not os.path.exists(f"{state}/{sub}/ingest_batch=1"), sub


def test_curate_state_one_row_per_recrawled_url(spark, tmp_path):
    """A url ingested by more than one batch (a re-crawl) has one codes row
    per batch — curation must still emit exactly ONE (url, cluster,
    canonical) row, not N (or N² through the members join)."""
    from iscc_specs_spark.streaming.ingest import (
        curate_state,
        process_dedup_batch,
        read_dup_flags,
    )

    state = str(tmp_path / "state_recrawl")
    pages = generate_pages(spark, 20, partitions=2)
    codes = compute_codes(pages).localCheckpoint(eager=True)
    process_dedup_batch(codes, 0, state)
    process_dedup_batch(codes, 1, state)  # every url re-crawled

    got = curate_state(spark, state).collect()
    urls = [r["url"] for r in got]
    assert len(urls) == len(set(urls)) == 20, "one output row per url"
    # a re-crawled url is never flagged as a dup of its own earlier crawl
    self_flags = read_dup_flags(spark, state).where("url = dup_of")
    assert self_flags.count() == 0, self_flags.collect()


def test_curate_state_empty_state_is_schema_stable(spark, tmp_path):
    """curate_state over a state dir no batch has written, and over one
    whose first micro-batch held no rows, is an empty frame of the same
    columns; a batch with rows after that empty batch ingests, flags only
    its own within-batch dups, and curates to one row per url."""
    from iscc_specs_spark.streaming.ingest import (
        curate_state,
        process_dedup_batch,
        read_dup_flags,
    )

    out = curate_state(spark, str(tmp_path / "never_written"))
    assert out.columns == ["url", "cluster_id", "is_canonical"]
    assert out.count() == 0

    state = str(tmp_path / "empty_first_batch")
    codes = compute_codes(generate_pages(spark, 20, partitions=2)).localCheckpoint(eager=True)
    process_dedup_batch(codes.limit(0), 0, state)
    out = curate_state(spark, state)
    assert out.columns == ["url", "cluster_id", "is_canonical"]
    assert out.count() == 0

    process_dedup_batch(codes, 1, state)
    flags = read_dup_flags(spark, state).collect()
    assert flags and {f["src"] for f in flags} == {"intra_batch"}, flags
    assert {f["ingest_batch"] for f in flags} == {1}
    urls = [r["url"] for r in curate_state(spark, state).collect()]
    assert len(urls) == len(set(urls)) == 20
