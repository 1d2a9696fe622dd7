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
    """read_band_index bands the codes history in plan: the plan carries
    ingest_batch as a PartitionFilter of the codes-history scan
    (replay-safe pruning) and holds no Python — the banding is native
    Spark SQL, never kernel work per micro-batch. A prefix list is a row
    filter over the same scan, and keeps exactly the rows whose band_pfx
    is in it; each history doc gives 20 rows."""
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


def test_recrawled_url_is_never_its_own_dup(spark, tmp_path):
    """One url crawled twice into one input — different bytes, so two
    exact-dup groups, with near-dup content — shares every band bucket
    with itself. lsh.dup_pairs must not pair the url with itself, and
    process_dedup_batch must not flag it as a dup of itself."""
    from iscc_specs_spark.operators import lsh
    from iscc_specs_spark.streaming.ingest import process_dedup_batch, read_dup_flags

    mh = list(range(64))
    a, b = "https://a.example/p", "https://b.example/p"
    codes = _mini_codes(
        spark,
        [(a, 5, 7, mh, "t_0", None), (a, 5, 7, mh, "t_1", None),
         (b, 5, 7, mh, "t_2", None)],
    )
    pairs = {(r["url_a"], r["url_b"], r["src"]) for r in lsh.dup_pairs(codes).collect()}
    assert pairs == {(a, b, "lsh")}, pairs
    state = str(tmp_path / "state_self")
    process_dedup_batch(codes, 0, state)
    flags = {
        (r["url"], r["dup_of"], r["src"])
        for r in read_dup_flags(spark, state).collect()
    }
    assert flags == {(b, a, "intra_batch")}, flags


def test_old_band_index_is_ignored(spark, tmp_path):
    """Older builds kept a band index at state_dir/bands; the vs-history
    probe now bands the codes history. A state dir holding such an index
    — here in the older (ingest_batch, band_pfx) layout under a record of
    another geometry — takes its next batch with the flags and curated
    rows of a fresh state dir, and its bands/ is neither read nor changed."""
    import json
    import shutil

    from pyspark.sql import functions as F

    from iscc_specs_spark.operators import lsh
    from iscc_specs_spark.streaming.ingest import (
        curate_state,
        process_dedup_batch,
        read_dup_flags,
    )

    codes = compute_codes(generate_pages(spark, 60, partitions=2)).localCheckpoint(eager=True)
    b0, b1 = (
        codes.where(F.crc32("url") % 2 == k).localCheckpoint(eager=True)
        for k in (0, 1)
    )
    fresh, old = str(tmp_path / "fresh"), str(tmp_path / "old")
    for state in (fresh, old):
        process_dedup_batch(b0, 0, state)
    bands = old + "/bands"
    shutil.rmtree(bands, ignore_errors=True)
    (
        lsh.band_keys(b0).withColumn("ingest_batch", F.lit(0))
        .withColumn("band_pfx", lsh.band_pfx())
        .write.partitionBy("ingest_batch", "band_pfx").parquet(bands)
    )
    geometry = dict(lsh.band_geometry(), rows=lsh.ROWS + 1)
    with open(bands + "/_INDEX_META.json", "w") as f:
        json.dump({"index_buckets": 64, "band_geometry": geometry}, f)

    def snap():
        out = {}
        for root, _, files in os.walk(bands):
            for name in files:
                with open(os.path.join(root, name), "rb") as fh:
                    out[os.path.relpath(os.path.join(root, name), bands)] = fh.read()
        return out

    before = snap()
    for state in (fresh, old):
        process_dedup_batch(b1, 1, state)
    assert snap() == before
    assert not os.path.exists(fresh + "/bands")

    def flags(state):
        return sorted(map(tuple, read_dup_flags(spark, state).collect()))

    def curated(state):
        return sorted(map(tuple, curate_state(spark, state).collect()))

    assert any(f[2] == "vs_history" for f in flags(fresh))
    assert flags(old) == flags(fresh)
    assert curated(old) == curated(fresh)


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
