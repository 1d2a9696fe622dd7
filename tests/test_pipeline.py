"""T3 (recall vs brute-force oracle) + T4 (resume) end-to-end tests."""

from __future__ import annotations

import glob
import json
import os

import numpy as np
import pandas as pd
import pytest

from iscc_specs_spark.plans.dedup import DedupConfig, run_dedup
from iscc_specs_spark.sources.pages import generate_pages

N_DOCS = 2500

_M1 = np.uint64(0x5555555555555555)
_M2 = np.uint64(0x3333333333333333)
_M4 = np.uint64(0x0F0F0F0F0F0F0F0F)
_H01 = np.uint64(0x0101010101010101)


def popcount_u64(v: np.ndarray) -> np.ndarray:
    v = v - ((v >> np.uint64(1)) & _M1)
    v = (v & _M2) + ((v >> np.uint64(2)) & _M2)
    v = (v + (v >> np.uint64(4))) & _M4
    return (v * _H01) >> np.uint64(56)


def _oracle_pairs(pdf: pd.DataFrame, cid_max=10, sim_max=3):
    """Brute-force the verification predicate over all pairs (the reference
    semantics: pairwise distance() — /root/reference/src/iscc/iscc.py:426)."""
    cid = pdf["cid_body"].to_numpy().astype(np.int64).view(np.uint64)
    sim = pdf["simhash"].to_numpy().astype(np.int64).view(np.uint64)
    top = pdf["tophash"].to_numpy()
    n = len(pdf)
    pairs = set()
    old = np.seterr(over="ignore")
    try:
        for i in range(n - 1):
            hc = popcount_u64(cid[i] ^ cid[i + 1 :])
            hs = popcount_u64(sim[i] ^ sim[i + 1 :])
            hit = (hc <= cid_max) | (hs <= sim_max) | (top[i + 1 :] == top[i])
            for j in np.nonzero(hit)[0]:
                pairs.add((i, int(i + 1 + j)))
    finally:
        np.seterr(**old)
    return pairs


def _uf(n, pairs):
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return [find(x) for x in range(n)]


def _induced_pairs(labels):
    by = {}
    for i, l in enumerate(labels):
        by.setdefault(l, []).append(i)
    out = set()
    for members in by.values():
        members.sort()
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                out.add((members[i], members[j]))
    return out


def test_recall_vs_bruteforce_oracle(spark, tmp_path):
    pages = generate_pages(spark, N_DOCS, partitions=8)
    result = run_dedup(spark, pages, str(tmp_path / "run"), DedupConfig())

    codes_pdf = (
        result["codes"]
        .select("url", "cid_body", "simhash", "tophash")
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
    )
    idx = {u: i for i, u in enumerate(codes_pdf["url"])}
    oracle = _oracle_pairs(codes_pdf)
    oracle_labels = _uf(len(codes_pdf), oracle)
    oracle_cluster_pairs = _induced_pairs(oracle_labels)

    got = result["clusters"].toPandas()
    got_labels_by_url = dict(zip(got["url"], got["cluster_id"]))
    got_labels = [got_labels_by_url[u] for u in codes_pdf["url"]]
    got_cluster_pairs = _induced_pairs(
        [f"g{l}" for l in got_labels]  # labels are urls; namespace them
    )

    assert len(oracle_cluster_pairs) > 100  # planted structure present
    found = len(oracle_cluster_pairs & got_cluster_pairs)
    recall = found / len(oracle_cluster_pairs)
    precision = found / max(len(got_cluster_pairs), 1)
    assert recall >= 0.99, f"recall {recall:.4f}"
    assert precision >= 0.99, f"precision {precision:.4f}"


def test_resume_reproduces_clusters_and_skips_stages(spark, tmp_path):
    out = str(tmp_path / "resume")
    pages = generate_pages(spark, 400, partitions=4)
    r1 = run_dedup(spark, pages, out, DedupConfig())
    c1 = sorted(map(tuple, r1["clusters"].collect()))
    codes_manifest_1 = r1["store"].manifest("codes")
    canonical_bytes_1 = r1["store"].manifest("canonical")["bytes"]

    # simulate dying after stage ② completed: clusters + canonical lost
    for stage in ("clusters", "canonical"):
        os.remove(os.path.join(out, f"{stage}.manifest.json"))

    r2 = run_dedup(spark, pages, out, DedupConfig())
    c2 = sorted(map(tuple, r2["clusters"].collect()))
    assert c1 == c2
    # codes stage was NOT recomputed (same snapshot record)
    assert r2["store"].manifest("codes") == codes_manifest_1
    # the rewritten canonical stage is byte-stable: its rows' order in each
    # file must not follow the arrival order of shuffle blocks
    assert r2["store"].manifest("canonical")["bytes"] == canonical_bytes_1

    # config change invalidates resume
    r3 = run_dedup(spark, pages, out, DedupConfig(bucket_cap=32))
    assert r3["store"].manifest("codes")["config_hash"] != codes_manifest_1["config_hash"]


LSH_CONSTANTS = (
    "BANDS", "ROWS", "SIMHASH_SUBKEYS", "CID_T_MAX_HAMMING", "SIMHASH_MAX_HAMMING",
)


def test_fingerprint_covers_lsh_constants(monkeypatch):
    """The LSH geometry and dup predicate are module constants, not config
    fields, so run_dedup's stage fingerprint must cover them itself:
    editing any one of them must never resume stale dup_pairs. No Spark."""
    from iscc_specs_spark.operators import lsh
    from iscc_specs_spark.plans.dedup import _fingerprint

    base = _fingerprint(DedupConfig())
    assert _fingerprint(DedupConfig()) == base
    assert _fingerprint(DedupConfig(bucket_cap=32)) != base
    for name in LSH_CONSTANTS:
        with monkeypatch.context() as m:
            m.setattr(lsh, name, getattr(lsh, name) + 1)
            assert _fingerprint(DedupConfig()) != base, name


def test_curation_fingerprint_covers_lsh_constants(monkeypatch):
    """run_curation resumes its corpus stage and every stage after it from
    its own fingerprint, so that fingerprint must change with the LSH
    constants too: clusters built with an old geometry must never feed a
    resumed corpus. No Spark."""
    from iscc_specs_spark.operators import lsh
    from iscc_specs_spark.plans.curate import CurateConfig, _fingerprint

    base = _fingerprint(CurateConfig(), False, False)
    assert _fingerprint(CurateConfig(), False, False) == base
    assert _fingerprint(CurateConfig(), True, False) != base
    assert _fingerprint(CurateConfig(), False, True) != base
    for name in LSH_CONSTANTS:
        with monkeypatch.context() as m:
            m.setattr(lsh, name, getattr(lsh, name) + 1)
            assert _fingerprint(CurateConfig(), False, False) != base, name


CURATION_CONSTANTS = (
    "MIN_QUALITY", "DECONTAM_N", "SUBSTRING_MIN_LEN", "SEMANTIC_THRESHOLD",
    "SEMANTIC_DIM", "SEMANTIC_K_LISTS", "SEMANTIC_ITERS", "DSIR_BUCKETS",
)


def test_curation_fingerprint_covers_constants(monkeypatch):
    """run_curation's tuning values are module constants, not config
    fields, so its fingerprint must record each of them: a stage built with
    an old threshold, width or bucket count must never be resumed. No
    Spark."""
    from iscc_specs_spark.plans import curate

    base = curate._fingerprint(curate.CurateConfig(), False, False)
    for name in CURATION_CONSTANTS:
        with monkeypatch.context() as m:
            m.setattr(curate, name, getattr(curate, name) + 1)
            assert curate._fingerprint(
                curate.CurateConfig(), False, False
            ) != base, name


def test_lineage_and_metrics_recorded(spark, tmp_path):
    """Manifest lineage comes from the parquet footers: rows, files and
    bytes match what a Spark read of the stage sees, for every stage
    run_dedup writes (the keys-only bands stage included)."""
    out = str(tmp_path / "metrics")
    pages = generate_pages(spark, 300, partitions=4)
    r = run_dedup(spark, pages, out, DedupConfig())
    store = r["store"]
    man = store.manifest("dup_pairs")
    assert man["rows"] > 0 and man["wall_ms"] >= 0
    assert man["metrics"]["n_buckets"] > 0
    assert "max_bucket" in man["metrics"] and "capped_buckets" in man["metrics"]
    for stage in ("codes", "bands", "dup_pairs", "clusters", "canonical"):
        m = store.manifest(stage)
        df = store.read(spark, stage)
        assert m["rows"] == df.count() > 0, stage
        assert m["files"] == len(df.inputFiles()), stage
        assert m["bytes"] == sum(
            os.path.getsize(f.removeprefix("file://")) for f in df.inputFiles()
        ), stage


# bytes at rest per document of a cold run_dedup over the 300-page fixture,
# the five stage manifests' ``bytes`` summed: 618 measured as zstd parquet
# (825 as snappy), 23% headroom — a bands stage carrying the verification
# payload, or a data_minhash codes column, puts it at ~3300
STATE_BYTES_PER_DOC_MAX = 760


def test_run_dedup_job_budget(spark, tmp_path):
    """A cold run_dedup over 300 pages stays within a fixed Spark-job
    budget — on a cold JVM each avoidable job and query plan costs about a
    CPU-second of planning, codegen and JIT — and a fixed budget of bytes
    at rest per document, and a resume of the finished run launches no job
    at all."""
    pages = generate_pages(spark, 300, partitions=4).localCheckpoint(eager=True)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    out = str(tmp_path / "budget")
    try:
        sc.setJobGroup("run_dedup_budget", "cold run_dedup")
        store = run_dedup(spark, pages, out, DedupConfig())["store"]
        sc.setJobGroup("run_dedup_resume", "resumed run_dedup")
        run_dedup(spark, pages, out, DedupConfig())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    cold = tracker.getJobIdsForGroup("run_dedup_budget")
    assert 0 < len(cold) <= 24, len(cold)
    assert tracker.getJobIdsForGroup("run_dedup_resume") == []
    total = sum(
        store.manifest(s)["bytes"]
        for s in ("codes", "bands", "dup_pairs", "clusters", "canonical")
    )
    per_doc = total / store.manifest("codes")["rows"]
    assert per_doc <= STATE_BYTES_PER_DOC_MAX, per_doc


def test_process_dedup_batch_job_budget(spark, tmp_path):
    """One streaming micro-batch stays within a fixed Spark-job budget, with
    the same headroom as run_dedup's: the first batch (no history) and a
    history batch, whose vs-history probe shares the batch's one
    representative table with the within-batch pairs; then one
    curate_state over the two batches. Every state table is read with its
    schema given, so no read runs a schema-inference job."""
    from pyspark.sql import functions as F

    from iscc_specs_spark.operators.codegen import compute_codes
    from iscc_specs_spark.streaming.ingest import curate_state, process_dedup_batch

    codes = compute_codes(generate_pages(spark, 60, partitions=2)).localCheckpoint(eager=True)
    b0, b1 = (
        codes.where(F.crc32("url") % 2 == k).localCheckpoint(eager=True)
        for k in (0, 1)
    )
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    state = str(tmp_path / "stream_budget")
    try:
        sc.setJobGroup("stream_first", "first micro-batch")
        process_dedup_batch(b0, 0, state)
        sc.setJobGroup("stream_history", "history micro-batch")
        process_dedup_batch(b1, 1, state)
        sc.setJobGroup("stream_curate", "curate_state")
        curated = curate_state(spark, state).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    first = tracker.getJobIdsForGroup("stream_first")
    history = tracker.getJobIdsForGroup("stream_history")
    curate = tracker.getJobIdsForGroup("stream_curate")
    assert len(curated) == 60
    assert 0 < len(first) <= 11, len(first)
    assert 0 < len(history) <= 19, len(history)
    assert 0 < len(curate) <= 10, len(curate)


def test_process_dedup_batch_jobs_flat_in_history(spark, tmp_path):
    """A micro-batch's Spark jobs do not grow with the stream's age: seven
    micro-batches into one state dir, and the last history batch runs as
    many jobs as the first one. Each batch writes its codes into its own
    ingest_batch=<id> directory, at most one file per partition of the
    batch, and no band index: the vs-history probe bands the codes
    history."""
    import glob

    from pyspark.sql import functions as F

    from iscc_specs_spark.operators.codegen import compute_codes
    from iscc_specs_spark.streaming.ingest import process_dedup_batch

    codes = compute_codes(generate_pages(spark, 70, partitions=2)).localCheckpoint(eager=True)
    sc = spark.sparkContext
    state = str(tmp_path / "stream_flat")
    jobs = []
    try:
        for k in range(7):
            batch = codes.where(F.crc32("url") % 7 == k).localCheckpoint(eager=True)
            sc.setJobGroup(f"stream_flat_{k}", f"micro-batch {k}")
            process_dedup_batch(batch, k, state)
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(f"stream_flat_{k}")))
            files = glob.glob(f"{state}/codes/ingest_batch={k}/*")
            assert 0 < len(files) <= batch.rdd.getNumPartitions(), files
            assert all(f.endswith(".parquet") for f in files), files
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs[-1] == jobs[1], jobs
    assert not os.path.exists(f"{state}/bands")


def test_process_url_batch_job_budget(spark, tmp_path):
    """One re-crawl micro-batch stays within a fixed Spark-job budget, with
    the same headroom as process_dedup_batch's: the first batch (no
    history) and a history batch that re-crawls every url of the first
    under another spelling."""
    import datetime

    from iscc_specs_spark.streaming.ingest import process_url_batch, read_url_flags

    t0 = datetime.datetime(2024, 1, 1)
    b0, b1 = (
        spark.createDataFrame(
            [(f"https://{host}s{i}.example/p",
              t0 + datetime.timedelta(seconds=100 * k + i)) for i in range(40)],
            "url string, warc_ts timestamp",
        ).localCheckpoint(eager=True)
        for k, host in enumerate(("", "www."))
    )
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    state = str(tmp_path / "url_budget")
    try:
        sc.setJobGroup("url_first", "first url micro-batch")
        process_url_batch(b0, 0, state)
        sc.setJobGroup("url_history", "history url micro-batch")
        process_url_batch(b1, 1, state)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    first = tracker.getJobIdsForGroup("url_first")
    history = tracker.getJobIdsForGroup("url_history")
    assert read_url_flags(spark, state).where("src = 'vs_history'").count() == 40
    assert 0 < len(first) <= 10, len(first)
    assert 0 < len(history) <= 12, len(history)


# the driver's dedup_pairs row (__spark_entry__._q_dedup_pairs)
DEDUP_PAIRS_COLUMNS = [
    "url_a", "url_b", "src", "cid_hamming", "simhash_hamming", "exact_dup",
]


def test_dup_pairs_stage_is_lsh_dup_pairs(spark, tmp_path):
    """run_dedup stores lsh.dup_pairs as its dup_pairs stage unchanged:
    the stage has exactly the driver row's six columns, its rows are
    lsh.dup_pairs over the stage's codes, and it holds both LSH and exact
    pairs."""
    from iscc_specs_spark.operators import lsh

    pages = generate_pages(spark, 300, partitions=4)
    r = run_dedup(spark, pages, str(tmp_path / "pairs"), DedupConfig())
    assert r["dup_pairs"].columns == DEDUP_PAIRS_COLUMNS
    want = lsh.dup_pairs(r["codes"])
    assert want.columns == DEDUP_PAIRS_COLUMNS
    got = sorted(map(tuple, r["dup_pairs"].collect()))
    assert got == sorted(map(tuple, want.collect()))
    assert {p[2] for p in got} == {"lsh", "exact"}
    # each pair once, however many bands found it
    assert len({p[:2] for p in got}) == len(got)


@pytest.mark.parametrize(
    "bucket_cap, k, recrawl",
    [(64, 1, False), (1, 1, False), (64, 3, False), (64, 1, True), (64, 3, True)],
    ids=["64", "1", "64-k3", "64-recrawl", "64-k3-recrawl"],
)
def test_one_micro_batch_equals_batch_run(
    spark, tmp_path, request, bucket_cap, k, recrawl
):
    """The batch run's codes as one streaming micro-batch, then
    curate_state, give run_dedup's canonical table row for row: at the
    default cap, and at a cap of 1, where every shared band key is a hot
    bucket and all LSH pairs take the hub route. At the default cap the
    same holds for k = 3 micro-batches split by crc32(url) % 3, where the
    vs-history probe carries the pairs across batches. A cap of 1 stays at
    one batch: the batch hub is a whole bucket's min url, the streaming
    hub a history member, so k > 1 may differ there by design. With
    re-crawled urls in the input (387 crawls of 300 urls), clusters and
    canonical still hold one row per url in both tails."""
    from pyspark.sql import functions as F

    from iscc_specs_spark.streaming.ingest import curate_state, process_dedup_batch

    if recrawl:
        pages = request.getfixturevalue("recrawl_pages")
    else:
        pages = generate_pages(spark, 300, partitions=4)
    r = run_dedup(spark, pages, str(tmp_path / "batch"), DedupConfig(bucket_cap=bucket_cap))
    if bucket_cap == 1:
        assert r["store"].manifest("dup_pairs")["metrics"]["capped_buckets"] > 0
    state = str(tmp_path / "stream")
    for i in range(k):
        part = r["codes"].where(F.crc32("url") % k == i)
        process_dedup_batch(part, i, state, bucket_cap=bucket_cap)
    want = sorted(map(tuple, r["canonical"].collect()))
    assert len(want) == len({w[0] for w in want}) == 300
    assert sorted(map(tuple, r["clusters"].collect())) == [w[:2] for w in want]
    assert sorted(map(tuple, curate_state(spark, state).collect())) == want


def test_canonical_pick_minby_no_window(spark):
    """Canonical pick must be the skew-free min_by aggregation: no Window
    operator (whose partitionBy(cluster_id) sort would put a mega-cluster
    into one task), and the champion is exactly min(warc_ts, url) per
    cluster — verified on a corpus containing the template-farm
    mega-cluster fixture."""
    from pyspark.sql import functions as F

    from iscc_specs_spark.plans.dedup import canonical_pick
    from iscc_specs_spark.sources.pages import generate_pages_with_truth

    # 600 ids → ~6 farm members (doc_id % 101 == 100) in one giant
    # cluster; clusters come straight from the generator's ground truth
    truth = generate_pages_with_truth(
        spark, 600, partitions=4
    ).select("url", "warc_ts", "cluster_id").localCheckpoint(eager=True)
    out = canonical_pick(
        truth.select("url", "warc_ts"), truth.select("url", "cluster_id")
    )

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    assert "min_by" in plan.lower() or "minby" in plan.lower(), plan

    got = {
        r["cluster_id"]: r["url"]
        for r in out.where("is_canonical").collect()
    }
    want = {
        r["cluster_id"]: r["_champ"]
        for r in truth.groupBy("cluster_id")
        .agg(F.expr("min_by(url, struct(warc_ts, url))").alias("_champ"))
        .collect()
    }
    assert got == want
    # exactly one canonical per cluster, every member assigned
    per = out.groupBy("cluster_id").agg(
        F.sum(F.col("is_canonical").cast("int")).alias("n_canon")
    )
    assert per.where("n_canon <> 1").count() == 0
    assert out.count() == 600


def test_generate_pages_slices_union_to_full_range(spark):
    """The ``start`` offset contract the streaming-recall harness
    (bench.py:run_recall_streaming) depends on: the union of consecutive
    doc_id slices is row-identical to one full-range call — every column,
    including the planted truth labels."""
    from iscc_specs_spark.sources.pages import generate_pages_with_truth

    full = generate_pages_with_truth(spark, 300, partitions=4, scale_words=2)
    slices = [
        generate_pages_with_truth(
            spark, 100, partitions=2, scale_words=2, start=lo
        )
        for lo in (0, 100, 200)
    ]
    unioned = slices[0].unionByName(slices[1]).unionByName(slices[2])
    key = lambda r: r["url"]  # noqa: E731
    a = sorted(full.collect(), key=key)
    b = sorted(unioned.collect(), key=key)
    assert len(a) == len(b) == 300
    assert a == b


def test_band_stage_is_bucketed_at_rest(spark, tmp_path):
    """The bands stage holds keys-only rows (url, band_id, band_hash),
    unpartitioned — the streaming index's row shape: its rows are
    band_keys over the representative table, and the directory holds
    parquet files only, no partition dirs. The codes stage carries no
    data_minhash column. Killed after the bands stage, a resume rebuilds
    the band rows in plan (the stage is never read back), reproduces
    dup_pairs — Hamming columns included — and clusters, and does not
    rewrite the stage."""
    from iscc_specs_spark.operators import lsh

    out = str(tmp_path / "bandstage")
    pages = generate_pages(spark, 300, partitions=4)
    r1 = run_dedup(spark, pages, out, DedupConfig())
    store = r1["store"]
    assert "partition_by" not in store.manifest("bands")
    assert not [
        d for d in os.listdir(out + "/bands") if os.path.isdir(f"{out}/bands/{d}")
    ]
    bands = store.read(spark, "bands")
    assert bands.columns == ["url", "band_id", "band_hash"]
    want = lsh.band_keys(lsh.rep_codes(r1["codes"]))
    assert sorted(map(tuple, bands.collect())) == sorted(map(tuple, want.collect()))
    assert "data_minhash" not in store.read(spark, "codes").columns
    # resume (kill after the bands stage)
    pairs_1 = sorted(map(tuple, r1["dup_pairs"].collect()))
    clusters_1 = sorted(map(tuple, r1["clusters"].collect()))
    with open(os.path.join(out, "bands.manifest.json"), "rb") as f:
        bands_manifest_1 = f.read()
    for stage in ("dup_pairs", "clusters", "canonical"):
        os.remove(os.path.join(out, f"{stage}.manifest.json"))
    r2 = run_dedup(spark, pages, out, DedupConfig())
    assert sorted(map(tuple, r2["dup_pairs"].collect())) == pairs_1
    assert sorted(map(tuple, r2["clusters"].collect())) == clusters_1
    with open(os.path.join(out, "bands.manifest.json"), "rb") as f:
        assert f.read() == bands_manifest_1
