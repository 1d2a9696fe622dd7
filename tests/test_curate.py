"""End-to-end curation plan: quality gate → dedup → canonical corpus with
a recorded funnel; killed runs resume from materialized stages."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from iscc_specs_spark.plans.curate import CurateConfig, run_curation
from iscc_specs_spark.sources.pages import generate_pages


def test_curation_funnel(spark, tmp_path):
    out = str(tmp_path / "curate")
    pages = generate_pages(spark, 200, partitions=4).localCheckpoint(eager=True)
    res = run_curation(spark, pages, out)
    m = res["metrics"]

    assert m["docs_in"] == 200
    assert m["docs_in"] == (
        m["docs_dropped_quality"] + m["docs_dropped_duplicate"] + m["docs_out"]
    )
    assert m["docs_dropped_duplicate"] > 0, "generator plants duplicate clusters"
    assert m["tokens_out"] > 0

    corpus = res["corpus"]
    # exactly one canonical survivor per cluster
    per_cluster = corpus.groupBy("cluster_id").count()
    assert per_cluster.where(F.col("count") > 1).count() == 0
    # every survivor clears the quality bar
    assert corpus.where(F.col("quality_score") < 0.35).count() == 0

    # funnel metrics are recorded on disk for auditing
    with open(os.path.join(out, "funnel.metrics.json")) as f:
        disk = json.load(f)
    assert disk["docs_out"] == m["docs_out"]


def test_curation_decontam_and_sampling_stages(spark, tmp_path):
    """⓪b + ⑦: contaminated docs never reach the corpus (and never win a
    canonical pick), the mixing sample is a deterministic subset, and the
    eight-term funnel identity holds."""
    out = str(tmp_path / "curate_ds")
    pages = generate_pages(spark, 200, partitions=4).localCheckpoint(eager=True)
    # eval set = a deterministic slice of the corpus itself → those pages
    # are contaminated by construction (plus any true 13-gram overlaps)
    eval_pages = pages.where(
        F.element_at(F.split("url", "/"), -1).cast("long") % 10 == 3
    ).select("url", "text").localCheckpoint(eager=True)
    cfg = CurateConfig(
        sample_fractions={"en": 1.0, "de": 0.5},
        sample_default=0.0,
    )
    res = run_curation(spark, pages, out, cfg, eval_pages=eval_pages)
    m = res["metrics"]

    assert m["docs_in"] == 200
    assert m["docs_in"] == (
        m["docs_dropped_quality"]
        + m["docs_dropped_contaminated"]
        + m["docs_dropped_duplicate"]
        + m["docs_dropped_semantic"]
        + m["docs_dropped_sampling"]
        + m["docs_out"]
    )
    assert m["docs_dropped_contaminated"] > 0
    assert m["docs_dropped_semantic"] == 0  # stage off
    assert m["docs_dropped_sampling"] > 0  # non-en strata drop

    # no contaminated url in the final corpus; only en/de survive sampling
    rep = res["store"].read(spark, "decontam")
    dirty = {r["url"] for r in rep.where("contaminated").collect()}
    final_rows = res["corpus"].select("url", "lang").collect()
    assert dirty and not ({r["url"] for r in final_rows} & dirty)
    assert {r["lang"] for r in final_rows} <= {"en", "de"}

    # resume: identical re-run reads every stage back
    again = run_curation(spark, pages, out, cfg, eval_pages=eval_pages)
    assert again["metrics"] == m
    for stage in ("decontam", "corpus_sampled"):
        assert again["store"].has(stage), stage


def test_curation_semantic_stage(spark, tmp_path):
    """⑥ SemDeDup stage: the semantic corpus is a subset of the canonical
    corpus, the funnel identity extends with the semantic term, and a
    re-run resumes from the staged quantizer + keep table."""
    out = str(tmp_path / "curate_sem")
    pages = generate_pages(spark, 200, partitions=4).localCheckpoint(eager=True)
    cfg = CurateConfig(semantic=True)
    res = run_curation(spark, pages, out, cfg)
    m = res["metrics"]

    assert m["docs_in"] == 200
    assert m["docs_in"] == (
        m["docs_dropped_quality"]
        + m["docs_dropped_duplicate"]
        + m["docs_dropped_semantic"]
        + m["docs_out"]
    )
    assert m["docs_dropped_semantic"] >= 0

    final_urls = {r["url"] for r in res["corpus"].select("url").collect()}
    canon_urls = {
        r["url"]
        for r in res["store"].read(spark, "corpus").select("url").collect()
    }
    assert final_urls <= canon_urls
    assert len(final_urls) == m["docs_out"]

    # exactly one kept doc per semantic group, over canonical docs only
    keep = res["store"].read(spark, "sem_keep")
    per_group = (
        keep.groupBy("sem_group")
        .agg(F.sum(F.col("keep").cast("int")).alias("n"))
        .collect()
    )
    assert per_group and all(r["n"] == 1 for r in per_group)
    assert keep.count() == len(canon_urls)

    # identical re-run resumes every semantic stage from the store
    second = run_curation(spark, pages, out, cfg)
    assert {r["url"] for r in second["corpus"].select("url").collect()} == final_urls
    for stage in ("sem_vecs", "sem_centroids", "sem_assign", "sem_keep", "corpus_sem"):
        assert second["store"].has(stage), stage


def test_curation_url_dedup_stage(spark, tmp_path):
    """⓪a canonical-URL crawl dedup: re-crawled spellings of the same page
    collapse before the quality gate; the later crawl wins; the funnel
    identity extends with the url term."""
    out = str(tmp_path / "curate_url")
    pages = generate_pages(spark, 150, partitions=4)
    # a re-crawl of ~1/3 of the pages under a tracking-param spelling,
    # one second later
    recrawl = pages.where(
        F.element_at(F.split("url", "/"), -1).cast("long") % 3 == 1
    ).withColumn("url", F.concat("url", F.lit("?utm_source=re"))).withColumn(
        "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 SECOND")
    )
    n_re = recrawl.count()
    assert n_re > 0
    crawl = pages.unionByName(recrawl).localCheckpoint(eager=True)
    cfg = CurateConfig(url_dedup=True)
    res = run_curation(spark, crawl, out, cfg)
    m = res["metrics"]

    assert m["docs_in"] == 150 + n_re
    assert m["docs_dropped_url_duplicate"] == n_re
    assert m["docs_in"] == (
        m["docs_dropped_url_duplicate"]
        + m["docs_dropped_quality"]
        + m["docs_dropped_duplicate"]
        + m["docs_out"]
    )
    # the later crawl's spelling is the kept record
    kept_urls = [
        r["url"]
        for r in res["store"].read(spark, "url_keep").collect()
        if r["n_variants"] > 1
    ]
    assert kept_urls and all(u.endswith("?utm_source=re") for u in kept_urls)

    # identical re-run resumes the staged keep set
    again = run_curation(spark, crawl, out, cfg)
    assert again["metrics"] == m
    assert again["store"].has("url_keep")


def test_curation_domain_gate(spark, tmp_path):
    """⓪c domain gate: a content-farm domain (several pages, uniformly
    junk text) is dropped as a whole site, while pages on good domains
    with the same per-doc quality still reach the per-doc gate."""
    out = str(tmp_path / "curate_dom")
    pages = generate_pages(spark, 150, partitions=4)
    # route every 10th page onto one shared domain and give it junk text
    # (no stopwords, few tokens -> low quality score)
    junk = F.element_at(F.split("url", "/"), -1).cast("long") % 10 == 4
    pages = pages.withColumn(
        "url",
        F.when(
            junk,
            F.concat(
                F.lit("https://contentfarm.example/p/"),
                F.element_at(F.split("url", "/"), -1),
            ),
        ).otherwise(F.col("url")),
    ).withColumn(
        "text", F.when(junk, F.lit("buy cheap now")).otherwise(F.col("text"))
    ).localCheckpoint(eager=True)
    n_junk = pages.where(junk).count()
    assert n_junk > 1

    cfg = CurateConfig(domain_min_quality=0.31)
    res = run_curation(spark, pages, out, cfg)
    m = res["metrics"]
    assert m["docs_dropped_domain"] == n_junk
    assert m["docs_in"] == (
        m["docs_dropped_domain"]
        + m["docs_dropped_quality"]
        + m["docs_dropped_duplicate"]
        + m["docs_out"]
    )
    # no farm page anywhere downstream; the stats table is the audit trail
    assert res["corpus"].where(
        F.col("url").startswith("https://contentfarm.example/")
    ).count() == 0
    ds = res["store"].read(spark, "domain_stats")
    farm = ds.where(F.col("domain") == "contentfarm.example").collect()
    assert len(farm) == 1 and farm[0]["avg_quality"] < 0.31
    assert farm[0]["n_docs"] == n_junk

    # resume: identical re-run reuses the staged stats
    again = run_curation(spark, pages, out, cfg)
    assert again["metrics"] == m
    assert again["store"].has("domain_stats")


def test_curation_substring_cut_stage(spark, tmp_path):
    """⑤b ExactSubstr stage: a long passage planted across DIFFERENT
    clusters (so it survives doc-level dedup) is cut keep-first from the
    canonical text, token accounting is recomputed on the rewritten text,
    and the stage resumes from the store."""
    out = str(tmp_path / "curate_cut")
    passage = " ".join(f"sharedrun{i:03d}" for i in range(40))  # ~480 chars
    pages = (
        generate_pages(spark, 200, partitions=4)
        .withColumn(
            "text",
            F.when(
                F.pmod(F.xxhash64("url"), F.lit(10)) < 2,
                F.concat_ws(" ", "text", F.lit(passage)),
            ).otherwise(F.col("text")),
        )
        .localCheckpoint(eager=True)
    )
    cfg = CurateConfig(substring_cut=True)
    res = run_curation(spark, pages, out, cfg)
    m = res["metrics"]

    # rewrites, not drops: the doc-count identity is unchanged
    assert m["docs_in"] == 200
    assert m["docs_in"] == (
        m["docs_dropped_quality"] + m["docs_dropped_duplicate"] + m["docs_out"]
    )
    assert m["docs_rewritten_substring"] > 0
    assert m["chars_cut_substring"] >= m["docs_rewritten_substring"] * 48

    rows = res["corpus"].select(
        "url", "text", "n_spans_cut", "chars_cut", "n_chars", "n_tokens"
    ).collect()
    cut_docs = [r for r in rows if r["n_spans_cut"] > 0]
    assert len(cut_docs) == m["docs_rewritten_substring"]
    # keep-first: the passage body survives in at least one doc and is cut
    # from every rewritten doc (span edges may leave < k-char remnants)
    assert any("sharedrun020" in r["text"] for r in rows)
    assert all("sharedrun020" not in r["text"] for r in cut_docs)
    # token accounting reflects the REWRITTEN text everywhere
    for r in rows:
        assert r["n_chars"] == len(r["text"])

    # identical re-run resumes the staged cut
    again = run_curation(spark, pages, out, cfg)
    assert again["metrics"] == m
    for stage in ("sub_cut", "corpus_cut"):
        assert again["store"].has(stage), stage


def test_curation_resumes_from_stages(spark, tmp_path):
    out = str(tmp_path / "curate2")
    pages = generate_pages(spark, 120, partitions=2).localCheckpoint(eager=True)
    first = run_curation(spark, pages, out)

    # second run with identical config must reuse every stage (manifest
    # hit) and produce the identical corpus
    second = run_curation(spark, pages, out)
    a = sorted(r["url"] for r in first["corpus"].select("url").collect())
    b = sorted(r["url"] for r in second["corpus"].select("url").collect())
    assert a == b
    assert second["store"].has("scored") and second["store"].has("corpus")


def test_curation_dsir_stage(spark, tmp_path):
    """⑧: the DSIR selection keeps exactly dsir_k target-like docs, the
    funnel gains the dsir drop term, and a re-run resumes the staged
    selection (same doc set, no refit)."""
    out = str(tmp_path / "curate_dsir")
    pages = generate_pages(spark, 200, partitions=4).localCheckpoint(eager=True)
    target = (
        pages.where(
            F.element_at(F.split("url", "/"), -1).cast("long") % 7 == 2
        )
        .select("url", "text")
        .localCheckpoint(eager=True)
    )
    cfg = CurateConfig(dsir_k=20)
    res = run_curation(spark, pages, out, cfg, target_pages=target)
    m = res["metrics"]

    assert m["docs_out"] == 20
    assert m["docs_dropped_dsir"] > 0
    assert m["docs_in"] == (
        m["docs_dropped_quality"]
        + m["docs_dropped_duplicate"]
        + m["docs_dropped_dsir"]
        + m["docs_out"]
    )
    kept1 = sorted(r["url"] for r in res["corpus"].select("url").collect())
    assert len(kept1) == 20

    # resume: the staged corpus_dsir is read back, not refit
    res2 = run_curation(spark, pages, out, cfg, target_pages=target)
    kept2 = sorted(r["url"] for r in res2["corpus"].select("url").collect())
    assert kept1 == kept2


def test_curation_url_dedup_same_spelling_recrawl(spark, tmp_path):
    """⓪a must also collapse re-crawls under the IDENTICAL url spelling
    (same url, newer warc_ts — the most common re-crawl class). A url-only
    semi-join would keep every crawl of the page and fan duplicate url
    keys into every downstream join; the (url, last_ts) pair pins the one
    winning record."""
    out = str(tmp_path / "curate_url_same")
    pages = generate_pages(spark, 120, partitions=4)
    recrawl = pages.where(
        F.element_at(F.split("url", "/"), -1).cast("long") % 4 == 2
    ).withColumn("warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 SECOND"))
    n_re = recrawl.count()
    assert n_re > 0
    crawl = pages.unionByName(recrawl).localCheckpoint(eager=True)
    res = run_curation(spark, crawl, out, CurateConfig(url_dedup=True))
    m = res["metrics"]

    assert m["docs_in"] == 120 + n_re
    # every older crawl dropped; the newer one survives per page
    assert m["docs_dropped_url_duplicate"] == n_re
    assert m["docs_in"] == (
        m["docs_dropped_url_duplicate"]
        + m["docs_dropped_quality"]
        + m["docs_dropped_duplicate"]
        + m["docs_out"]
    )
    # no duplicate url keys leak past the stage: the scored audit table
    # has exactly one row per page
    scored = res["scored"]
    assert scored.count() == 120
    assert scored.groupBy("url").count().where(F.col("count") > 1).count() == 0


def test_curation_empty_sample_fractions_runs_sampler(spark, tmp_path):
    """⑦ with sample_fractions={} is a legitimate 'sample every stratum at
    the default rate' config: the stage must run AND the funnel's docs_out
    must be the post-sampling count (an empty dict is falsy — the n_out
    guard must use `is not None`, like the stage guard)."""
    out = str(tmp_path / "curate_empty_frac")
    pages = generate_pages(spark, 150, partitions=4).localCheckpoint(eager=True)
    cfg = CurateConfig(sample_fractions={}, sample_default=0.5)
    res = run_curation(spark, pages, out, cfg)
    m = res["metrics"]

    n_final = res["corpus"].count()
    assert m["docs_out"] == n_final
    assert m["docs_dropped_sampling"] > 0, "default 0.5 must drop some docs"
    assert m["docs_dropped_dsir"] == 0
    assert m["docs_in"] == (
        m["docs_dropped_quality"]
        + m["docs_dropped_duplicate"]
        + m["docs_dropped_sampling"]
        + m["docs_out"]
    )


def test_curation_substring_cut_exact_mode(spark, tmp_path):
    """⑤b with substring_exact=True: the suffix-array instrument feeds the
    same keep-first cut. On a planted shared passage the exact mode must
    remove at least as many characters as the winnowed screen (the screen
    reports anchor-span lower bounds; the SA match is the full span)."""
    out_w = str(tmp_path / "cut_winnow")
    out_x = str(tmp_path / "cut_exact")
    passage = " ".join(f"sharedrun{i:03d}" for i in range(40))
    pages = (
        generate_pages(spark, 150, partitions=4)
        .withColumn(
            "text",
            F.when(
                F.pmod(F.xxhash64("url"), F.lit(10)) < 2,
                F.concat_ws(" ", "text", F.lit(passage)),
            ).otherwise(F.col("text")),
        )
        .localCheckpoint(eager=True)
    )
    mw = run_curation(
        spark, pages, out_w, CurateConfig(substring_cut=True)
    )["metrics"]
    mx = run_curation(
        spark,
        pages,
        out_x,
        CurateConfig(substring_cut=True, substring_exact=True),
    )["metrics"]

    assert mx["docs_rewritten_substring"] >= mw["docs_rewritten_substring"]
    assert mx["chars_cut_substring"] >= mw["chars_cut_substring"]
    assert mx["docs_rewritten_substring"] > 0
    # both modes preserve the rewrite-not-drop funnel identity
    for m in (mw, mx):
        assert m["docs_in"] == (
            m["docs_dropped_quality"]
            + m["docs_dropped_duplicate"]
            + m["docs_out"]
        )


def test_curation_resume_job_budget(spark, tmp_path):
    """A resumed run_curation reads every staged table back and takes each
    staged table's row count from its manifest (parquet footers), so it
    launches only the jobs that count the unstaged tables (pages, the
    quality-kept and decontaminated sets) and sum the output tokens. The
    config is the driver row's: decontamination, SemDeDup and the mixing
    sample, md5 hashes."""
    out = str(tmp_path / "curate_budget")
    pages = generate_pages(spark, 200, partitions=4).localCheckpoint(eager=True)
    eval_pages = pages.where(
        F.element_at(F.split("url", "/"), -1).cast("long") % 37 == 5
    ).select("url", "text").localCheckpoint(eager=True)
    cfg = CurateConfig(
        semantic=True,
        sample_fractions={"en": 0.8, "de": 0.6, "fr": 0.5},
        sample_default=0.4,
        hash_fn="md5",
    )
    first = run_curation(spark, pages, out, cfg, eval_pages=eval_pages)
    sc = spark.sparkContext
    try:
        sc.setJobGroup("curation_resume", "resumed run_curation")
        again = run_curation(spark, pages, out, cfg, eval_pages=eval_pages)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup("curation_resume")
    assert again["metrics"] == first["metrics"]
    assert 0 < len(jobs) <= 9, len(jobs)
