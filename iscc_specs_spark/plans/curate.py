"""End-to-end training-data curation plan.

The complete pipeline a 100 TB pre-training corpus actually runs, composed
from the engine's operators in the cost-correct order:

pages → ⓪a optional canonical-URL crawl dedup (CurateConfig.url_dedup):
the same page under many url spellings collapses to one crawl record,
latest warc_ts wins — the cheapest duplicate class, removed before even
the quality projection runs → ⓪c optional domain gate
(CurateConfig.domain_min_quality): per-registrable-domain aggregate
quality drops content farms as whole sites → ⓪ quality gate (narrow native-SQL scoring
+ filter — cheap pruning BEFORE any expensive kernel work) → ⓪b optional benchmark
decontamination (active when ``run_curation`` receives ``eval_pages``):
13-gram eval-overlap docs are dropped BEFORE the kernel ever codes them,
so a leaked benchmark can never become a cluster's canonical
representative → ①–④ near-dup detection + clustering + canonical pick
(plans/dedup.py:run_dedup, resumable) → ⑤ corpus (canonical survivors
only) with token accounting → ⑤b optional exact long-match removal
(CurateConfig.substring_cut, Lee et al. 2022 ExactSubstr): residual
cross-document spans ≥ min_len chars (shared boilerplate, quoted
passages) are cut keep-first from the canonical text and token
accounting is recomputed — rewrites, not drops, so the funnel records
``docs_rewritten_substring``/``chars_cut_substring`` instead of a drop
term; ``substring_exact`` swaps the winnowed screen for the suffix-array
instrument (every span found, byte-verified) → ⑥ optional SemDeDup
semantic stage
(CurateConfig.semantic): hashing-trick text embeddings + staged quantizer
+ keep-the-novel per group — the syntactic tracks upstream catch copies,
this stage drops paraphrase-level redundancy the paper shows syntactic
dedup misses → ⑦ optional stratified mixing sample
(CurateConfig.sample_fractions): deterministic hash-threshold draw per
language — mixing weights apply to the CLEAN corpus → ⑧ optional DSIR
selection (CurateConfig.dsir_k + a ``target_pages`` table): the dsir_k
most target-like documents survive a deterministic Gumbel-top-k draw
under hashed-n-gram importance weights (operators/dsir.py) — the data-
selection budget is the very last decision.

Every stage materializes through the same StageStore seam as run_dedup
(parquet snapshot + manifest + per-stage metrics), so a killed run resumes
from the last completed stage and the funnel — docs in, dropped-by-
quality, dropped-as-duplicate, docs out, tokens out — is recorded where an
auditor can read it.

Scale notes: the quality gate is a pure projection+filter (whole-stage
codegen, zero shuffle) so it prunes the corpus before the Python codegen
stage ever sees it; everything downstream inherits run_dedup's posture
(skew-capped LSH, O(log n) connected components, broadcast canonical
window per cluster id).
"""

from __future__ import annotations

from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iscc_specs_spark.operators.textstats import quality_scores, token_counts
from iscc_specs_spark.plans.dedup import DedupConfig, run_dedup
from iscc_specs_spark.plans.dedup import _fingerprint as dedup_fingerprint
from iscc_specs_spark.sources.storage import StageStore, config_hash


@dataclass
class CurateConfig:
    # ⓪a optional canonical-URL crawl dedup before ANY scoring: the same
    # page under many spellings (case, www, default port, tracking params,
    # fragments) collapses to one crawl record, latest warc_ts wins
    url_dedup: bool = False
    # ⓪c optional domain-level gate (RefinedWeb-style): aggregate quality
    # per registrable domain and drop EVERY page of domains whose average
    # falls below the threshold — content farms fail as a site, not page
    # by page. Active when set.
    domain_min_quality: float | None = None
    min_quality: float = 0.35
    dedup: DedupConfig = field(default_factory=DedupConfig)
    # ⑥ optional SemDeDup stage over the canonical corpus: hashing-trick
    # text embeddings → ivf_build quantizer → within-list cosine groups →
    # keep-the-novel representative (operators/semantic.py). hash_fn 'md5'
    # makes the whole stage cross-engine value-checkable (the driver row's
    # posture); production default 'xxh64'.
    semantic: bool = False
    semantic_threshold: float = 0.9
    semantic_dim: int = 64
    semantic_k_lists: int = 8
    semantic_iters: int = 2
    semantic_hash: str = "xxh64"
    # ⓪b decontamination gram width (the stage runs iff run_curation gets
    # an eval_pages table — the benchmark is external input, not config)
    decontam_n: int = 13
    # ⑤b optional exact long-match removal over the canonical corpus
    # (Lee et al. 2022 ExactSubstr): verified cross-document spans ≥
    # substring_min_len chars are cut from the higher-url doc (keep-first),
    # then token accounting is recomputed on the rewritten text. Same
    # md5-for-oracle / xxh64-production hash dual as the other stages.
    substring_cut: bool = False
    substring_min_len: int = 48
    substring_hash: str = "xxh64"
    # substring_exact=True swaps the winnowed probabilistic anchor screen
    # for the suffix-array instrument (operators/suffixarray.py): every
    # cross-document span >= substring_min_len is found and byte-verified —
    # the per-shard EXACT posture, quadratic-free but round-heavier
    substring_exact: bool = False
    # ⑦ optional stratified mixing sample over the final corpus: stratum →
    # fraction (strata absent from the map get sample_default). Same
    # md5-for-oracle / xxh64-production dual as the semantic stage.
    sample_fractions: dict | None = None
    sample_default: float = 0.0
    sample_hash: str = "xxh64"
    # ⑧ optional DSIR selection (Xie et al. 2023): keep the dsir_k docs
    # whose hashed-n-gram profile is most target-like (Gumbel-top-k, i.e.
    # weighted sampling without replacement). Active when ``run_curation``
    # receives ``target_pages`` AND dsir_k is set — the target corpus is
    # external input, like the decontamination benchmark. Runs last: data
    # selection is a budget decision over the already-clean corpus.
    dsir_k: int | None = None
    dsir_buckets: int = 4096
    dsir_hash: str = "xxh64"


def _fingerprint(cfg: CurateConfig, decontam: bool, dsir: bool) -> str:
    """The config plus which optional gates run. The nested dedup config
    hashes as run_dedup's own fingerprint, so an edit to an LSH constant
    recomputes every stage built from its clusters, not only the dedup
    sub-plan's."""
    return config_hash({
        **asdict(cfg), "dedup": dedup_fingerprint(cfg.dedup),
        "decontam": decontam, "dsir": dsir,
    })


def run_curation(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    cfg: CurateConfig | None = None,
    eval_pages: DataFrame | None = None,
    target_pages: DataFrame | None = None,
) -> dict:
    """Returns {"corpus": final DataFrame, "metrics": funnel dict, ...}.

    ``eval_pages`` (url, text) switches on the ⓪b decontamination gate:
    quality-kept pages sharing any ``cfg.decontam_n``-gram with the eval
    set are dropped before dedup. ``target_pages`` (url, text) plus
    ``cfg.dsir_k`` switches on the ⑧ DSIR selection stage: only the
    dsir_k most target-like documents survive."""
    cfg = cfg or CurateConfig()
    dsir_active = target_pages is not None and bool(cfg.dsir_k)
    store = StageStore(out_dir, _fingerprint(cfg, eval_pages is not None, dsir_active))

    # ⓪a optional canonical-URL crawl dedup — the cheapest duplicate class
    # (one page, many url spellings) drops before any scoring or kernel
    # work. The kept record's original url stays the pipeline key.
    crawl = pages
    if cfg.url_dedup:
        from iscc_specs_spark.operators.urls import url_dedup as _url_dedup

        if store.has("url_keep"):
            keep_urls = store.read(spark, "url_keep")
        else:
            keep_urls = store.write(_url_dedup(pages), "url_keep")
        # semi-join on (url, warc_ts), not url alone: a re-crawl under the
        # IDENTICAL spelling (same url, newer warc_ts — the most common
        # class) shares the kept row's url, and a url-only join would keep
        # every crawl of it. The (url, last_ts) pair pins the one winning
        # record. (Byte-identical (url, warc_ts) duplicates — a degenerate
        # input — still pass; the tophash exact stage collapses them.)
        crawl = pages.join(
            keep_urls.select("url", F.col("last_ts").alias("warc_ts")),
            ["url", "warc_ts"],
            "left_semi",
        )

    # ⓪c optional domain gate: per-domain aggregate quality decides for the
    # whole site (one exchange on domain + a semi-join back; the stats
    # table is the audit artifact). Runs after url dedup so re-crawls
    # don't double-count into a domain's average. The full-corpus quality
    # projection — the most expensive narrow scan in the plan — runs ONCE:
    # per-doc rows are staged and BOTH the domain rollup and the ⓪ scored
    # table derive from that one staged table.
    if cfg.domain_min_quality is not None:
        from iscc_specs_spark.operators.urls import (
            domain_rollup,
            registered_domain,
        )

        if store.has("quality"):
            qrows = store.read(spark, "quality")
        else:
            qrows = store.write(
                quality_scores(crawl, id_col="url", keep_cols=("lang",)),
                "quality",
            )
        if store.has("domain_stats"):
            ds = store.read(spark, "domain_stats")
        else:
            ds = store.write(domain_rollup(qrows), "domain_stats")
        good = ds.where(
            F.col("avg_quality") >= cfg.domain_min_quality
        ).select("domain")
        gated = (
            crawl.withColumn("_domain", registered_domain("url"))
            .join(good, F.col("_domain") == F.col("domain"), "left_semi")
            .drop("_domain")
        )
    else:
        qrows = None
        gated = crawl

    # ⓪ quality gate — native SQL, no shuffle; score every page, keep the
    # ones above threshold. Both sides are recorded (kept pages feed the
    # pipeline; the scored table itself is the audit trail). When the
    # domain gate staged per-doc scores already, reuse them (pure per-row
    # projection — identical values on the gated subset).
    if store.has("scored"):
        scored = store.read(spark, "scored")
    else:
        per_doc = (
            qrows.drop("lang")
            if qrows is not None
            else quality_scores(gated, id_col="url")
        )
        scored = store.write(gated.join(per_doc, "url"), "scored")
    kept = scored.where(F.col("quality_score") >= cfg.min_quality)

    # ⓪b optional decontamination gate: the per-doc overlap report is the
    # staged audit artifact (every kept doc, hit counts included), the
    # clean set feeds the pipeline. Runs BEFORE the kernel: a leaked
    # benchmark doc must neither be coded nor win a canonical pick.
    clean = kept
    if eval_pages is not None:
        from iscc_specs_spark.operators.decontam import decontaminate

        if store.has("decontam"):
            rep = store.read(spark, "decontam")
        else:
            rep = store.write(
                decontaminate(
                    kept, eval_pages, n=cfg.decontam_n, id_col="url"
                ),
                "decontam",
            )
        clean = kept.join(
            rep.where(~F.col("contaminated")).select("url"),
            "url",
            "left_semi",
        )

    # ①–④ dedup on the surviving pages (resumable sub-plan, own manifest)
    dd = run_dedup(spark, clean, f"{out_dir}/dedup", cfg.dedup)

    # ⑤ final corpus: canonical representative per cluster only, with
    # per-document token accounting for downstream data budgeting
    if store.has("corpus"):
        corpus = store.read(spark, "corpus")
    else:
        canonical = dd["canonical"].where(F.col("is_canonical"))
        corpus = store.write(
            # drop the gate's n_tokens so token_counts' full accounting
            # (n_chars / n_tokens / n_bpe_tokens) is the single source
            clean.drop("n_tokens")
            .join(canonical.select("url", "cluster_id"), "url")
            .join(token_counts(clean, id_col="url"), "url"),
            "corpus",
        )

    # ⑤b optional exact long-match removal (Lee et al. ExactSubstr): the
    # doc-level tracks upstream collapse whole-document duplicates; this
    # stage cuts the residual cross-document long spans (shared
    # boilerplate, quoted passages) out of the surviving canonical text.
    # Keep-first: the lower url keeps its copy. No document is dropped —
    # text is rewritten, so token accounting is recomputed downstream of
    # the cut and the funnel gains rewrite counters instead of a drop term.
    if cfg.substring_cut:
        from iscc_specs_spark.operators.substring import (
            substring_cut as _substring_cut,
        )

        if store.has("corpus_cut"):
            corpus = store.read(spark, "corpus_cut")
        else:
            matches = None
            if cfg.substring_exact:
                from iscc_specs_spark.operators.suffixarray import (
                    sa_long_matches,
                )

                # the suffix-array instrument finds every cross-document
                # span >= min_len below the distinct-document class cap
                # (no sampling bound — same df policy as the screen); its
                # exact match_len feeds the same keep-first cut as the
                # screen's lower bound
                matches = sa_long_matches(
                    corpus, min_len=cfg.substring_min_len, id_col="url"
                ).withColumnRenamed("match_len", "match_len_lb")
            cut = store.write(
                _substring_cut(
                    corpus,
                    matches=matches,
                    min_len=cfg.substring_min_len,
                    anchor=cfg.substring_hash,
                    id_col="url",
                ),
                "sub_cut",
            )
            rewritten = corpus.drop(
                "text", "n_chars", "n_tokens", "n_bpe_tokens"
            ).join(
                cut.select(
                    F.col("doc_id").alias("url"),
                    F.col("clean_text").alias("text"),
                    "n_spans_cut",
                    "chars_cut",
                ),
                "url",
            )
            corpus = store.write(
                rewritten.join(token_counts(rewritten, id_col="url"), "url"),
                "corpus_cut",
            )

    # ⑥ optional semantic dedup over the canonical corpus (SemDeDup):
    # hashed-BoW vectors + quantizer model + per-doc keep decision are all
    # staged, so the stage resumes like every other and a DuckDB twin can
    # recompute the full decision surface from the staged model
    final = corpus
    if cfg.semantic:
        from iscc_specs_spark.operators.ann import ivf_build
        from iscc_specs_spark.operators.semantic import (
            featurize_text,
            semantic_dedup,
        )

        if store.has("sem_keep"):
            sem_keep = store.read(spark, "sem_keep")
        else:
            emb = store.write(
                featurize_text(
                    corpus,
                    dim=cfg.semantic_dim,
                    id_col="url",
                    hash_fn=cfg.semantic_hash,
                ).select(F.col("url").alias("vec_id"), "embedding"),
                "sem_vecs",
            )
            cents, assign = ivf_build(
                emb,
                k_lists=cfg.semantic_k_lists,
                iters=cfg.semantic_iters,
                dim=cfg.semantic_dim,
                id_type="string",
            )
            store.write(
                spark.createDataFrame(
                    [(i, c) for i, c in enumerate(cents)],
                    schema="list_id long, c array<double>",
                ),
                "sem_centroids",
            )
            # stage the assignment BEFORE consuming it twice: the GEMM
            # argmax runs exactly once and the decision twin ranks the
            # identical table (same rationale as the driver's IVF row)
            assign = store.write(assign, "sem_assign")
            sem = semantic_dedup(
                emb,
                threshold=cfg.semantic_threshold,
                dim=cfg.semantic_dim,
                model=(cents, assign),
            )
            sem_keep = store.write(
                sem.select(
                    F.col("vec_id").alias("url"),
                    "sem_group",
                    "group_size",
                    "keep",
                ),
                "sem_keep",
            )
        if store.has("corpus_sem"):
            final = store.read(spark, "corpus_sem")
        else:
            final = store.write(
                corpus.join(
                    sem_keep.where(F.col("keep")).select("url"),
                    "url",
                    "left_semi",
                ),
                "corpus_sem",
            )

    # ⑦ optional stratified mixing sample — the last stage: fractions are
    # the data-budget knob and must apply to the already-clean corpus
    n_sem = None
    if cfg.sample_fractions is not None:
        from iscc_specs_spark.operators.sampling import stratified_sample

        n_sem = final.count()
        if store.has("corpus_sampled"):
            final = store.read(spark, "corpus_sampled")
        else:
            final = store.write(
                stratified_sample(
                    final,
                    cfg.sample_fractions,
                    default_fraction=cfg.sample_default,
                    strata_col="lang",
                    key_col="url",
                    hash_fn=cfg.sample_hash,
                ),
                "corpus_sampled",
            )

    # ⑧ optional DSIR selection: fit the LLR model on (current corpus,
    # target), keep the dsir_k highest Gumbel-perturbed-weight docs. Model
    # and selection are staged (the model is the audit artifact: which
    # feature buckets pulled docs in); the corpus filter is a semi-join.
    n_mix = None
    if dsir_active:
        from iscc_specs_spark.operators import dsir as _dsir

        n_mix = final.count()
        if store.has("corpus_dsir"):
            final = store.read(spark, "corpus_dsir")
        else:
            model = store.write(
                _dsir.dsir_model(
                    spark,
                    final,
                    target_pages,
                    buckets=cfg.dsir_buckets,
                    id_col="url",
                    hash_fn=cfg.dsir_hash,
                ),
                "dsir_model",
            )
            sel = store.write(
                _dsir.dsir_sample(
                    final,
                    model,
                    k=cfg.dsir_k,
                    buckets=cfg.dsir_buckets,
                    id_col="url",
                    hash_fn=cfg.dsir_hash,
                ),
                "dsir_selected",
            )
            final = store.write(
                final.join(sel.select("url"), "url", "left_semi"),
                "corpus_dsir",
            )

    n_in = pages.count()
    n_crawl = crawl.count() if cfg.url_dedup else n_in
    n_dom = (
        gated.count() if cfg.domain_min_quality is not None else n_crawl
    )
    n_kept = kept.count()
    n_clean = clean.count() if eval_pages is not None else n_kept
    n_corpus = corpus.count()
    sub_rewritten = sub_chars_cut = 0
    if cfg.substring_cut:
        row = corpus.agg(
            F.sum((F.col("n_spans_cut") > 0).cast("long")).alias("d"),
            F.sum("chars_cut").alias("c"),
        ).collect()[0]
        sub_rewritten, sub_chars_cut = int(row["d"] or 0), int(row["c"] or 0)
    # n_sem: docs after the semantic stage; n_mix: docs after the mixing
    # sample (== before DSIR). Each is counted at the next stage's entry
    # when that stage is active, else derived without an extra action.
    if n_mix is not None:
        # DSIR was active: n_mix was counted at its entry; when sampling
        # was off nothing dropped between the semantic stage and DSIR, so
        # the same count serves as n_sem
        n_sem = n_sem if n_sem is not None else n_mix
        n_mix_final = n_mix
    else:
        n_sem = n_sem if n_sem is not None else (
            final.count() if cfg.semantic else n_corpus
        )
        n_mix_final = (
            final.count() if cfg.sample_fractions is not None else n_sem
        )
    n_out = (
        final.count()
        # `is not None`, matching the stage guard: an EMPTY fractions dict
        # still runs the sampler (everything at sample_default)
        if (cfg.semantic or cfg.sample_fractions is not None or dsir_active)
        else n_corpus
    )
    tokens_out = final.agg(F.sum("n_tokens")).collect()[0][0] or 0
    metrics = {
        "docs_in": n_in,
        "docs_dropped_url_duplicate": n_in - n_crawl,
        "docs_dropped_domain": n_crawl - n_dom,
        "docs_dropped_quality": n_dom - n_kept,
        "docs_dropped_contaminated": n_kept - n_clean,
        "docs_dropped_duplicate": n_clean - n_corpus,
        "docs_rewritten_substring": sub_rewritten,
        "chars_cut_substring": sub_chars_cut,
        "docs_dropped_semantic": n_corpus - n_sem,
        "docs_dropped_sampling": n_sem - n_mix_final,
        "docs_dropped_dsir": n_mix_final - n_out,
        "docs_out": n_out,
        "tokens_out": int(tokens_out),
    }
    store.record_metrics("funnel", metrics)
    return {
        "scored": scored,
        "corpus": final,
        "dedup": dd,
        "metrics": metrics,
        "store": store,
    }
