"""Generate PLANS.md: physical-plan audit of the key operators.

For each audited query: capture `explain("formatted")`, extract the
scale-relevant evidence (PushedFilters, ReadSchema pruning, join strategies,
WholeStageCodegen spans, exchange count) and flag regressions:

  * a scan that reads columns the query never uses
  * a filter that exists in the plan but not in PushedFilters
  * Python appearing anywhere but the codegen stage (UDFs in the hot path)

Usage: python scripts/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from iscc_specs_spark.session import get_spark  # noqa: E402


def plan_text(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def audit(name: str, df, notes: str) -> str:
    txt = plan_text(df)
    n_exchange = len(re.findall(r"\bExchange\b", txt))
    n_wsc = len(set(re.findall(r"codegen id : (\d+)", txt)))
    joins = sorted(set(re.findall(r"(\w*HashJoin|SortMergeJoin|BroadcastNestedLoopJoin)", txt)))
    pushed = re.findall(r"PushedFilters: \[(.*?)\]", txt)
    schemas = re.findall(r"ReadSchema: struct<(.*?)>", txt)
    pyth = sorted(set(re.findall(r"(ArrowEvalPython|BatchEvalPython|MapInPandas|FlatMapGroupsInPandas)", txt)))
    lines = [
        f"## {name}",
        "",
        notes,
        "",
        f"- exchanges (shuffles): **{n_exchange}**",
        f"- WholeStageCodegen spans: **{n_wsc}**",
        f"- join strategies: {', '.join(joins) if joins else 'none'}",
        f"- Python stages: {', '.join(pyth) if pyth else 'none (fully JVM-side)'}",
    ]
    for i, p in enumerate(pushed):
        if p.strip():
            lines.append(f"- PushedFilters[{i}]: `{p}`")
    for i, s in enumerate(schemas):
        cols = [c.split(":")[0] for c in s.split(",")]
        lines.append(f"- ReadSchema[{i}] ({len(cols)} cols): `{', '.join(cols[:12])}`")
    lines.append("")
    return "\n".join(lines)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("explain-audit", cores=8, shuffle_partitions=16)
    import __spark_entry__ as e

    from iscc_specs_spark.operators import lsh
    from iscc_specs_spark.operators.codegen import compute_codes
    from iscc_specs_spark.sources.pages import pages_from_documents

    qs = e.queries()
    sections = ["# PLANS — physical-plan audit (generated by scripts/explain_audit.py)",
                "",
                f"Input: `{sf_dir}`. The audit extracts shuffle counts, codegen spans,",
                "join strategies, filter pushdown and scan pruning from",
                "`explain('formatted')` for the scale-critical operators.",
                ""]

    pages = pages_from_documents(spark, sf_dir)
    codes = compute_codes(pages)
    sections.append(audit(
        "codegen (pages → codes)", codes,
        "The only Python stage in the engine (Arrow-batched mapInPandas over "
        "the vectorized kernel). Everything downstream is JVM-native.",
    ))
    ck = codes.localCheckpoint(eager=True)  # as the pipeline runs it
    sections.append(audit(
        "dup_pairs (LSH banding + inline verify)", lsh.dup_pairs(ck),
        "Banding, bucket capping, in-bucket verification, over the "
        "materialized codes table (as plans/dedup.py runs it and stores it "
        "as its dup_pairs stage). Verification fields ride the band "
        "shuffle — no join back to the full code table; the 512 B minhash "
        "column stays out of the band payload.",
    ))
    sections.append(audit(
        "token_counts", qs["token_counts"](spark, sf_dir),
        "Narrow projection; scan must read only (doc_id, text).",
    ))
    sections.append(audit(
        "exact_dedup", qs["exact_dedup"](spark, sf_dir),
        "One shuffle on the content fingerprint (map-side partial agg).",
    ))
    sections.append(audit(
        "q1_pricing (TPC-H Q1 shape)", qs["q1_pricing"](spark, sf_dir),
        "Filter must be pushed to the parquet scan; scan prunes to 6 columns.",
    ))
    sections.append(audit(
        "ann_topk (broadcast cross-score + window)", qs["ann_topk"](spark, sf_dir),
        "Query side explicitly broadcast; corpus never shuffles for scoring.",
    ))
    sections.append(audit(
        "substring_matches", qs["substring_matches"](spark, sf_dir),
        "Winnowed anchors: narrow explode, one shuffle on anchor hash, "
        "df-cap guard before the pair join.",
    ))
    sections.append(audit(
        "c4_filters (C4 line/page cleaning)",
        qs["c4_filters"](spark, sf_dir),
        "Page flags computed once per doc BEFORE the explode; one "
        "doc_id-keyed exchange; per-doc reassembly bounded by a single "
        "document's line count (same contract as line_dedup).",
    ))
    sections.append(audit(
        "substring_cut (exact long-match removal)",
        qs["substring_cut"](spark, sf_dir),
        "ExactSubstr cut: the span table is tiny relative to the corpus "
        "(matched docs only), interval merge is a Window over doc_id with "
        "bounded partitions, and the text joins in exactly once for the "
        "single-pass reassembly.",
    ))
    sections.append(audit(
        "sa_matches (suffix-array exact long matches)",
        qs["sa_matches"](spark, sf_dir),
        "The exact instrument behind the winnowed screen: prefix-doubling "
        "rounds materialize via localCheckpoint (scan leaves here), so the "
        "audited plan is the mining tail — class-size guard, equi-join "
        "pairing on the L-prefix rank (no nested loop), and the span merge "
        "window partitioned by (doc_a, doc_b, delta): bounded partitions, "
        "positions within one document pair.",
    ))
    sections.append(audit(
        "url_dedup (canonicalize + latest-crawl pick)",
        qs["url_dedup"](spark, sf_dir),
        "Canonicalization is a codegen-resident projection (regexp + short "
        "array sort, no UDF, no shuffle); the dedup is two aggregations "
        "hashing on the same canon_url key, so the second exchange reuses "
        "the first's partitioning.",
    ))
    sections.append(audit(
        "domain_stats (per-domain rollup)",
        qs["domain_stats"](spark, sf_dir),
        "Quality scoring is a zero-shuffle codegen projection; the rollup "
        "itself is one domain-keyed exchange plus count_distinct's second "
        "two-phase hop, and the driver row's crawl-fixture join broadcasts "
        "(never shuffles the corpus). The quality average is an "
        "integer-millionths sum (reduction-order-exact).",
    ))
    sections.append(audit(
        "dsir_topk (importance resampling)",
        qs["dsir_topk"](spark, sf_dir),
        "Hashed-feature counts shuffle on (doc, bucket) then doc — doc id "
        "in every key, skew-free; the B-row LLR model joins in broadcast; "
        "the zero-fill LeftOuter is the only shuffle join (doc-keyed); "
        "Gumbel-top-k is TakeOrderedAndProject (partial per-partition "
        "top-k, no global sort).",
    ))
    sections.append(audit(
        "embedding_neardup_lsh (bucketed near-dup)",
        qs["embedding_neardup_lsh"](spark, sf_dir),
        "Scale path for embedding near-dup: RHP bucket self-join (equi-join "
        "on (table, signature)) replaces the verifier's cartesian product — "
        "the plan must contain no nested-loop join. Buckets above "
        "bucket_cap are broadcast-routed hub-and-spoke (one O(k) hub per "
        "hot bucket), so a template farm can never make the self-join "
        "quadratic.",
    ))
    # audit the operators themselves, not the driver rows' staged read-back
    from iscc_specs_spark.operators.multimodal import (
        av_codes,
        image_codes,
        synthetic_assets,
    )

    sections.append(audit(
        "image_codes (multimodal image track)",
        image_codes(synthetic_assets(spark, n=64)),
        "Real PNG/GIF/JPEG decode → normalize → DCT hash in ONE Arrow-"
        "batched mapInPandas pass; narrow (no shuffle) — parallelism comes "
        "from input splits, same contract as the text codegen stage. (The "
        "driver row additionally stages this table for its DuckDB twin.)",
    ))
    sections.append(audit(
        "av_codes (multimodal A/V track)",
        av_codes(synthetic_assets(spark, n=64)),
        "WAV-PCM window sampling + animated-GIF frame sampling + 64-bit "
        "fingerprint in ONE Arrow-batched mapInPandas pass; narrow (no "
        "shuffle) — same contract as the image track.",
    ))
    sections.append(audit(
        "cluster_mixed_cid (native bit-majority)",
        qs["cluster_mixed_cid"](spark, sf_dir),
        "Per-cluster Mixed Content-ID as 56 map-side-combinable bit SUMs + "
        "native base58 encode — no grouped Python UDF, no collect-per-"
        "cluster (mega-clusters aggregate like any groupBy).",
    ))
    sections.append(audit(
        "top_customers (distributed partial top-k)",
        qs["top_customers"](spark, sf_dir),
        "orderBy+limit compiles to TakeOrderedAndProject (per-partition heap "
        "+ driver merge); the rank window runs on the ≤10 survivors only.",
    ))

    sections.append(audit(
        "decontaminate (benchmark 13-gram overlap)",
        qs["decontaminate"](spark, sf_dir),
        "Eval-set grams reach the corpus via BroadcastHashJoin (benchmarks "
        "are MBs, the corpus is the 100 TB side); corpus grams are built "
        "codegen-resident (posexplode + window lead + concat_ws), tagged by "
        "a left broadcast probe, and gram+hit counts come out of ONE "
        "aggregate that reuses the window's doc_id partitioning — the "
        "corpus side shuffles exactly once; remaining exchanges are the "
        "MB-scale eval side and the id-list join.",
    ))
    sections.append(audit(
        "corpus_sample (stratified hash sampling)",
        qs["corpus_sample"](spark, sf_dir),
        "Deterministic mixing-weight sample: the keep predicate (hash "
        "threshold per stratum) is a single codegen filter fused into the "
        "scan — zero shuffle, zero UDF, layout-invariant keep set.",
    ))

    from iscc_specs_spark.operators.dedup_variants import (
        embedding_neardup_pairs_gemm,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    sections.append(audit(
        "embedding_neardup_pairs_gemm (production verifier)",
        embedding_neardup_pairs_gemm(emb, threshold=0.4),
        "Blocked-GEMM exact verifier: vectors pack into block-sized tiles "
        "(one groupBy), tile PAIRS cross-join — (n/block)² small rows, not "
        "an n² row cartesian — and one Arrow pass runs a float64 matmul "
        "per tile pair. The nested-loop join here joins TILES (documented "
        "exception, like the SQL verifier); per-pair work is inside BLAS.",
    ))

    sections.append(audit(
        "repetition_stats (Gopher repetition rules)",
        qs["repetition_stats"](spark, sf_dir),
        "Tokens posexplode once; all nine gram sizes come from a per-doc "
        "window lead + concat_ws (whole-stage codegen — the higher-order "
        "transform/slice formulation was interpreted per element and 10× "
        "slower), and only (doc_id, n, xxhash64(gram), length) reach the "
        "aggregation shuffle. Top and dup fractions share ONE aggregation "
        "subtree — nothing consumed twice.",
    ))
    sections.append(audit(
        "line_dedup (CCNet boilerplate line removal)",
        qs["line_dedup"](spark, sf_dir),
        "One explode, a line-keyed countDistinct for document frequency, "
        "one equi-join of occurrences against the >=min_df survivor set "
        "(AQE skew-split covers viral lines at scale), and a per-doc "
        "bounded reassembly groupBy. No UDFs.",
    ))
    sections.append(audit(
        "pii_scrub",
        qs["pii_scrub"](spark, sf_dir),
        "Zero-shuffle narrow projection; regexp counts + redaction inside "
        "whole-stage codegen.",
    ))

    from iscc_specs_spark.operators.cluster import assign_clusters
    from iscc_specs_spark.plans.dedup import canonical_pick

    clusters = assign_clusters(ck.select("url"), lsh.dup_pairs(ck))
    sections.append(audit(
        "canonical_pick (skew-free cluster representative)",
        canonical_pick(ck.select("url", "warc_ts"), clusters),
        "min_by aggregation + equi-join, NOT a row_number window: the plan "
        "must contain no Window operator, so a degenerate mega-cluster "
        "never sorts in a single task (partial_min_by combines map-side).",
    ))

    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(sections))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
