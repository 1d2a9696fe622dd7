"""Plan-regression gate: scale anti-patterns fail CI instead of needing a
judge. Asserts over `explain('formatted')` text at sf0.001:

  * no CartesianProduct / BroadcastNestedLoopJoin anywhere except the two
    documented exceptions (`embedding_neardup` — the intentionally-quadratic
    exact verifier; `ann_topk` — non-equi broadcast of a tiny query set,
    the corpus side never shuffles);
  * top_customers compiles to a distributed partial top-k
    (TakeOrderedAndProject), not an unpartitioned global window;
  * narrow operators keep their parquet scans pruned (ReadSchema);
  * the dedup hot path keeps Python out of everything downstream of the
    codegen stage.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"

# intentionally quadratic / nested-loop query shapes (documented verifiers;
# ann_ivf_topk's is the bounded query × k_lists-centroid broadcast probe —
# every query scores every coarse centroid by design, k_lists is O(100s))
NESTED_LOOP_OK = {"embedding_neardup", "ann_topk", "ann_ivf_topk"}


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def plans(spark):
    qs = entrymod.queries()
    return {name: _plan(fn(spark, SF_DIR)) for name, fn in qs.items()}


def test_no_cartesian_or_nested_loop(plans):
    bad = {}
    for name, txt in plans.items():
        if name in NESTED_LOOP_OK:
            continue
        hits = re.findall(r"CartesianProduct|BroadcastNestedLoopJoin", txt)
        if hits:
            bad[name] = sorted(set(hits))
    assert not bad, f"nested-loop joins crept into: {bad}"


def test_top_customers_partial_topk(plans):
    assert "TakeOrderedAndProject" in plans["top_customers"]


def test_hot_ngrams_partial_topk(plans):
    """Corpus top-k must be a per-partition heap + driver merge, never a
    global sort or an unpartitioned window. (explain('formatted') prints
    the physical node as 'Window', never 'WindowExec', so the bad shape is
    gated by its real signature: a single-partition exchange feeding the
    plan — r06 advice.)"""
    assert "TakeOrderedAndProject" in plans["hot_ngrams"]
    assert "Exchange SinglePartition" not in plans["hot_ngrams"]


def test_narrow_scans_are_pruned(plans):
    # token_counts must read only (doc_id, text) from documents
    schemas = re.findall(r"ReadSchema: struct<(.*?)>", plans["token_counts"])
    assert schemas, "no scan found"
    for s in schemas:
        cols = {c.split(":")[0] for c in s.split(",")}
        assert cols <= {"doc_id", "text"}, cols


def test_q1_filter_pushed_down(plans):
    pushed = re.findall(r"PushedFilters: \[(.*?)\]", plans["q1_pricing"])
    assert any("l_shipdate" in p for p in pushed), pushed
    schemas = re.findall(r"ReadSchema: struct<(.*?)>", plans["q1_pricing"])
    assert all(len(s.split(",")) <= 7 for s in schemas), schemas


def test_dedup_pairs_is_jvm_side_after_codegen(spark):
    """Over a materialized codes table, dup_pairs must contain zero Python
    stages — banding, capping and verification are all native SQL."""
    from iscc_specs_spark.operators import lsh
    from iscc_specs_spark.operators.codegen import compute_codes
    from iscc_specs_spark.sources.pages import generate_pages

    codes = compute_codes(generate_pages(spark, 200, partitions=4)).localCheckpoint(eager=True)
    txt = _plan(lsh.dup_pairs(codes))
    assert not re.search(
        r"ArrowEvalPython|BatchEvalPython|MapInPandas|FlatMapGroupsInPandas", txt
    )


def test_staged_queries_read_from_materialized_codes(plans):
    """The oracle-stage parquet write (__spark_entry__._stage) must stay a
    side output: every kernel-backed query's MAIN plan reads the
    checkpointed codes table (Scan ExistingRDD) and contains neither a
    codegen re-execution (Python stage) nor the staging write itself —
    otherwise a refactor could silently double-execute the codegen UDFs
    once per consumer."""
    for name in (
        "dedup_pairs", "dedup_clusters", "lsh_band_stats", "cluster_mixed_cid"
    ):
        txt = plans[name]
        assert "ExistingRDD" in txt, f"{name}: codes not materialized"
        assert not re.search(
            r"ArrowEvalPython|BatchEvalPython|MapInPandas|FlatMapGroupsInPandas",
            txt,
        ), f"{name}: codegen re-executed in main plan"
        assert "InsertIntoHadoopFsRelation" not in txt, (
            f"{name}: staging write leaked into the query plan"
        )


def test_dsir_topk_partial_topk_and_broadcast_model(plans):
    """DSIR's Gumbel-top-k must stay a partial per-partition top-k (no
    global sort of the corpus), and the B-row model must join in
    broadcast (never shuffle the doc×bucket counts against it). The only
    shuffle join allowed is the doc-keyed LeftOuter zero-fill of
    gram-less docs — corpus vs corpus-sized weights, inherently
    co-shuffled, skew-free (doc id key)."""
    txt = plans["dsir_topk"]
    assert "TakeOrderedAndProject" in txt
    assert "BroadcastHashJoin" in txt
    assert "SortMergeJoin Inner" not in txt
    # one LeftOuter node: formatted explain prints it twice (tree + detail)
    assert txt.count("SortMergeJoin") <= 2


def test_compression_stats_single_python_stage(plans):
    """The DEFLATE pass is ONE narrow mapInPandas over (doc_id, text) —
    no shuffle, pruned scan. (The driver row reads the staged parquet
    back, so its plan shows the scan, not the Python stage — gate the
    scan's schema.)"""
    schemas = re.findall(
        r"ReadSchema: struct<(.*?)>", plans["compression_stats"]
    )
    assert schemas
    for s in schemas:
        cols = {c.split(":")[0] for c in s.split(",")}
        assert cols <= {"doc_id", "n_bytes", "z_bytes"}, cols
    assert "Exchange" not in plans["compression_stats"]


def test_ann_topk_uses_window_group_limit(plans):
    """Both ANN top-k entry points rely on Spark's InferWindowGroupLimit to
    turn the per-query `row_number <= k` filter into a partial top-k
    (WindowGroupLimit) instead of a full per-query sort — pin the operator
    so a config or version change can't silently reintroduce the
    single-task sort (ann.py:73-79,175-181)."""
    for name in ("ann_topk", "ann_lsh_topk"):
        assert "WindowGroupLimit" in plans[name], name


def test_no_python_stages_outside_codegen_and_sources(plans):
    """Queries whose inputs are the driver parquet tables (not the synthetic
    mapInPandas sources) must contain at most the single codegen Python
    stage; pure-SQL operators must contain none."""
    pure_sql = [
        "exact_dedup", "ngram_jaccard", "embedding_neardup",
        "ann_topk", "token_counts",
        "quality_scores", "repetition_stats", "line_dedup", "pii_scrub",
        "language_id", "fingerprints", "q1_pricing",
        "top_customers", "events_by_type", "user_last_event",
        "substring_matches", "extracted_text",
    ]
    for name in pure_sql:
        assert not re.search(
            r"ArrowEvalPython|BatchEvalPython|MapInPandas|FlatMapGroupsInPandas",
            plans[name],
        ), name
    # RHP-bucketed queries carry AT MOST ONE Arrow stage since r07: the
    # all-tables signature pass (ann.rhp_buckets_arrow — NumPy-vectorized,
    # bit-identical to the SQL fold signatures). embedding_neardup_lsh's
    # candidate generator materializes the bucketed table, so its final
    # plan shows zero; ann_lsh_topk's shows the one pass inline. More than
    # one — or any row-at-a-time Python form — is a regression.
    for name in ("embedding_neardup_lsh", "ann_lsh_topk"):
        # count physical nodes via the detail headers — formatted explain
        # prints every node twice (tree line + "(n) MapInPandas" detail)
        assert len(re.findall(r"\(\d+\) MapInPandas", plans[name])) <= 1, name
        assert not re.search(
            r"ArrowEvalPython|BatchEvalPython|FlatMapGroupsInPandas",
            plans[name],
        ), name
