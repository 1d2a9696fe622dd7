"""Re-crawled urls through the url-level tail: the batch engine
(run_dedup ②③④), the stream (process_dedup_batch + curate_state) and
their DuckDB twins give one row per url — and one pair row per
(url_a, url_b, src) — however many crawls of a url the input holds."""

from __future__ import annotations

import datetime

import duckdb
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from iscc_specs_spark import oracles
from iscc_specs_spark.operators import lsh
from iscc_specs_spark.operators.cluster import assign_clusters
from iscc_specs_spark.plans.dedup import DedupConfig, run_dedup
from iscc_specs_spark.streaming.ingest import (
    curate_state,
    process_dedup_batch,
    read_dup_flags,
)

PAIR_COLUMNS = [
    "url_a", "url_b", "src", "cid_hamming", "simhash_hamming", "exact_dup",
]


@pytest.fixture(scope="module")
def recrawl_run(spark, recrawl_pages, tmp_path_factory):
    return run_dedup(
        spark, recrawl_pages, str(tmp_path_factory.mktemp("recrawl")), DedupConfig()
    )


def _rows(df, cols=None):
    return sorted(map(tuple, (df.select(*cols) if cols else df).collect()))


def test_dup_pairs_one_row_per_key_on_every_partitioning(recrawl_run):
    """A url pair that several crawls find at different distances is one
    row per (url_a, url_b, src), its least (cid_hamming,
    simhash_hamming, exact_dup) — the same rows at any partitioning of
    the codes, and the rows run_dedup stores."""
    codes = recrawl_run["codes"]
    assert codes.count() == 387
    got = _rows(lsh.dup_pairs(codes), PAIR_COLUMNS)
    assert len({p[:3] for p in got}) == len(got)
    assert {p[2] for p in got} == {"lsh", "exact"}
    for n in (1, 7):
        assert _rows(lsh.dup_pairs(codes.repartition(n)), PAIR_COLUMNS) == got
    assert _rows(recrawl_run["dup_pairs"], PAIR_COLUMNS) == got


def test_recrawl_tail_matches_duckdb_twins(spark, recrawl_run, tmp_path):
    """On the staged re-crawl codes the DuckDB twins give Spark's rows:
    dedup_pairs, dedup_clusters (cluster sizes count urls, not crawls),
    and — over a stream whose second batch re-crawls urls of the first —
    streaming_dedup and streaming_canonical."""
    codes = recrawl_run["codes"]
    codes_pq = str(tmp_path / "codes")
    codes.write.parquet(codes_pq)
    con = duckdb.connect()

    pairs_sql = oracles.dedup_pairs_sql(f"{codes_pq}/*.parquet")
    assert sorted(con.sql(pairs_sql).fetchall()) == _rows(
        recrawl_run["dup_pairs"], PAIR_COLUMNS
    )

    sizes = recrawl_run["clusters"].groupBy("cluster_id").agg(
        F.count("*").cast("long").alias("cluster_size")
    )
    clusters_sql = oracles.dedup_clusters_sql(f"{codes_pq}/*.parquet")
    want = _rows(sizes)
    assert sum(n for _, n in want) == 300
    assert sorted(con.sql(clusters_sql).fetchall()) == want

    # batch 0: each url's first crawl; batch 1: its later crawls
    first = F.row_number().over(Window.partitionBy("url").orderBy("warc_ts")) == 1
    ranked = codes.withColumn("_first", first)
    state = str(tmp_path / "stream")
    for i, cond in enumerate((F.col("_first"), ~F.col("_first"))):
        process_dedup_batch(ranked.where(cond).drop("_first"), i, state)
    flags_sql = oracles.streaming_dedup_sql(f"{state}/codes/*/*.parquet")
    assert sorted(con.sql(flags_sql).fetchall()) == _rows(
        read_dup_flags(spark, state)
    )
    canon_sql = oracles.streaming_canonical_sql(
        f"{state}/codes/*/*.parquet", f"{state}/dup_flags/*/*.parquet"
    )
    curated = _rows(curate_state(spark, state))
    assert len(curated) == len({c[0] for c in curated}) == 300
    assert sorted(con.sql(canon_sql).fetchall()) == curated
    assert curated == _rows(recrawl_run["canonical"])


def test_null_warc_ts_crawl_ranks_first_in_both_engines(spark, tmp_path):
    """A url with one NULL-warc_ts crawl and one dated crawl competes with
    its NULL crawl, which sorts first: it wins its cluster over a member
    whose only crawl is older than its dated one. The batch run, the
    stream and the stream's DuckDB twin agree, one row per url."""
    from iscc_specs_spark.streaming.ingest import PAGES_SCHEMA

    text = " ".join(f"word{i % 37} token{i % 11}" for i in range(200))
    html = f"<html><body><p>{text}</p></body></html>".encode()
    other = "unrelated page about something else entirely " * 20
    z, b, c = (f"https://{h}.example/p" for h in ("z", "b", "c"))
    day = datetime.datetime(2024, 1, 1)
    pages = spark.createDataFrame(
        [
            (z, None, html, text, "en"),
            (z, day + datetime.timedelta(days=150), html, text, "en"),
            (b, day, html, text, "en"),
            (c, day, f"<p>{other}</p>".encode(), other, "en"),
        ],
        PAGES_SCHEMA,
    )
    r = run_dedup(spark, pages, str(tmp_path / "batch"), DedupConfig())
    want = [(b, b, False), (c, c, True), (z, b, True)]
    assert _rows(r["canonical"]) == want

    state = str(tmp_path / "stream")
    process_dedup_batch(r["codes"], 0, state)
    assert _rows(curate_state(spark, state)) == want
    canon_sql = oracles.streaming_canonical_sql(
        f"{state}/codes/*/*.parquet", f"{state}/dup_flags/*/*.parquet"
    )
    assert sorted(duckdb.connect().sql(canon_sql).fetchall()) == want


def test_assign_clusters_one_row_per_url(spark):
    """assign_clusters keys its rows on distinct urls: a url listed once
    per crawl is one row, singletons included."""
    urls = spark.createDataFrame(
        [("a",), ("b",), ("b",), ("c",), ("c",), ("c",)], "url string"
    )
    pairs = spark.createDataFrame([("a", "b")], "url_a string, url_b string")
    assert _rows(assign_clusters(urls, pairs)) == [("a", "a"), ("b", "a"), ("c", "c")]
