from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from iscc_specs_spark.session import get_spark

    s = get_spark("iscc-tests", cores=4, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def recrawl_pages(spark):
    """300 generated pages plus later crawls of some of their urls — the
    Common-Crawl shape, where one url recurs across snapshots: every url
    with crc32 % 5 == 0 again a day later with the same bytes, and every
    url with crc32 % 7 == 0 again two days later with edited text and
    html. 387 rows for 300 urls."""
    from pyspark.sql import functions as F

    from iscc_specs_spark.sources.pages import generate_pages

    pages = generate_pages(spark, 300, partitions=4)
    same = pages.where(F.crc32("url") % 5 == 0).withColumn(
        "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 DAY")
    )
    edited = pages.where(F.crc32("url") % 7 == 0).select(
        "url",
        (F.col("warc_ts") + F.expr("INTERVAL 2 DAYS")).alias("warc_ts"),
        F.concat("html", F.encode(F.lit("<p>edited</p>"), "utf-8")).alias("html"),
        F.concat("text", F.lit(" edited")).alias("text"),
        "lang",
    )
    return pages.unionByName(same).unionByName(edited).localCheckpoint(eager=True)
