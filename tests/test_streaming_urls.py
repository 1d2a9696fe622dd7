"""Streaming canonical-URL crawl dedup (streaming/ingest.py:
process_url_batch / start_url_dedup_stream): intra-batch keeper pick,
vs-history re-crawl flagging off the maintained url index (one
ingest_batch=<id> directory per batch), replay idempotence, replay-safe
probe pruning."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from iscc_specs_spark.operators.urls import canonical_url
from iscc_specs_spark.streaming import ingest as I


def _ts(s: int) -> datetime.datetime:
    return datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=s)


def _pages(spark, rows):
    return spark.createDataFrame(rows, "url string, warc_ts timestamp")


def test_url_batch_intra_then_history(spark, tmp_path):
    state = str(tmp_path / "state")
    b1 = [
        ("https://a.example/p", _ts(10)),
        ("https://www.a.example/p#x", _ts(30)),  # keeper: latest crawl
        ("https://b.example/q", _ts(5)),
    ]
    I.process_url_batch(_pages(spark, b1), 0, state)
    flags = {
        (f["url"], f["dup_of"], f["src"])
        for f in I.read_url_flags(spark, state).collect()
    }
    assert flags == {
        ("https://a.example/p", "https://www.a.example/p#x", "intra_batch"),
    }

    # batch 1: a third spelling of page a (re-crawl) + a brand-new page
    b2 = [
        ("HTTPS://A.EXAMPLE/p?utm_source=z", _ts(60)),
        ("https://c.example/r", _ts(61)),
    ]
    I.process_url_batch(_pages(spark, b2), 1, state)
    flags = {
        (f["url"], f["dup_of"], f["src"])
        for f in I.read_url_flags(spark, state).collect()
    }
    assert (
        "HTTPS://A.EXAMPLE/p?utm_source=z",
        "https://www.a.example/p#x",
        "vs_history",
    ) in flags
    assert sum(1 for f in flags if f[2] == "vs_history") == 1

    # the index holds one keeper per canonical url per batch
    idx = I.read_url_index(spark, state, batch_id=99)
    assert idx.where(F.col("ingest_batch") == 0).count() == 2
    assert idx.where(F.col("ingest_batch") == 1).count() == 2


def test_url_batch_replay_is_idempotent(spark, tmp_path):
    state = str(tmp_path / "state")
    I.process_url_batch(
        _pages(spark, [("https://a.example/p", _ts(1))]), 0, state
    )
    b2 = _pages(
        spark,
        [("https://a.example/p?utm_source=re", _ts(2)),
         ("https://d.example/x", _ts(3))],
    )
    I.process_url_batch(b2, 1, state)
    before = sorted(
        map(tuple, I.read_url_flags(spark, state).collect())
    )
    # replayed batch: must not match its own prior write (no self-flag),
    # must overwrite its own partitions byte-for-byte semantically
    I.process_url_batch(b2, 1, state)
    after = sorted(map(tuple, I.read_url_flags(spark, state).collect()))
    assert before == after
    assert sum(1 for f in after if f[3] == "vs_history") == 1


def test_url_index_probe_prunes_partitions(spark, tmp_path):
    """Replay-safe pruning, proven two ways: the probe plan carries
    ingest_batch as a PartitionFilter, and a poison index row planted in
    the probing batch's own ingest_batch directory (an earlier write of a
    replayed batch) is never read, while the genuine history row still
    flags."""
    state = str(tmp_path / "state")
    genuine = "https://a.example/p"
    I.process_url_batch(_pages(spark, [(genuine, _ts(10))]), 0, state)

    # poison: the only indexed keeper of canon(b), under ingest_batch=1 —
    # a probe that read it would flag batch 1's spelling of b as vs_history
    canon_b = spark.range(1).select(
        canonical_url(F.lit("https://b.example/q")).alias("c")
    ).first()["c"]
    spark.createDataFrame(
        [(canon_b, "https://0poison.example/q")],
        "canon_url string, url string",
    ).write.mode("append").parquet(f"{state}/urls/ingest_batch=1")

    df = I.read_url_index(spark, state, batch_id=1)
    plan = df._jdf.queryExecution().executedPlan().toString()
    pf = next(
        (ln for ln in plan.splitlines() if "PartitionFilters" in ln), ""
    )
    assert "ingest_batch" in pf, plan

    # behavior: re-crawl flags against the genuine keeper, never the poison
    I.process_url_batch(
        _pages(spark, [("https://www.a.example/p", _ts(20)),
                       ("https://www.b.example/q", _ts(21))]), 1, state
    )
    hits = {
        (f["url"], f["dup_of"])
        for f in I.read_url_flags(spark, state)
        .where("src = 'vs_history'").collect()
    }
    assert hits == {("https://www.a.example/p", genuine)}, hits


def test_unpartitioned_url_index_fails_loudly(spark, tmp_path):
    """process_url_batch is the url index's only writer and always writes
    one ingest_batch=<id> directory of parquet files per batch, with no
    layout record. An index in the older (ingest_batch, url_pfx) layout —
    under the ``_INDEX_META.json`` record its writer left, or without it
    — must raise BandIndexError naming the state dir from the on-disk
    layout check, before any Spark job runs and before any state is
    written, so url_flags and urls stay exactly as they were."""
    import json
    import os
    import re
    import shutil

    import pytest

    state = str(tmp_path / "state_bad_index")
    I.process_url_batch(
        _pages(spark, [("https://a.example/p", _ts(1)),
                       ("https://www.a.example/p", _ts(2))]), 0, state
    )
    I.process_url_batch(
        _pages(spark, [("https://b.example/q", _ts(3))]), 1, state
    )
    assert not os.path.exists(f"{state}/urls/_INDEX_META.json")

    def snap(*subs):
        out = {}
        for sub in subs:
            for root, _, files in os.walk(os.path.join(state, sub)):
                for f in files:
                    with open(os.path.join(root, f), "rb") as fh:
                        out[os.path.relpath(os.path.join(root, f), state)] = fh.read()
        return out

    saved = state + "__urls"
    shutil.move(f"{state}/urls", saved)
    (
        spark.read.parquet(saved)
        .withColumn(
            "url_pfx", F.pmod(F.xxhash64("canon_url"), F.lit(64)).cast("int")
        )
        .write.partitionBy("ingest_batch", "url_pfx")
        .parquet(f"{state}/urls")
    )
    sc = spark.sparkContext
    meta_path = f"{state}/urls/_INDEX_META.json"
    for record in ({"index_buckets": 64}, None):
        if record is None:
            os.remove(meta_path)
        else:
            with open(meta_path, "w") as f:
                json.dump(record, f)
        before = snap("url_flags", "urls")
        sc.setJobGroup("old_layout_url_index", "batch 2 over an old index")
        try:
            with pytest.raises(
                I.BandIndexError,
                match=re.escape(state + "/urls holds ingest_batch=") + ".*url_pfx=",
            ):
                I.process_url_batch(
                    _pages(spark, [("https://a.example/p?utm_source=z", _ts(4))]),
                    2, state,
                )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # the on-disk layout check raises before any Spark job
        assert not sc.statusTracker().getJobIdsForGroup("old_layout_url_index")
        assert snap("url_flags", "urls") == before


def test_url_stream_end_to_end(spark, tmp_path):
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    def drop(rows, part):
        spark.createDataFrame(
            [
                (u, t, bytearray(b""), "text body here", "en")
                for u, t in rows
            ],
            I.PAGES_SCHEMA,
        ).coalesce(1).write.mode("append").parquet(src)

    drop([("https://a.example/p", _ts(10)),
          ("https://b.example/q", _ts(11))], 0)
    q = I.start_url_dedup_stream(
        I.read_pages_stream(spark, src, max_files_per_trigger=1),
        state,
        ckpt,
    )
    q.awaitTermination()
    assert I.read_url_flags(spark, state).count() == 0

    # second drop: a re-crawl spelling of page a — restartable stream picks
    # it up as a new batch and flags it against the indexed keeper
    drop([("https://www.a.example/p?utm_source=x", _ts(20))], 1)
    q = I.start_url_dedup_stream(
        I.read_pages_stream(spark, src, max_files_per_trigger=1),
        state,
        ckpt,
    )
    q.awaitTermination()
    flags = I.read_url_flags(spark, state).collect()
    assert len(flags) == 1
    f = flags[0]
    assert f["url"] == "https://www.a.example/p?utm_source=x"
    assert f["dup_of"] == "https://a.example/p"
    assert f["src"] == "vs_history"


def test_identical_spelling_recrawl_no_self_flag(spark, tmp_path):
    """A later batch re-crawling the EXACT same url spelling must not flag
    the url against itself (url == dup_of): the documented pre-filter
    composition would otherwise drop the page from both sides and lose it
    entirely."""
    state = str(tmp_path / "state_selfflag")
    I.process_url_batch(
        _pages(spark, [("https://ex.com/a", _ts(0))]), 0, state
    )
    I.process_url_batch(
        _pages(spark, [("https://ex.com/a", _ts(60))]), 1, state
    )
    flags = I.read_url_flags(spark, state).collect()
    assert all(r["url"] != r["dup_of"] for r in flags), flags
    # a genuinely different spelling of the same canonical url IS flagged
    I.process_url_batch(
        _pages(spark, [("https://ex.com/a#frag", _ts(120))]), 2, state
    )
    flags = I.read_url_flags(spark, state).collect()
    assert [(r["url"], r["dup_of"]) for r in flags if r["src"] == "vs_history"] == [
        ("https://ex.com/a#frag", "https://ex.com/a")
    ]
