"""Codec at rest: every table the engine keeps — each run_dedup stage and
each streaming state table — is zstd parquet (sources/storage.py
PARQUET_CODEC), read from the parquet footers; and a state dir whose
history was written with snappy (Spark's default codec) still takes new
batches and curates to the same result."""

from __future__ import annotations

import datetime
import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from iscc_specs_spark.operators.codegen import compute_codes
from iscc_specs_spark.plans.dedup import DedupConfig, run_dedup
from iscc_specs_spark.sources.pages import generate_pages
from iscc_specs_spark.sources.storage import parquet_files
from iscc_specs_spark.streaming import ingest as I

STATE_TABLES = ("codes", "dup_flags", "urls", "url_flags")
STAGES = ("codes", "bands", "dup_pairs", "clusters", "canonical")


def _codecs(path: str) -> set[str]:
    """The codecs of every column chunk of every parquet file under
    ``path``, from the footers."""
    out = set()
    for fp in parquet_files(path):
        md = pq.read_metadata(fp)
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            out |= {rg.column(c).compression for c in range(rg.num_columns)}
    return out


def _ts(s: int) -> datetime.datetime:
    return datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=s)


def _url_batches(spark):
    b0 = [
        ("https://a.example/p", _ts(10)),
        ("https://www.a.example/p#x", _ts(30)),
        ("https://b.example/q", _ts(5)),
    ]
    b1 = [
        ("HTTPS://A.EXAMPLE/p?utm_source=z", _ts(60)),
        ("https://c.example/r", _ts(61)),
    ]
    return [spark.createDataFrame(b, "url string, warc_ts timestamp") for b in (b0, b1)]


def _code_batches(spark):
    codes = compute_codes(generate_pages(spark, 60, partitions=2)).localCheckpoint(eager=True)
    return [
        codes.where(F.crc32("url") % 2 == k).localCheckpoint(eager=True)
        for k in (0, 1)
    ]


def _ingest(spark, state, code_batches):
    for i, b in enumerate(code_batches):
        I.process_dedup_batch(b, i, state)


def test_every_table_at_rest_is_zstd(spark, tmp_path):
    """run_dedup's stages, and the codes history, dup flags, url index
    and url flags after two batches of each stream: every column
    chunk of every file is ZSTD, and every table holds rows."""
    out = str(tmp_path / "out")
    state = str(tmp_path / "state")
    run_dedup(spark, generate_pages(spark, 60, partitions=2), out, DedupConfig())
    _ingest(spark, state, _code_batches(spark))
    for i, b in enumerate(_url_batches(spark)):
        I.process_url_batch(b, i, state)
    dirs = [os.path.join(out, s) for s in STAGES]
    dirs += [os.path.join(state, t) for t in STATE_TABLES]
    assert {d: _codecs(d) for d in dirs} == {d: {"ZSTD"} for d in dirs}


def test_snappy_history_takes_zstd_batches(spark, tmp_path, monkeypatch):
    """A history batch planted as snappy parquet (the codec of state dirs
    written before zstd), then batch 1 and curate_state: flags and curated
    rows equal those of the all-zstd run, and the dir holds both codecs."""
    batches = _code_batches(spark)
    zstd = str(tmp_path / "zstd")
    _ingest(spark, zstd, batches)

    mixed = str(tmp_path / "mixed")
    monkeypatch.setattr(I, "PARQUET_CODEC", "snappy")
    I.process_dedup_batch(batches[0], 0, mixed)
    monkeypatch.undo()
    assert _codecs(os.path.join(mixed, "codes")) == {"SNAPPY"}
    I.process_dedup_batch(batches[1], 1, mixed)
    assert _codecs(os.path.join(mixed, "codes", "ingest_batch=1")) == {"ZSTD"}

    def flags(state):
        return sorted(map(tuple, I.read_dup_flags(spark, state).collect()))

    def curated(state):
        return sorted(map(tuple, I.curate_state(spark, state).collect()))

    assert any(f[2] == "vs_history" for f in flags(zstd))
    assert flags(mixed) == flags(zstd)
    got = curated(mixed)
    assert len(got) == 60
    assert got == curated(zstd)
