"""Codegen stage: pages → codes table via one Arrow-batched mapInPandas pass.

Spark-first design notes (100 TB posture):
  * a single ``mapInPandas`` pass computes all four codes (Meta, Content,
    Data, Instance) per Arrow batch — one JVM↔Python Arrow crossing, no
    per-row Python UDFs (BASELINE.json input_hint).
  * only ``url, warc_ts, text, html`` are selected, so Catalyst prunes the
    parquet scan to them (check ReadSchema in .explain()).
  * inside the batch, each code family makes one C call over every
    document (kernel.batch: ``text_sketch`` for the Content- and Meta-IDs,
    ``data_sketch`` for the Data-ID), and the 8-byte code bodies are
    emitted as LONG columns so downstream Hamming verification stays native
    (``bit_count(a ^ b)``, whole-stage codegen, no Python).

Reference parity: codes equal /root/reference/src/iscc/iscc.py:19-164
bit-for-bit (golden vectors + T1 distributed==local test).
"""

from __future__ import annotations

import re
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from iscc_specs_spark.kernel.batch import (
    content_text_batch,
    data_instance_batch,
    meta_batch,
)

_TITLE_RE = re.compile(rb"<title[^>]*>(.*?)</title>", re.S | re.I)
# same pattern for the vectorized pandas .str.extract path (str input)
_TITLE_PAT = "(?is)<title[^>]*>(.*?)</title>"

CODES_SCHEMA = (
    "url string, warc_ts timestamp, "
    "meta_id string, mid_body long, title string, "
    "content_id string, cid_body long, simhash long, "
    "minhash array<long>, n_features int, "
    "data_id string, did_body long, n_chunks int, "
    "instance_id string, iid_body long, tophash string, "
    "n_bytes int"
)


def _extract_title(html: bytes | None) -> str:
    if not html:
        return ""
    m = _TITLE_RE.search(html)
    if not m:
        return ""
    return m.group(1).decode("utf-8", "replace")


def compute_codes(pages: DataFrame) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) → codes table
    (:data:`CODES_SCHEMA`): Meta-ID (from the html title), Content-ID-Text
    + SimHash + MinHash signature (from text), Data-ID + Instance-ID (from
    the html bytes)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            htmls = pdf["html"].tolist()
            # vectorized pandas .str.extract across the Arrow batch
            # (one compiled-regex pass, no per-row Python loop)
            titles = (
                pdf["html"]
                .str.decode("utf-8", "replace")
                .str.extract(_TITLE_PAT, expand=False)
                .fillna("")
                .tolist()
            )
            mids, mid_body, trimmed = meta_batch(titles)
            tb = content_text_batch(pdf["text"].tolist())
            db = data_instance_batch(htmls)
            yield pd.DataFrame({
                "url": pdf["url"],
                "warc_ts": pdf["warc_ts"],
                "meta_id": mids,
                "mid_body": mid_body,
                "title": trimmed,
                "content_id": tb["cid"],
                "cid_body": tb["cid_body"],
                "simhash": tb["simhash"],
                # one int64 row view per doc: Arrow takes each as a list
                # without a Python int per value
                "minhash": list(tb["minhash"].astype(np.int64)),
                "n_features": tb["n_features"],
                "data_id": db["did"],
                "did_body": db["did_body"],
                "n_chunks": db["n_chunks"],
                "instance_id": db["iid"],
                "iid_body": db["iid_body"],
                "tophash": db["tophash"],
                "n_bytes": [len(h) if h is not None else 0 for h in htmls],
            })

    return pages.select("url", "warc_ts", "text", "html").mapInPandas(
        gen, schema=CODES_SCHEMA
    )
