"""Batch (cross-document) vectorized code generation.

The pandas-UDF hot path: instead of per-document calls, each batch function
makes one C call (``kernel.native``) over all documents of an Arrow batch.
Text: ``text_sketch`` takes every normalised document as UTF-8 (from
``str.encode``, so valid UTF-8), copies it once, spaced, and hashes every
window of code points with xxh32 (MinHash) and xxh64 (SimHash votes) as it
goes. An empty, NULL or sub-window document is one window, as the spec's
``sliding_window`` gives it, so every row goes through that one call.
Content-IDs hash 13-grams with a space between code points, Meta-IDs
4-grams as they are. Data: ``data_sketch`` takes every blob by pointer and
cuts it into its CDC chunks, hashing each chunk with xxh32 and folding it
into the blob's MinHash as it is cut. Neither path builds a shingle,
chunk, feature or digest array, so neither needs a group budget.
The scalar ``codes`` functions call the same two sketches on a batch of
one; the golden vectors pin both, tests/test_batch.py pins the batch
functions to independent references, and tests/test_native.py and
tests/test_kernel.py pin the C loops to ``sketches.minhash_np``,
``sketches.similarity_hash``, ``cdc.data_chunks`` and the scalar
``xxhashes``.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np

from iscc_specs_spark.kernel.codec import encode
from iscc_specs_spark.kernel.codes import instance_id
from iscc_specs_spark.kernel.constants import (
    HEAD_CID_T,
    HEAD_DID,
    HEAD_MID,
    WINDOW_SIZE_CID_T,
    WINDOW_SIZE_MID,
)
from iscc_specs_spark.kernel.native import data_sketch, text_sketch
from iscc_specs_spark.kernel.sketches import lsb_bodies
from iscc_specs_spark.kernel.textnorm import text_normalize, text_trim


def content_text_batch(texts: Sequence[str | None]):
    """Content-ID-Text codes + sketches for a batch of documents.

    Returns dict of parallel arrays/lists:
      cid: list[str], cid_body: int64 (R,), simhash: int64 (R,),
      minhash: uint64 (R, 64), n_features: int32 (R,)
    """
    norms = [text_normalize(t if t is not None else "", keep_ws=False) for t in texts]
    mh, sim = text_sketch(norms, WINDOW_SIZE_CID_T, 2, True)
    bodies = lsb_bodies(mh)
    cps = np.fromiter(map(len, norms), dtype=np.int32, count=len(norms))
    return {
        "cid": [encode(HEAD_CID_T + int(b).to_bytes(8, "big")) for b in bodies],
        "cid_body": bodies.view(np.int64),
        "simhash": sim.view(np.int64),
        "minhash": mh,
        "n_features": np.maximum(cps - WINDOW_SIZE_CID_T + 1, 1),
    }


def meta_batch(titles: Sequence[str | None]):
    """Meta-ID codes for a batch of titles (no extra). Returns (mid
    list[str], mid_body int64 (R,), title_trimmed list[str])."""
    trimmed = [text_trim(text_normalize(t or "", keep_ws=True)) for t in titles]
    _, sims = text_sketch(trimmed, WINDOW_SIZE_MID, 1, False)
    mids = [encode(HEAD_MID + int(s).to_bytes(8, "big")) for s in sims]
    return mids, sims.view(np.int64), trimmed


def data_instance_batch(blobs: Sequence[bytes | None]):
    """Data-ID + Instance-ID for a batch of binary blobs: one C
    ``data_sketch`` call cuts, hashes and MinHashes every blob. A NULL or
    empty blob has no chunk: it gets the zero Data-ID body and
    ``n_chunks`` 0 (the scalar ``codes.data_id`` raises on it).

    Returns dict: did list[str], did_body int64, n_chunks int32,
    iid list[str], iid_body int64, tophash list[str].
    """
    data = [b if b is not None else b"" for b in blobs]
    mh, n_chunks = data_sketch(data)
    bodies = np.where(n_chunks > 0, lsb_bodies(mh), np.uint64(0))
    iids = [instance_id(b) for b in data]
    return {
        "did": [encode(HEAD_DID + int(b).to_bytes(8, "big")) for b in bodies],
        "did_body": bodies.view(np.int64),
        "n_chunks": n_chunks.astype(np.int32),
        "iid": [code for code, _ in iids],
        "iid_body": np.array([int(h[:16], 16) for _, h in iids], dtype=np.uint64).view(np.int64),
        "tophash": [h for _, h in iids],
    }
