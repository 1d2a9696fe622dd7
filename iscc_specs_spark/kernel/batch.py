"""Batch (cross-document) vectorized code generation.

The pandas-UDF hot path: instead of per-document calls, each batch function
makes one C call (``kernel.native``) over all documents of an Arrow batch.
Text: ``text_sketch`` takes every normalised document as UTF-8 (from
``str.encode``, so valid UTF-8), copies it once, spaced, and hashes every
window of code points with xxh32 (MinHash) and xxh64 (SimHash votes) as it
goes. An empty, NULL or sub-window document is one window, as the spec's
``sliding_window`` gives it, so every row goes through that one call. No
shingle, feature or digest array is built, so the text path needs no group
budget. Content-IDs hash 13-grams with a space between code points,
Meta-IDs 4-grams as they are. Data: the CDC cut of every blob of a group in
one call, then xxh32 of all its chunks in one call and their MinHash in one
fused pass that never builds the (K, 64) permutation matrix.
The scalar ``codes`` functions call the same C text sketch on a batch of
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
from iscc_specs_spark.kernel.native import (
    cdc_lengths,
    minhash_segments,
    text_sketch,
    xxh32_var,
)
from iscc_specs_spark.kernel.textnorm import text_normalize, text_trim

# cap the temporaries of hashing one group of blobs' CDC chunks, L2-resident
# per worker (the kernel runs 32× concurrently per host, so DRAM bandwidth
# is the budget): the joined blobs plus ~40 B per chunk (lengths, offsets,
# hashes); web pages average ~85 B per chunk, so a group takes at most a
# quarter of the budget in blob bytes (one blob at least)
_CHUNK_BYTES_BUDGET = 1 << 20


def _budget_groups(rows: list[int], sizes: list[int], budget: int):
    """Consecutive runs of ``rows`` whose ``sizes`` sum to at most
    ``budget``; a row larger than the budget is a run of its own."""
    group: list[int] = []
    total = 0
    for i, k in zip(rows, sizes):
        if group and total + k > budget:
            yield group
            group, total = [], 0
        group.append(i)
        total += k
    if group:
        yield group


def _pack_u64_rows(bits: np.ndarray) -> np.ndarray:
    """(R, 64) 0/1 uint8, col 0 = MSB → (R,) uint64."""
    packed = np.packbits(bits, axis=1)  # (R, 8) big-endian bytes
    return packed.view(">u8").astype(np.uint64).reshape(-1)


def content_text_batch(texts: Sequence[str | None]):
    """Content-ID-Text codes + sketches for a batch of documents.

    Returns dict of parallel arrays/lists:
      cid: list[str], cid_body: int64 (R,), simhash: int64 (R,),
      minhash: uint64 (R, 64), n_features: int32 (R,)
    """
    norms = [text_normalize(t if t is not None else "", keep_ws=False) for t in texts]
    mh, sim = text_sketch(norms, WINDOW_SIZE_CID_T, 2, True)
    bodies = _pack_u64_rows((mh & np.uint64(1)).astype(np.uint8))
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
    """Data-ID + Instance-ID for a batch of binary blobs.

    The blobs of a group (bounded by ``_CHUNK_BYTES_BUDGET``) are joined
    once: one C call cuts every blob into its CDC chunks, one C
    ``xxh32_var`` call hashes all chunks, and one fused MinHash with the
    chunk counts as segment lengths gives every blob's Data-ID body.

    Returns dict: did list[str], did_body int64, n_chunks int32,
    iid list[str], iid_body int64, tophash list[str].
    """
    n_rows = len(blobs)
    data = [b if b is not None else b"" for b in blobs]
    did = [encode(HEAD_DID + b"\x00" * 8)] * n_rows  # defined fallback for empty
    did_body = np.zeros(n_rows, dtype=np.int64)
    n_chunks = np.zeros(n_rows, dtype=np.int32)
    iid: list[str | None] = [None] * n_rows
    iid_body = np.zeros(n_rows, dtype=np.int64)
    tophash: list[str | None] = [None] * n_rows

    full = [i for i in range(n_rows) if data[i]]
    sizes = [len(data[i]) for i in full]
    for group in _budget_groups(full, sizes, _CHUNK_BYTES_BUDGET // 4):
        joined = b"".join(data[i] for i in group)
        chunk_lens, counts = cdc_lengths(joined, [len(data[i]) for i in group])
        offsets = np.cumsum(chunk_lens) - chunk_lens
        mh = minhash_segments(xxh32_var(joined, offsets, chunk_lens), counts)
        bodies = _pack_u64_rows((mh & np.uint64(1)).astype(np.uint8))
        for g, i in enumerate(group):
            did[i] = encode(HEAD_DID + int(bodies[g]).to_bytes(8, "big"))
            did_body[i] = bodies[g].astype(np.int64)
            n_chunks[i] = counts[g]

    for i, b in enumerate(data):
        code, hexhash = instance_id(b)
        iid[i] = code
        iid_body[i] = np.uint64(int(hexhash[:16], 16)).astype(np.int64)
        tophash[i] = hexhash

    return {
        "did": did,
        "did_body": did_body,
        "n_chunks": n_chunks,
        "iid": iid,
        "iid_body": iid_body,
        "tophash": tophash,
    }
