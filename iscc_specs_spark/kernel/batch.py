"""Batch (cross-document) vectorized code generation.

The pandas-UDF hot path: instead of per-document calls, each batch function
makes one C call (``kernel.native``) over all documents of an Arrow batch
that take its fast path. Text: ``text_sketch`` copies each normalised
ASCII document once, spaced, and hashes every shingle with xxh32 (MinHash)
and xxh64 (SimHash votes) as it goes; no shingle, feature or digest array
is built, so the text path needs no group budget.
Content-IDs hash 13-grams with a space between characters, Meta-IDs
4-grams as they are. Data: the CDC cut of every blob of a group in one
call, then xxh32 of all its chunks in one call and their MinHash in one
fused pass that never builds the (K, 64) permutation matrix.
Non-ASCII or sub-window documents fall back to the per-document kernel path
(identical results — the fast path is pinned to the scalar path by
tests/test_batch.py property checks and transitively by the golden vectors;
the C loops to ``sketches.minhash_np``, ``codes._simhash_u64``,
``cdc.data_chunks`` and the scalar ``xxhashes`` by tests/test_native.py
and tests/test_kernel.py).
"""

from __future__ import annotations

from typing import Sequence

import numpy as np

from iscc_specs_spark.kernel.codec import encode
from iscc_specs_spark.kernel.codes import (
    content_id_text_full,
    instance_id,
    meta_id,
    sliding_window,
    _simhash_u64,
    _hash_buffers,
)
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
    xxh64_var,
)
from iscc_specs_spark.kernel.sketches import lsb_digest
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
    n_rows = len(texts)
    cid: list[str | None] = [None] * n_rows
    cid_body = np.zeros(n_rows, dtype=np.int64)
    simhash = np.zeros(n_rows, dtype=np.int64)
    minhash = np.zeros((n_rows, 64), dtype=np.uint64)
    n_features = np.zeros(n_rows, dtype=np.int32)

    norms = [text_normalize(t if t is not None else "", keep_ws=False) for t in texts]

    fast: list[int] = []
    for i, s in enumerate(norms):
        if s.isascii() and len(s) >= WINDOW_SIZE_CID_T:
            fast.append(i)
        else:
            code, mh, sim, nf = content_id_text_full(s if s else "")
            cid[i] = code
            cid_body[i] = np.frombuffer(lsb_digest(mh), dtype=">i8")[0]
            simhash[i] = np.uint64(sim).astype(np.int64)
            minhash[i] = mh
            n_features[i] = nf

    if fast:
        mh, sim = text_sketch([norms[i] for i in fast], WINDOW_SIZE_CID_T, 2, True)
        bodies = _pack_u64_rows((mh & np.uint64(1)).astype(np.uint8))
        minhash[fast] = mh
        simhash[fast] = sim.view(np.int64)
        cid_body[fast] = bodies.view(np.int64)
        for g, i in enumerate(fast):
            n_features[i] = len(norms[i]) - WINDOW_SIZE_CID_T + 1
            cid[i] = encode(HEAD_CID_T + int(bodies[g]).to_bytes(8, "big"))

    return {
        "cid": cid,
        "cid_body": cid_body,
        "simhash": simhash,
        "minhash": minhash,
        "n_features": n_features,
    }


def meta_batch(titles: Sequence[str | None]):
    """Meta-ID codes for a batch of titles (no extra). Returns (mid
    list[str], mid_body int64 (R,), title_trimmed list[str])."""
    n_rows = len(titles)
    mids: list[str | None] = [None] * n_rows
    mid_body = np.zeros(n_rows, dtype=np.int64)
    trimmed = [text_trim(text_normalize(t or "", keep_ws=True)) for t in titles]

    width = WINDOW_SIZE_MID
    fast = [i for i, c in enumerate(trimmed) if c.isascii() and len(c) >= width]
    fast_set = set(fast)
    slow = [i for i in range(n_rows) if i not in fast_set]

    if fast:
        _, sims = text_sketch([trimmed[i] for i in fast], width, 1, False)
        mid_body[fast] = sims.view(np.int64)
        for g, i in enumerate(fast):
            mids[i] = encode(HEAD_MID + int(sims[g]).to_bytes(8, "big"))

    for i in slow:
        bufs = [g.encode("utf-8") for g in sliding_window(trimmed[i], width)]
        digs = _hash_buffers(bufs, xxh64_var)
        sim = _simhash_u64(digs)
        mid_body[i] = np.uint64(sim).astype(np.int64)
        mids[i] = encode(HEAD_MID + sim.to_bytes(8, "big"))

    return mids, mid_body, trimmed


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
