"""ISCC top-level code generators (Meta-ID, Content-ID-Text, Content-ID-Mixed,
Data-ID, Instance-ID) plus "full" variants that also return the similarity
sketches the Spark pipeline needs (64-value MinHash signature, 64-bit text
SimHash) which the reference computes and throws away.

Parity: /root/reference/src/iscc/iscc.py:19-164 (semantics, bit-for-bit via
golden vectors).  Image codes (content_id_image) live in kernel/images.py
and are conformance-complete (43/43 golden vectors, including file→code
through the from-scratch PNG/GIF/JPEG decoders in kernel/imagecodec.py and
kernel/jpegcodec.py — see SURVEY.md §7.4, closed in rounds 3-4).
"""

from __future__ import annotations

from hashlib import sha256

import numpy as np

from iscc_specs_spark.kernel.cdc import data_chunks
from iscc_specs_spark.kernel.codec import decode, encode
from iscc_specs_spark.kernel.constants import (
    HEAD_CID_M,
    HEAD_CID_M_PCF,
    HEAD_CID_T,
    HEAD_CID_T_PCF,
    HEAD_DID,
    HEAD_IID,
    HEAD_MID,
    WINDOW_SIZE_CID_T,
    WINDOW_SIZE_MID,
)
from iscc_specs_spark.kernel.native import xxh32_var, xxh64_var
from iscc_specs_spark.kernel.sketches import (
    lsb_digest,
    minhash_np,
    segment_bit_counts,
    similarity_hash,
)
from iscc_specs_spark.kernel.textnorm import text_normalize, text_trim
from iscc_specs_spark.kernel.xxhashes import xxh32


def sliding_window(seq, width: int):
    """Character/byte n-grams; always yields at least one window."""
    if width < 2:
        raise ValueError("width must be >= 2")
    return (seq[i : i + width] for i in range(max(len(seq) - width + 1, 1)))


def _hash_buffers(bufs: list[bytes], hash_var) -> np.ndarray:
    """``hash_var`` (``native.xxh32_var`` or ``xxh64_var``) of each byte
    string → (N,) uint64: one join, one C call."""
    lens = np.fromiter(map(len, bufs), dtype=np.int64, count=len(bufs))
    return hash_var(b"".join(bufs), np.cumsum(lens) - lens, lens)


def _joined_ngram_features(norm: str, width: int = WINDOW_SIZE_CID_T):
    """Space-joined character n-grams of normalized text, hashed with both
    xxh32 (MinHash features) and xxh64 (SimHash digests).

    The hashed string is ``" ".join(window)`` — a space between every
    character (reference iscc.py:57), so an ASCII 13-gram hashes as 25 bytes.
    Returns (feats32, digs64) as uint64 arrays.
    """
    bufs = [" ".join(w).encode("utf-8") for w in sliding_window(norm, width)]
    return _hash_buffers(bufs, xxh32_var), _hash_buffers(bufs, xxh64_var)


def _simhash_u64(digests: np.ndarray) -> int:
    """64-bit SimHash of a (N,) uint64 digest array (big-endian bit order,
    ties → 1), as an unsigned int."""
    counts = segment_bit_counts(digests, np.array([digests.size]))
    out = (2 * counts >= digests.size).astype(np.uint8)
    return int.from_bytes(np.packbits(out).tobytes(), "big")


# ---------------------------------------------------------------------------
# Meta-ID
# ---------------------------------------------------------------------------

def meta_id(title: str | bytes, extra: str | bytes = "") -> list[str]:
    title_t = text_trim(text_normalize(title, keep_ws=True))
    extra_t = text_trim(text_normalize(extra, keep_ws=True))
    concat = " ".join((title_t, extra_t)).strip()
    bufs = [g.encode("utf-8") for g in sliding_window(concat, WINDOW_SIZE_MID)]
    digs = _hash_buffers(bufs, xxh64_var)
    sim = _simhash_u64(digs)
    code = encode(HEAD_MID + sim.to_bytes(8, "big"))
    return [code, title_t, extra_t]


# ---------------------------------------------------------------------------
# Content-ID-Text
# ---------------------------------------------------------------------------

def content_id_text_full(text: str | bytes):
    """Returns (code, minhash_signature[64] uint64, simhash uint64 int,
    n_features) for one document."""
    norm = text_normalize(text, keep_ws=False)
    feats32, digs64 = _joined_ngram_features(norm)
    mh = minhash_np(feats32)
    code = encode(HEAD_CID_T + lsb_digest(mh))
    return code, mh, _simhash_u64(digs64), int(feats32.size)


def content_id_text(text: str | bytes, partial: bool = False) -> str:
    norm = text_normalize(text, keep_ws=False)
    feats32, _ = _joined_ngram_features(norm)
    mh = minhash_np(feats32)
    head = HEAD_CID_T_PCF if partial else HEAD_CID_T
    return encode(head + lsb_digest(mh))


# ---------------------------------------------------------------------------
# Content-ID-Mixed
# ---------------------------------------------------------------------------

def content_id_mixed(cids: list[str], partial: bool = False) -> str:
    # first 8 bytes of each decoded code, header byte included (iscc.py:102-105)
    truncated = [decode(code)[:8] for code in cids]
    sim = similarity_hash(truncated)
    head = HEAD_CID_M_PCF if partial else HEAD_CID_M
    return encode(head + sim)


# ---------------------------------------------------------------------------
# Data-ID
# ---------------------------------------------------------------------------

def data_id_full(data: bytes):
    """Returns (code, minhash_signature[64] uint64, n_chunks)."""
    feats = np.fromiter(
        (xxh32(chunk) for chunk in data_chunks(data)), dtype=np.uint64
    )
    mh = minhash_np(feats)
    return encode(HEAD_DID + lsb_digest(mh)), mh, int(feats.size)


def data_id(data: bytes) -> str:
    return data_id_full(data)[0]


# ---------------------------------------------------------------------------
# Instance-ID
# ---------------------------------------------------------------------------

def _sha256d(data: bytes) -> bytes:
    return sha256(sha256(data).digest()).digest()


def instance_id(data: bytes) -> list[str]:
    """Merkle tree over 64000-byte chunks (leaf prefix 0x00, inner 0x01,
    double-SHA256; odd node duplicated).  Returns [code, tophash_hex]."""
    level = [
        _sha256d(b"\x00" + data[i : i + 64000])
        for i in range(0, max(len(data), 1), 64000)
    ]
    while len(level) > 1:
        nxt = [
            _sha256d(b"\x01" + level[i] + level[i + 1])
            for i in range(0, len(level) - 1, 2)
        ]
        if len(level) % 2 == 1:
            nxt.append(_sha256d(b"\x01" + level[-1] + level[-1]))
        level = nxt
    top = level[0]
    code = encode(HEAD_IID + top[:8])
    return [code, top.hex()]
