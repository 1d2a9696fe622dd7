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
from iscc_specs_spark.kernel.native import data_sketch, text_sketch
from iscc_specs_spark.kernel.sketches import lsb_bodies, similarity_hash
from iscc_specs_spark.kernel.textnorm import text_normalize, text_trim


def sliding_window(seq, width: int):
    """Character/byte n-grams; always yields at least one window."""
    if width < 2:
        raise ValueError("width must be >= 2")
    return (seq[i : i + width] for i in range(max(len(seq) - width + 1, 1)))


# ---------------------------------------------------------------------------
# Meta-ID
# ---------------------------------------------------------------------------

def meta_id(title: str | bytes, extra: str | bytes = "") -> list[str]:
    title_t = text_trim(text_normalize(title, keep_ws=True))
    extra_t = text_trim(text_normalize(extra, keep_ws=True))
    concat = " ".join((title_t, extra_t)).strip()
    _, sim = text_sketch([concat], WINDOW_SIZE_MID, 1, False)
    code = encode(HEAD_MID + int(sim[0]).to_bytes(8, "big"))
    return [code, title_t, extra_t]


# ---------------------------------------------------------------------------
# Content-ID-Text
# ---------------------------------------------------------------------------

def content_id_text_full(text: str | bytes):
    """Returns (code, minhash_signature[64] uint64, simhash uint64 int,
    n_features) for one document."""
    norm = text_normalize(text, keep_ws=False)
    mh, sim = text_sketch([norm], WINDOW_SIZE_CID_T, 2, True)
    code = encode(HEAD_CID_T + int(lsb_bodies(mh)[0]).to_bytes(8, "big"))
    return code, mh[0], int(sim[0]), max(len(norm) - WINDOW_SIZE_CID_T + 1, 1)


def content_id_text(text: str | bytes, partial: bool = False) -> str:
    code = content_id_text_full(text)[0]
    return encode(HEAD_CID_T_PCF + decode(code)[1:]) if partial else code


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
    """Returns (code, minhash_signature[64] uint64, n_chunks): the C
    ``data_sketch`` on a batch of one. Empty data has no CDC chunk, so no
    MinHash: it raises ValueError (``batch.data_instance_batch`` gives
    such a row the zero body instead)."""
    if not data:
        raise ValueError("Data-ID of empty data: no chunk to MinHash")
    mh, n_chunks = data_sketch([bytes(data)])
    code = encode(HEAD_DID + int(lsb_bodies(mh)[0]).to_bytes(8, "big"))
    return code, mh[0], int(n_chunks[0])


def data_id(data: bytes) -> str:
    """The Data-ID of ``data``; raises ValueError on empty data."""
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
