"""Batch (cross-document vectorized) kernel == the spec's per-document
reference: the text rows against windows hashed by the scalar xxHash
(tests/test_native.py ``_sketch_ref``), the data rows against CDC chunks
hashed the same way (``_data_ref``) and the Instance-ID. The scalar codes
run the same C sketches on a batch of one, so they are no reference."""

from __future__ import annotations

import numpy as np
import pytest

from iscc_specs_spark import kernel
from iscc_specs_spark.kernel.constants import (
    GEAR1_MIN,
    GEAR2_MIN,
    HEAD_CID_T,
    HEAD_DID,
    HEAD_MID,
    WINDOW_SIZE_CID_T,
    WINDOW_SIZE_MID,
)
from iscc_specs_spark.kernel.batch import (
    content_text_batch,
    data_instance_batch,
    meta_batch,
)
from test_native import _data_ref, _sketch_ref

TEXTS = [
    "",
    "a",
    "short text",
    "The quick brown fox jumps over the lazy dog " * 10,
    "Iñtërnâtiônàlizætiøn☃💩 — mixed unicode with enough length to shingle " * 4,
    "exactly thirteen chars!",
    "Die Unendliche Geschichte von Michael Ende " * 50,
    None,
    "\t whitespace\n\n and\r punctuation!!! Everywhere... " * 8,
    "ASCII but sub-window",
]


def _body(signed: np.int64) -> bytes:
    """The 8 code body bytes an int64 column carries (two's complement)."""
    return int(np.uint64(signed.astype(np.uint64))).to_bytes(8, "big")


def _check_content(texts):
    out = content_text_batch(texts)
    for i, t in enumerate(texts):
        norm = kernel.text_normalize(t if t is not None else "", keep_ws=False)
        mh, sim = _sketch_ref(norm, WINDOW_SIZE_CID_T, 2)
        body = np.packbits((mh & np.uint64(1)).astype(np.uint8)).tobytes()
        assert out["cid"][i] == kernel.encode(HEAD_CID_T + body), f"row {i}"
        assert np.array_equal(out["minhash"][i], mh), f"row {i}"
        assert int(out["simhash"][i].astype(np.uint64)) == sim, f"row {i}"
        assert out["n_features"][i] == max(len(norm) - WINDOW_SIZE_CID_T + 1, 1)
        assert _body(out["cid_body"][i]) == body


def test_content_text_batch_matches_scalar():
    _check_content(TEXTS)


def test_content_text_batch_mixed_segments():
    """Short ASCII docs each side of a long one (750 words), with a
    one-window doc and a non-ASCII sub-window doc between them, all in one
    ``text_sketch`` call: every segment boundary must land on its own
    document, and the short docs after the long one, which sizes the
    shared spaced-copy buffer, must not hash its leftover bytes."""
    rng = np.random.default_rng(5)
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta"]

    def doc(n):
        return " ".join(rng.choice(words, n))

    long_doc = doc(750)
    assert len(long_doc) - WINDOW_SIZE_CID_T + 1 > 3000
    texts = [doc(3), doc(12), "x" * 13, doc(40), long_doc, doc(7), "ü" + doc(9), doc(25)]
    assert max(map(len, texts)) == len(long_doc)
    _check_content(texts)


def test_meta_batch_matches_scalar():
    titles = ["", "Die Unendliche Geschichte", "Iñtërnâtiônàlizætiøn☃", None,
              "a", "The Low End Theory " * 20] + TEXTS
    mids, bodies, trimmed = meta_batch(titles)
    for i, t in enumerate(titles):
        title = kernel.text_trim(kernel.text_normalize(t or "", keep_ws=True))
        body = _sketch_ref(title, WINDOW_SIZE_MID, 1)[1].to_bytes(8, "big")
        assert trimmed[i] == title
        assert mids[i] == kernel.encode(HEAD_MID + body), f"row {i}"
        assert _body(bodies[i]) == body


def test_data_instance_batch_matches_scalar():
    rng = np.random.default_rng(3)
    blobs = [
        b"tiny",
        bytes(rng.integers(0, 256, 5000, dtype=np.uint8)),
        bytes(rng.integers(0, 256, 70000, dtype=np.uint8)),
        None,
    ]
    _check_data(blobs)


def _groups(blobs, budget):
    """Consecutive rows of at most ``budget`` blob bytes (a longer blob
    alone); one group when ``budget`` is None."""
    if budget is None:
        return [blobs]
    groups, size = [[]], 0
    for b in blobs:
        n = len(b or b"")
        if groups[-1] and size + n > budget:
            groups.append([])
            size = 0
        groups[-1].append(b)
        size += n
    return groups


def _check_data(blobs, budget=None):
    """Each row == its reference, whether the rows go to
    ``data_instance_batch`` in one call or in groups (the Arrow batches a
    partition is cut into)."""
    outs = [data_instance_batch(g) for g in _groups(blobs, budget)]
    if budget is not None:
        assert len(outs) > 1
    out = {k: [v for o in outs for v in o[k]] for k in outs[0]}
    for i, b in enumerate(blobs):
        if b:
            mh, nc = _data_ref(b)
            body = np.packbits((mh & np.uint64(1)).astype(np.uint8)).tobytes()
        else:  # no chunk: the zero body
            body, nc = bytes(8), 0
        assert out["did"][i] == kernel.encode(HEAD_DID + body), f"row {i}"
        assert out["n_chunks"][i] == nc, f"row {i}"
        assert _body(out["did_body"][i]) == body, f"row {i}"
        code, hexhash = kernel.instance_id(b if b is not None else b"")
        assert out["iid"][i] == code
        assert out["tophash"][i] == hexhash
        assert _body(out["iid_body"][i]) == bytes.fromhex(hexhash[:16])


@pytest.mark.parametrize("budget", [None, 12_000])  # groups of <= 12000 blob bytes
def test_data_instance_batch_mixed_blobs(budget):
    """NULL, empty and sub-GEAR1_MIN blobs between chunked ones, and a blob
    over 64000 bytes (GEAR2 chunks, a 2-leaf Instance-ID tree), in one
    ``data_sketch`` call or, with a budget, in several calls that break
    between and around them."""
    rng = np.random.default_rng(9)

    def blob(n):
        return rng.integers(0, 256, n, dtype=np.uint8).tobytes()

    blobs = [blob(900), None, blob(7), b"", blob(70000), blob(2500), None, blob(1), b""]
    assert len(blobs[2]) < GEAR1_MIN and len(blobs[4]) > 64000
    assert max(map(len, kernel.data_chunks(blobs[4]))) > GEAR2_MIN
    _check_data(blobs, budget)


def test_empty_blob_contract():
    """An empty or NULL blob has no CDC chunk, so no MinHash: a batch row
    gets the zero Data-ID body and no chunks, the scalar Data-ID raises
    (a batch of one with no check would give the all-ones body)."""
    out = data_instance_batch([b"", None])
    assert out["did"] == [kernel.encode(HEAD_DID + bytes(8))] * 2
    assert out["did_body"].tolist() == [0, 0] and out["n_chunks"].tolist() == [0, 0]
    for fn in (kernel.data_id, kernel.data_id_full):
        with pytest.raises(ValueError):
            fn(b"")
