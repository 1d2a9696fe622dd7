"""Kernel unit tests — truth tables and robustness bounds lifted from the
reference's own test suite (/root/reference/tests/test_iscc.py), plus
known-answer tests for our from-spec xxHash implementation.
"""

from __future__ import annotations

import random
from pathlib import Path

import numpy as np
import pytest

from iscc_specs_spark import kernel
from iscc_specs_spark.kernel.native import xxh32_var, xxh64_var
from iscc_specs_spark.kernel.xxhashes import xxh32, xxh64

FIXTURES = Path(__file__).parent / "fixtures"


# --- xxHash known answers (public xxHash spec test vectors) -----------------

def test_xxh32_known_answers():
    assert xxh32(b"") == 0x02CC5D05
    assert xxh32(b"a") == 0x550D7456
    assert xxh32(b"abc") == 0x32D153FF
    # >=16 bytes exercises the 4-accumulator path
    assert xxh32(b"0123456789abcdef" * 4) == xxh32(b"0123456789abcdef" * 4)


def test_xxh64_known_answers():
    assert xxh64(b"") == 0xEF46DB3751D8E999
    assert xxh64(b"a") == 0xD24EC4F1A98C6E5B
    assert xxh64(b"abc") == 0x44BC2CF5AD770999


def _check_var(buf: bytes, offsets, lens) -> None:
    """Both C widths == the scalar reference on every message."""
    for var, ref in ((xxh32_var, xxh32), (xxh64_var, xxh64)):
        got = var(buf, offsets, lens)
        assert got.dtype == np.uint64 and got.shape == (len(lens),)
        want = [ref(buf[o : o + n]) for o, n in zip(offsets, lens)]
        assert [int(x) for x in got] == want, ref.__name__


# every length up to 80 crosses each lane (4/8 B) and stripe (16/32 B) edge
@pytest.mark.parametrize("length", [*range(81), 100])
def test_vectorized_matches_scalar(length):
    """23 messages of one length at odd offsets of one buffer."""
    rng = np.random.default_rng(7)
    offsets = np.arange(23, dtype=np.int64) * (length + 2) + 1
    buf = rng.integers(0, 256, 23 * (length + 2) + 1, dtype=np.uint8).tobytes()
    _check_var(buf, offsets, np.full(23, length, dtype=np.int64))


def test_xxh32_var_matches_scalar():
    """Variable-length messages at arbitrary offsets of one buffer, in both
    widths: every tail shape around the 4-, 8-, 16- and 32-byte boundaries,
    empty messages, GEAR2-sized chunks, a message over 1 MB and a buffer
    over 2 MB."""
    rng = np.random.default_rng(11)
    lens = np.concatenate([
        rng.integers(0, 301, 300),
        [0, 3, 4, 7, 8, 15, 16, 17, 31, 32, 33, 63, 64, 65, 0],
        [2049, 4096, 6143, 65536],
        [(1 << 20) - 70000, (1 << 20) + 7],
    ]).astype(np.int64)
    rng.shuffle(lens)
    gaps = rng.integers(0, 5, lens.size)  # messages need not be contiguous
    offsets = np.cumsum(lens + gaps) - lens
    buf = rng.integers(0, 256, int(offsets[-1] + lens[-1] + 3), dtype=np.uint8).tobytes()
    assert len(buf) > 2 << 20
    _check_var(buf, offsets, lens)
    # overlapping messages, and the last one ending at the buffer's end
    _check_var(buf, [0, 1, 2, len(buf) - 40], [70, 69, 0, 40])
    for var in (xxh32_var, xxh64_var):
        assert var(b"", np.zeros(0, np.int64), np.zeros(0, np.int64)).size == 0
        assert var(b"abc", [], []).dtype == np.uint64


@pytest.mark.parametrize("var", [xxh32_var, xxh64_var])
@pytest.mark.parametrize(
    "offsets, lens",
    [([0, 60], [4, 5]), ([64], [1]), ([-1], [2]), ([3], [-1]), ([1 << 62], [1 << 62]),
     ([0], [65]), ([0, 1], [1])],
)
def test_xxh_var_rejects_messages_outside_buffer(var, offsets, lens):
    with pytest.raises(ValueError):
        var(bytes(64), np.array(offsets), np.array(lens))


# --- encode/decode roundtrip (ref test_iscc.py:83-92) ------------------------

def test_encode_decode_roundtrip():
    digest = bytes.fromhex("f98f1f98a8f98f1f98a8")[:9]
    assert len(digest) == 9
    code = kernel.encode(digest)
    assert len(code) == 13
    assert kernel.decode(code) == digest
    for raw in (b"\x00" * 9, b"\xff" * 9, bytes(range(9))):
        assert kernel.decode(kernel.encode(raw)) == raw


# --- similarity_hash truth table (ref test_iscc.py:146-168) ------------------

def test_similarity_hash_pairs():
    all_zero = b"\x00" * 8
    all_ones = b"\xff" * 8
    assert kernel.similarity_hash([all_zero, all_zero]) == all_zero
    assert kernel.similarity_hash([all_ones, all_ones]) == all_ones
    # ties -> 1
    assert kernel.similarity_hash([all_zero, all_ones]) == all_ones
    a = bytes.fromhex("aaaaaaaaaaaaaaaa")
    c = bytes.fromhex("5555555555555555")
    assert kernel.similarity_hash([a, c]) == all_ones


# --- sliding_window edges (ref test_iscc.py:138-143) -------------------------

def test_sliding_window():
    from iscc_specs_spark.kernel.codes import sliding_window

    assert list(sliding_window("", 4)) == [""]
    assert list(sliding_window("A", 4)) == ["A"]
    assert list(sliding_window("Hello", 4)) == ["Hell", "ello"]
    words = ("lorem", "ipsum", "dolor", "sit", "amet")
    assert list(sliding_window(words, 2))[0] == ("lorem", "ipsum")


# --- text_trim multi-byte boundaries (ref test_iscc.py:121-135) --------------

def test_text_trim_multibyte():
    multibyte_2 = "ü" * 128
    trimmed = kernel.text_trim(multibyte_2)
    assert len(trimmed) == 64
    assert len(trimmed.encode("utf-8")) == 128
    multibyte_3 = "驩" * 128
    trimmed = kernel.text_trim(multibyte_3)
    assert len(trimmed) == 42
    assert len(trimmed.encode("utf-8")) == 126
    mixed = "Iñtërnâtiônàlizætiøn☃💩" * 6
    trimmed = kernel.text_trim(mixed)
    assert len(trimmed) == 85
    assert len(trimmed.encode("utf-8")) == 128


# --- CDC chunk stats on lenna.jpg (ref test_iscc.py:249-258) -----------------

def test_data_chunks_lenna():
    data = (FIXTURES / "file_image_lenna.jpg").read_bytes()
    chunks = list(kernel.data_chunks(data))
    assert len(chunks) == 112
    assert len(chunks[0]) == 38
    assert len(chunks[-1]) == 2840


# --- robustness envelope (ref test_iscc.py:103-105, 176-200, 218-231) --------

TEXT_A = """
    Their most significant and usefull property of similarity-preserving
    fingerprints gets lost in the fragmentation of individual, propietary and
    use case specific implementations. The real benefit lies in similarity
    preservation beyond your local data archive on a global scale accross
    vendors.
"""
TEXT_B = TEXT_A.replace("Their most", "The most")


def test_content_id_text_edit_distance():
    a = kernel.content_id_text(TEXT_A)
    b = kernel.content_id_text(TEXT_B)
    assert kernel.distance(a, b) == 2


def test_meta_id_robustness():
    mid1 = kernel.meta_id("Die Unendliche Geschichte", "von Michael Ende")[0]
    # one character change
    mid2 = kernel.meta_id("Die UnXndliche Geschichte", "von Michael Ende")[0]
    assert kernel.distance(mid1, mid2) <= 10
    # word order change
    mid3 = kernel.meta_id("Unendliche Geschichte, Die", "von Michael Ende")[0]
    assert kernel.distance(mid1, mid3) <= 13
    # unrelated
    mid4 = kernel.meta_id("Now for something different")[0]
    assert kernel.distance(mid1, mid4) >= 24


def test_data_id_noise_robustness():
    random.seed(1)
    data = bytearray([random.getrandbits(8) for _ in range(1000000)])
    did_a = kernel.data_id(bytes(data))
    for _ in range(100):
        pos = random.randint(0, len(data) - 1)
        data.insert(pos, random.getrandbits(8))
    did_b = kernel.data_id(bytes(data))
    assert kernel.distance(did_a, did_b) <= 24  # reference observes 17


def test_instance_id_basics():
    zero_bytes_even = b"\x00" * 16
    iid, h = kernel.instance_id(zero_bytes_even)
    assert iid.startswith("CR")
    assert len(h) == 64
    # chunk boundary: > 64000 bytes builds a 2-leaf merkle tree
    big = b"\xff" * 64001
    iid2, h2 = kernel.instance_id(big)
    assert iid2 != iid
