"""xxHash32 / xxHash64 implemented from the public xxHash specification.

The sandbox has no ``xxhash`` C module, so the kernel carries its own
implementation (seed is always 0 in ISCC).  Two forms:

* scalar ``xxh32(data)`` / ``xxh64(data)`` over ``bytes`` — reference path,
  used for odd-sized inputs (CDC chunks).
* ``xxh32_fixed(arr)`` / ``xxh64_fixed(arr)`` — NumPy-vectorized over a 2-D
  ``uint8`` array of N equal-length messages (the n-gram hot path: thousands
  of shingles per document hashed in one vectorized sweep).

Correctness is transitively pinned by the ISCC golden vectors (every Meta-ID
vector exercises xxh64, every Content-ID-Text / Data-ID vector exercises
xxh32) plus the spec's own known-answer tests in tests/test_kernel.py.
Algorithm reference: https://github.com/Cyan4973/xxHash/blob/dev/doc/xxhash_spec.md
"""

from __future__ import annotations

import numpy as np

_M32 = 0xFFFFFFFF
_M64 = 0xFFFFFFFFFFFFFFFF

P32_1, P32_2, P32_3, P32_4, P32_5 = (
    2654435761, 2246822519, 3266489917, 668265263, 374761393,
)
P64_1, P64_2, P64_3, P64_4, P64_5 = (
    11400714785074694791, 14029467366897019727, 1609587929392839161,
    9650029242287828579, 2870177450012600261,
)


def _rotl32(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


# ---------------------------------------------------------------------------
# scalar
# ---------------------------------------------------------------------------

def xxh32(data: bytes, seed: int = 0) -> int:
    n = len(data)
    i = 0
    if n >= 16:
        v1 = (seed + P32_1 + P32_2) & _M32
        v2 = (seed + P32_2) & _M32
        v3 = seed & _M32
        v4 = (seed - P32_1) & _M32
        while i + 16 <= n:
            l1 = int.from_bytes(data[i : i + 4], "little")
            l2 = int.from_bytes(data[i + 4 : i + 8], "little")
            l3 = int.from_bytes(data[i + 8 : i + 12], "little")
            l4 = int.from_bytes(data[i + 12 : i + 16], "little")
            v1 = (_rotl32((v1 + l1 * P32_2) & _M32, 13) * P32_1) & _M32
            v2 = (_rotl32((v2 + l2 * P32_2) & _M32, 13) * P32_1) & _M32
            v3 = (_rotl32((v3 + l3 * P32_2) & _M32, 13) * P32_1) & _M32
            v4 = (_rotl32((v4 + l4 * P32_2) & _M32, 13) * P32_1) & _M32
            i += 16
        acc = (_rotl32(v1, 1) + _rotl32(v2, 7) + _rotl32(v3, 12) + _rotl32(v4, 18)) & _M32
    else:
        acc = (seed + P32_5) & _M32

    acc = (acc + n) & _M32
    while i + 4 <= n:
        lane = int.from_bytes(data[i : i + 4], "little")
        acc = (_rotl32((acc + lane * P32_3) & _M32, 17) * P32_4) & _M32
        i += 4
    while i < n:
        acc = (_rotl32((acc + data[i] * P32_5) & _M32, 11) * P32_1) & _M32
        i += 1

    acc ^= acc >> 15
    acc = (acc * P32_2) & _M32
    acc ^= acc >> 13
    acc = (acc * P32_3) & _M32
    acc ^= acc >> 16
    return acc


def _round64(acc: int, lane: int) -> int:
    acc = (acc + lane * P64_2) & _M64
    acc = _rotl64(acc, 31)
    return (acc * P64_1) & _M64


def _merge_round64(acc: int, v: int) -> int:
    acc ^= _round64(0, v)
    return (acc * P64_1 + P64_4) & _M64


def xxh64(data: bytes, seed: int = 0) -> int:
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + P64_1 + P64_2) & _M64
        v2 = (seed + P64_2) & _M64
        v3 = seed & _M64
        v4 = (seed - P64_1) & _M64
        while i + 32 <= n:
            v1 = _round64(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _round64(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _round64(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _round64(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        acc = (_rotl64(v1, 1) + _rotl64(v2, 7) + _rotl64(v3, 12) + _rotl64(v4, 18)) & _M64
        acc = _merge_round64(acc, v1)
        acc = _merge_round64(acc, v2)
        acc = _merge_round64(acc, v3)
        acc = _merge_round64(acc, v4)
    else:
        acc = (seed + P64_5) & _M64

    acc = (acc + n) & _M64
    while i + 8 <= n:
        acc ^= _round64(0, int.from_bytes(data[i : i + 8], "little"))
        acc = (_rotl64(acc, 27) * P64_1 + P64_4) & _M64
        i += 8
    if i + 4 <= n:
        acc ^= (int.from_bytes(data[i : i + 4], "little") * P64_1) & _M64
        acc = (_rotl64(acc, 23) * P64_2 + P64_3) & _M64
        i += 4
    while i < n:
        acc ^= (data[i] * P64_5) & _M64
        acc = (_rotl64(acc, 11) * P64_1) & _M64
        i += 1

    acc ^= acc >> 33
    acc = (acc * P64_2) & _M64
    acc ^= acc >> 29
    acc = (acc * P64_3) & _M64
    acc ^= acc >> 32
    return acc


# ---------------------------------------------------------------------------
# NumPy-vectorized, N messages of equal byte-length L (2-D uint8 array)
# ---------------------------------------------------------------------------

_u32 = np.uint32
_u64 = np.uint64


def _vrotl32(x: np.ndarray, r: int) -> np.ndarray:
    return (x << _u32(r)) | (x >> _u32(32 - r))


def _vrotl64(x: np.ndarray, r: int) -> np.ndarray:
    return (x << _u64(r)) | (x >> _u64(64 - r))


def _lane32(arr: np.ndarray, off: int) -> np.ndarray:
    """Little-endian u32 at byte ``off`` of each row: a view of those 4
    bytes only (``astype`` of the whole matrix per lane was the cost)."""
    return arr[:, off : off + 4].view("<u4")[:, 0]


def _lane64(arr: np.ndarray, off: int) -> np.ndarray:
    return arr[:, off : off + 8].view("<u8")[:, 0]


def xxh32_fixed(arr: np.ndarray) -> np.ndarray:
    """xxh32 (seed 0) of each row of an (N, L) uint8 array → (N,) uint32."""
    n_rows, n = arr.shape
    i = 0
    old = np.seterr(over="ignore")
    try:
        if n >= 16:
            v1 = np.full(n_rows, (P32_1 + P32_2) & _M32, dtype=_u32)
            v2 = np.full(n_rows, P32_2, dtype=_u32)
            v3 = np.zeros(n_rows, dtype=_u32)
            v4 = np.full(n_rows, (-P32_1) & _M32, dtype=_u32)
            p1, p2 = _u32(P32_1), _u32(P32_2)
            while i + 16 <= n:
                v1 = _vrotl32(v1 + _lane32(arr, i) * p2, 13) * p1
                v2 = _vrotl32(v2 + _lane32(arr, i + 4) * p2, 13) * p1
                v3 = _vrotl32(v3 + _lane32(arr, i + 8) * p2, 13) * p1
                v4 = _vrotl32(v4 + _lane32(arr, i + 12) * p2, 13) * p1
                i += 16
            acc = _vrotl32(v1, 1) + _vrotl32(v2, 7) + _vrotl32(v3, 12) + _vrotl32(v4, 18)
        else:
            acc = np.full(n_rows, P32_5, dtype=_u32)

        acc = acc + _u32(n & _M32)
        p3, p4, p5, p1 = _u32(P32_3), _u32(P32_4), _u32(P32_5), _u32(P32_1)
        while i + 4 <= n:
            acc = _vrotl32(acc + _lane32(arr, i) * p3, 17) * p4
            i += 4
        while i < n:
            acc = _vrotl32(acc + arr[:, i].astype(_u32) * p5, 11) * p1
            i += 1

        acc = acc ^ (acc >> _u32(15))
        acc = acc * _u32(P32_2)
        acc = acc ^ (acc >> _u32(13))
        acc = acc * _u32(P32_3)
        acc = acc ^ (acc >> _u32(16))
        return acc
    finally:
        np.seterr(**old)


# lane offsets within a 16-byte xxh32 stripe, and the accumulators' seeds
_STRIPE_LANES = np.arange(0, 16, 4)
_V32_INIT = np.array([(P32_1 + P32_2) & _M32, P32_2, 0, (-P32_1) & _M32], dtype=_u32)


def xxh32_var(buf, offsets: np.ndarray, lengths: np.ndarray) -> np.ndarray:
    """xxh32 (seed 0) of M variable-length messages
    ``buf[offsets[m] : offsets[m] + lengths[m]]`` → (M,) uint32.

    Messages run longest first, so each 16-byte stripe step works on the
    prefix of rows that still have a stripe left: the number of steps is
    the longest message's stripe count, not one per message. The caller
    bounds the temporaries (~100 B per message) by the size of ``buf``."""
    data = np.frombuffer(buf, dtype=np.uint8)
    # the little-endian u32 at every byte offset, as a zero-copy view
    words = np.ndarray((max(data.size - 3, 0),), dtype="<u4", buffer=data, strides=(1,))
    lengths = np.asarray(lengths, dtype=np.int64)
    order = np.argsort(-lengths, kind="stable")
    ln = lengths[order]
    pos = np.asarray(offsets, dtype=np.int64)[order]
    stripes = ln >> 4
    acc = np.full(ln.size, P32_5, dtype=_u32)
    n_big = int(np.count_nonzero(stripes))
    if n_big:
        v = np.tile(_V32_INIT, (n_big, 1))
        p1, p2 = _u32(P32_1), _u32(P32_2)
        # rows with more than s stripes: a prefix, as stripes descend
        active = np.searchsorted(-stripes[:n_big], -np.arange(stripes[0]))
        for k in active:
            lanes = words[pos[:k, None] + _STRIPE_LANES]
            v[:k] = _vrotl32(v[:k] + lanes * p2, 13) * p1
            pos[:k] += 16
        acc[:n_big] = (
            _vrotl32(v[:, 0], 1) + _vrotl32(v[:, 1], 7)
            + _vrotl32(v[:, 2], 12) + _vrotl32(v[:, 3], 18)
        )
    acc += ln.astype(_u32)
    # tails: up to three 4-byte lanes, then up to three single bytes
    rem = ln & 15
    p3, p4, p5, p1 = _u32(P32_3), _u32(P32_4), _u32(P32_5), _u32(P32_1)
    for t in range(3):
        rows = np.flatnonzero(rem >= 4 * (t + 1))
        acc[rows] = _vrotl32(acc[rows] + words[pos[rows]] * p3, 17) * p4
        pos[rows] += 4
    for t in range(3):
        rows = np.flatnonzero((rem & 3) > t)
        acc[rows] = _vrotl32(acc[rows] + data[pos[rows]].astype(_u32) * p5, 11) * p1
        pos[rows] += 1

    acc ^= acc >> _u32(15)
    acc *= _u32(P32_2)
    acc ^= acc >> _u32(13)
    acc *= _u32(P32_3)
    acc ^= acc >> _u32(16)
    out = np.empty_like(acc)
    out[order] = acc
    return out


def _vround64(acc: np.ndarray, lane: np.ndarray) -> np.ndarray:
    return _vrotl64(acc + lane * _u64(P64_2), 31) * _u64(P64_1)


def xxh64_fixed(arr: np.ndarray) -> np.ndarray:
    """xxh64 (seed 0) of each row of an (N, L) uint8 array → (N,) uint64."""
    n_rows, n = arr.shape
    i = 0
    old = np.seterr(over="ignore")
    try:
        if n >= 32:
            v1 = np.full(n_rows, (P64_1 + P64_2) & _M64, dtype=_u64)
            v2 = np.full(n_rows, P64_2, dtype=_u64)
            v3 = np.zeros(n_rows, dtype=_u64)
            v4 = np.full(n_rows, (-P64_1) & _M64, dtype=_u64)
            while i + 32 <= n:
                v1 = _vround64(v1, _lane64(arr, i))
                v2 = _vround64(v2, _lane64(arr, i + 8))
                v3 = _vround64(v3, _lane64(arr, i + 16))
                v4 = _vround64(v4, _lane64(arr, i + 24))
                i += 32
            acc = _vrotl64(v1, 1) + _vrotl64(v2, 7) + _vrotl64(v3, 12) + _vrotl64(v4, 18)
            for v in (v1, v2, v3, v4):
                acc = acc ^ _vround64(np.zeros(n_rows, dtype=_u64), v)
                acc = acc * _u64(P64_1) + _u64(P64_4)
        else:
            acc = np.full(n_rows, P64_5, dtype=_u64)

        acc = acc + _u64(n)
        while i + 8 <= n:
            acc = acc ^ _vround64(np.zeros(n_rows, dtype=_u64), _lane64(arr, i))
            acc = _vrotl64(acc, 27) * _u64(P64_1) + _u64(P64_4)
            i += 8
        if i + 4 <= n:
            acc = acc ^ (_lane32(arr, i).astype(_u64) * _u64(P64_1))
            acc = _vrotl64(acc, 23) * _u64(P64_2) + _u64(P64_3)
            i += 4
        while i < n:
            acc = acc ^ (arr[:, i].astype(_u64) * _u64(P64_5))
            acc = _vrotl64(acc, 11) * _u64(P64_1)
            i += 1

        acc = acc ^ (acc >> _u64(33))
        acc = acc * _u64(P64_2)
        acc = acc ^ (acc >> _u64(29))
        acc = acc * _u64(P64_3)
        acc = acc ^ (acc >> _u64(32))
        return acc
    finally:
        np.seterr(**old)
