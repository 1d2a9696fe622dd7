"""xxHash32 / xxHash64 implemented from the public xxHash specification.

The kernel depends on no ``xxhash`` package; it carries its own (seed is
always 0 in ISCC). These scalar ``xxh32(data)`` / ``xxh64(data)`` over
``bytes`` are the reference only: the kernel's codes hash in C, inside
the text and data sketches of ``kernel.native``, and tests/test_kernel.py
pins the C hashes to these through ``xxh32_var`` / ``xxh64_var`` (one
call over many messages of one buffer); tests/test_native.py and
tests/test_batch.py hash their reference windows and chunks here.

Correctness is transitively pinned by the ISCC golden vectors (every Meta-ID
vector exercises xxh64, every Content-ID-Text / Data-ID vector exercises
xxh32) plus the spec's own known-answer tests in tests/test_kernel.py.
Algorithm reference: https://github.com/Cyan4973/xxHash/blob/dev/doc/xxhash_spec.md
"""

from __future__ import annotations

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
