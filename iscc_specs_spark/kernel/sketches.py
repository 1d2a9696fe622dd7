"""Similarity sketches: SimHash and fixed-permutation MinHash.

Parity targets: /root/reference/src/iscc/iscc.py:236-268 (similarity_hash,
minimum_hash); permutation pairs are spec data (const.py:70-327).  Both are
NumPy-vectorized — ``similarity_hash`` via unpackbits column sums,
``minimum_hash`` via a broadcast (features × 64 permutations) matrix.
Content-ID-Mixed uses ``similarity_hash``; otherwise both are the
references that tests/test_native.py pins the C text and data sketches
(``kernel.native``) to. ``lsb_bodies`` packs every MinHash into its 8-byte
code body, for the batch functions and the scalar codes alike.
"""

from __future__ import annotations

from typing import Iterable, Sequence

import numpy as np

from iscc_specs_spark.kernel.constants import MINHASH_PERMUTATIONS

_MERSENNE_61 = np.uint64((1 << 61) - 1)
_MAX32 = np.uint64((1 << 32) - 1)

# (64,) uint64 permutation coefficient vectors, of minhash_np and of the C
# MinHash in kernel.native
_PERM_A = np.array([a for a, _ in MINHASH_PERMUTATIONS[:64]], dtype=np.uint64)
_PERM_B = np.array([b for _, b in MINHASH_PERMUTATIONS[:64]], dtype=np.uint64)


def similarity_hash(digests: Sequence[bytes]) -> bytes:
    """SimHash (Charikar 2002): majority vote per bit position; ties → 1.

    All digests must share one width; output has the same width.
    """
    mat = np.frombuffer(b"".join(digests), dtype=np.uint8).reshape(
        len(digests), len(digests[0])
    )
    bits = np.unpackbits(mat, axis=1)
    counts = bits.sum(axis=0, dtype=np.int64)
    # bit set iff count >= n/2  ⇔  2*count >= n
    out_bits = (2 * counts >= len(digests)).astype(np.uint8)
    return np.packbits(out_bits).tobytes()


def minhash_np(features: np.ndarray, n: int = 64) -> np.ndarray:
    """MinHash signature of a (K,) uint64 feature array → (n,) uint64.

    Per permutation p: min over features of ((a_p*f + b_p) mod 2^64)
    mod (2^61-1), truncated to 32 bits.  uint64 multiply wraps natively,
    which is exactly the `& MAX_INT64` of the spec.

    The reference only: the C MinHash loops of ``kernel.native`` are
    pinned to it. One (K,n) allocation, every later op
    in place: NumPy's scalar-divisor ``np.mod`` is a single memory pass,
    where a shift/add Mersenne fold in NumPy takes several and measured
    2.8× slower (4-vCPU x86 VM, NumPy 1.26).
    """
    if features.size == 0:
        raise ValueError("minhash of empty feature set")
    f = features.astype(np.uint64, copy=False)
    old = np.seterr(over="ignore")
    try:
        h = f[:, None] * _PERM_A[None, :n]
        h += _PERM_B[None, :n]
        np.mod(h, _MERSENNE_61, out=h)
        h &= _MAX32
        return h.min(axis=0)
    finally:
        np.seterr(**old)


def minimum_hash(features: Iterable[int], n: int = 64) -> list[int]:
    """Reference-shaped wrapper (list in / list out) over :func:`minhash_np`."""
    arr = np.fromiter((int(x) for x in features), dtype=np.uint64)
    return [int(v) for v in minhash_np(arr, n=n)]


def lsb_bodies(minhash: np.ndarray) -> np.ndarray:
    """(R, 64) MinHash signatures → (R,) uint64 code bodies: the LSB of
    each of a row's 64 values, the first value the most-significant bit
    (spec §219-221)."""
    packed = np.packbits((minhash & np.uint64(1)).astype(np.uint8), axis=1)
    return packed.view(">u8").astype(np.uint64).reshape(-1)
