"""The kernel's compiled loops: ``_native.c``, built at first import and
called through ``ctypes``. There are two sketches, each the one path of
its code: ``text_sketch`` (xxh32 MinHash and xxh64 SimHash of every window
of a batch of docs, in one pass from the normalised text) and
``data_sketch`` (xxh32 MinHash of every blob's CDC chunks, each folded in
as it is cut). The batch functions call each once per batch, and the
scalar Meta-ID, Content-ID-Text and Data-ID on a batch of one. Text goes
in as UTF-8 from ``str.encode``, so the C code takes it to be valid UTF-8;
blobs go in by pointer, uncopied. ``minhash_segments``, ``xxh32_var`` and
``xxh64_var`` have no caller in the package: they are the tests' windows
onto the MinHash fold and the two xxHashes, which take chosen 64-bit
features and messages of every length that no doc or blob could be made
to produce (tests/test_native.py, tests/test_kernel.py).

The source is read with ``pkgutil.get_data``, so it loads from a checkout
and from a ``--py-files`` zip alike. It is compiled with ``cc`` into
``<sha256(source + flags)>.so`` in this user's build dir,
``iscc_specs_spark-<uid>`` in ``tempfile.gettempdir()``. A process holds
an exclusive ``flock`` on the dir from its check for the file to its
load, so the workers of one host run one build and share it: the first
compiles to a temporary name and renames it into place, the others wait
and load it. A process that built the library then deletes the dir's
other ``.so`` and ``.tmp`` files, the builds of older sources and what a
killed build left. The name is predictable, so
the dir (mode 0o700) and the library are loaded only if this user owns
them and no one else can write them: another user's or a world-writable
library is rebuilt, an open dir is refused at import.

There is no fallback: without a C compiler on ``PATH`` (and no built
library) this module fails to import, and so does the ``kernel`` package
(``kernel.codes`` hashes through it) and everything that imports any of
its modules: ``operators.codegen``, ``oracles.py`` and
``scripts/check_oracles.py`` — the Spark driver needs the compiler as
well as the executors. The temp dir must allow exec (a ``noexec``
mount cannot map the library; point ``TMPDIR`` elsewhere).

SIMD by runtime dispatch, not ``-march``: the executors of one cluster may
have different CPUs, and a library built for the driver's may not run on
theirs. The two sketches are compiled as ``target_clones`` (AVX-512,
AVX2 and baseline bodies in one library), and the dynamic loader picks the
body for the CPU it runs on (``ISA`` names it), so one ``.so`` per
architecture is right on every host.
"""

from __future__ import annotations

import ctypes
import fcntl
import hashlib
import os
import pkgutil
import shutil
import stat
import subprocess
import tempfile
from typing import Sequence

import numpy as np

from iscc_specs_spark.kernel.constants import (
    CHUNKING_GEAR,
    GEAR1_MASK1,
    GEAR1_MASK2,
    GEAR1_MAX,
    GEAR1_MIN,
    GEAR1_NORM,
    GEAR2_MASK1,
    GEAR2_MASK2,
    GEAR2_MAX,
    GEAR2_MIN,
    GEAR2_NORM,
)
from iscc_specs_spark.kernel.sketches import _PERM_A, _PERM_B

_FLAGS = ("-O3", "-shared", "-fPIC")
_SRC = pkgutil.get_data(__name__.rpartition(".")[0], "_native.c")
_NAME = hashlib.sha256(_SRC + " ".join(_FLAGS).encode()).hexdigest() + ".so"


def _private(path: str, kind: int) -> bool:
    """``path`` is a ``kind`` (not a symlink) owned by this user that
    group and others cannot write."""
    st = os.lstat(path)
    return (
        stat.S_IFMT(st.st_mode) == kind
        and st.st_uid == os.getuid()
        and not st.st_mode & (stat.S_IWGRP | stat.S_IWOTH)
    )


def _build(cache: str) -> str:
    """Path of the compiled library in the build dir ``cache``, compiling
    it if the dir holds no trusted copy yet."""
    path = os.path.join(cache, _NAME)
    if os.path.lexists(path) and _private(path, stat.S_IFREG):
        return path
    cc = shutil.which("cc")
    if cc is None:
        raise ImportError(
            "iscc_specs_spark.kernel needs a C compiler to build _native.c: "
            "no `cc` on PATH"
        )
    fd, tmp = tempfile.mkstemp(prefix=f"{_NAME}.", suffix=".tmp", dir=cache)
    os.close(fd)
    try:
        proc = subprocess.run(
            [cc, *_FLAGS, "-x", "c", "-", "-o", tmp], input=_SRC, capture_output=True
        )
        if proc.returncode != 0:
            raise ImportError(
                f"`{cc}` failed to build _native.c:\n{proc.stderr.decode(errors='replace')}"
            )
        os.chmod(tmp, 0o700)  # the linker's mode follows the umask
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)
    _prune(cache)
    return path


def _prune(cache: str) -> None:
    """Delete this user's libraries of other sources and leftover
    temporary files from the build dir, keeping ``_NAME``."""
    for entry in os.scandir(cache):
        if (
            entry.name != _NAME
            and entry.name.endswith((".so", ".tmp"))
            and entry.stat(follow_symlinks=False).st_uid == os.getuid()
        ):
            try:
                os.unlink(entry.path)
            except FileNotFoundError:
                pass  # pruned by a process that takes no lock: an older build


def _load() -> ctypes.CDLL:
    """Build and load the library, holding an exclusive ``flock`` on the
    build dir from the check to the load: concurrent imports on one host
    run one build, and no build's prune can delete a library between
    another process's build and its load."""
    cache = os.path.join(tempfile.gettempdir(), f"iscc_specs_spark-{os.getuid()}")
    try:
        os.mkdir(cache, 0o700)
    except FileExistsError:
        pass
    if not _private(cache, stat.S_IFDIR):
        raise ImportError(
            f"refusing the kernel's build dir {cache}: it must be a directory "
            "owned by this user that group and others cannot write"
        )
    fd = os.open(cache, os.O_RDONLY | os.O_DIRECTORY)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)  # released when fd is closed
        path = _build(cache)
        try:
            return ctypes.CDLL(path)
        except OSError as e:
            raise ImportError(
                f"cannot load the kernel library {path}: {e} (a temp dir mounted "
                "noexec cannot map it; set TMPDIR to a dir that allows exec)"
            ) from e
    finally:
        os.close(fd)


_u8 = np.ctypeslib.ndpointer(np.uint8, flags="C_CONTIGUOUS")
_u64 = np.ctypeslib.ndpointer(np.uint64, flags="C_CONTIGUOUS")
_i64 = np.ctypeslib.ndpointer(np.int64, flags="C_CONTIGUOUS")


def _bind(lib: ctypes.CDLL) -> ctypes.CDLL:
    """Declare the C signatures on a loaded build of ``_native.c``."""
    lib.isa.argtypes = ()
    lib.isa.restype = ctypes.c_char_p
    lib.text_sketch.argtypes = (
        ctypes.c_char_p, _i64, ctypes.c_int64, ctypes.c_int64, ctypes.c_int64, _u8, _i64,
        _u64, ctypes.c_void_p, ctypes.c_void_p, ctypes.c_void_p,  # NULL: no MinHash
    )
    lib.text_sketch.restype = None
    lib.data_sketch.argtypes = (
        ctypes.POINTER(ctypes.c_char_p), _i64, ctypes.c_int64, _u64, _u64, _u64, _u64, _u64,
        _i64,
    )
    lib.data_sketch.restype = None
    lib.minhash_segments.argtypes = (_u64, _i64, ctypes.c_int64, _u64, _u64, _u64)
    lib.minhash_segments.restype = None
    for fn in (lib.xxh32_var, lib.xxh64_var):
        fn.argtypes = (_u8, _i64, _i64, ctypes.c_int64, _u64)
        fn.restype = None
    return lib


_LIB = _bind(_load())
# the body of the two sketches this CPU runs: "x86-64-v4" (AVX-512),
# "x86-64-v3" (AVX2), "default", or "no clones" where the compiler or
# platform has no ifunc multi-versioning
ISA = _LIB.isa().decode()

_GEAR = np.array(CHUNKING_GEAR, dtype=np.uint64)
_CDC_PARAMS = np.array(
    (GEAR1_NORM, GEAR1_MIN, GEAR1_MAX, GEAR1_MASK1, GEAR1_MASK2,
     GEAR2_NORM, GEAR2_MIN, GEAR2_MAX, GEAR2_MASK1, GEAR2_MASK2),
    dtype=np.uint64,
)


def text_sketch(docs: Sequence[str], width: int, step: int, minhash: bool):
    """SimHash, and MinHash if ``minhash``, of the ``width``-code-point
    windows of each doc, ``step - 1`` spaces put between a window's code
    points before its UTF-8 is hashed → (minhash (R, 64) uint64 or None,
    simhash (R,) uint64). A doc shorter than ``width`` (the empty doc
    included) is one window, as ``codes.sliding_window`` gives it. Row r's
    MinHash equals ``sketches.minhash_np`` of the xxh32 of doc r's windows,
    its SimHash ``sketches.similarity_hash`` of their xxh64; Content-ID
    hashes 13-grams at step 2 (``" ".join``), Meta-ID 4-grams at step 1."""
    if width < 1 or step < 1:
        raise ValueError("width and step must be positive")
    bufs = [d.encode("utf-8") for d in docs]  # a lone surrogate raises here
    lens = np.fromiter(map(len, bufs), dtype=np.int64, count=len(bufs))
    # len(d) is the number of code points the C code counts in d's UTF-8
    cps = np.fromiter(map(len, docs), dtype=np.int64, count=len(bufs))
    spaced = np.empty(int((lens + (step - 1) * cps).max(initial=0)), dtype=np.uint8)
    starts = np.empty(int(cps.max(initial=0)) + 1, dtype=np.int64)
    simhash = np.empty(lens.size, dtype=np.uint64)
    if minhash:
        mh = np.empty((lens.size, 64), dtype=np.uint64)
        perms = (_PERM_A.ctypes.data, _PERM_B.ctypes.data, mh.ctypes.data)
    else:
        mh, perms = None, (None, None, None)
    _LIB.text_sketch(b"".join(bufs), lens, lens.size, width, step, spaced, starts, simhash, *perms)
    return mh, simhash


def data_sketch(blobs: Sequence[bytes]):
    """MinHash of the CDC chunks of each blob → (minhash (R, 64) uint64,
    n_chunks (R,) int64). Row r's MinHash equals ``sketches.minhash_np``
    of the ``xxhashes.xxh32`` of each chunk of ``cdc.data_chunks(blob_r)``,
    its count the number of those chunks. The empty blob has no chunk:
    count 0 and every value ``2**32 - 1``, which is no MinHash. The blobs
    go to C by pointer, uncopied, so each must be ``bytes``."""
    lens = np.fromiter(map(len, blobs), dtype=np.int64, count=len(blobs))
    ptrs = (ctypes.c_char_p * lens.size)(*blobs)  # a non-bytes blob raises here
    mh = np.empty((lens.size, 64), dtype=np.uint64)
    n_chunks = np.empty(lens.size, dtype=np.int64)
    _LIB.data_sketch(ptrs, lens, lens.size, _GEAR, _CDC_PARAMS, _PERM_A, _PERM_B, mh, n_chunks)
    return mh, n_chunks


def minhash_segments(features: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """MinHash of each segment of a (K,) uint64 feature array cut into
    consecutive segments of ``lens`` rows → (R, 64) uint64; row r equals
    ``sketches.minhash_np`` of segment r. Every segment needs a row. No
    caller in the package: the tests feed it chosen features."""
    feats = np.ascontiguousarray(features, dtype=np.uint64)
    lens = np.ascontiguousarray(lens, dtype=np.int64)
    if lens.size and (lens.min() < 1 or lens.sum() != feats.size):
        raise ValueError("segment lengths must be positive and sum to the feature count")
    out = np.empty((lens.size, 64), dtype=np.uint64)
    _LIB.minhash_segments(feats, lens, lens.size, _PERM_A, _PERM_B, out)
    return out


def _hash_messages(fn, buf, offsets, lengths) -> np.ndarray:
    data = np.frombuffer(buf, dtype=np.uint8)
    offsets = np.ascontiguousarray(offsets, dtype=np.int64)
    lengths = np.ascontiguousarray(lengths, dtype=np.int64)
    if offsets.shape != lengths.shape or offsets.ndim != 1:
        raise ValueError("offsets and lengths must be 1-D arrays of one size")
    if offsets.size and (
        offsets.min() < 0 or lengths.min() < 0 or np.any(lengths > data.size - offsets)
    ):
        raise ValueError("every message must lie inside the buffer")
    out = np.empty(offsets.size, dtype=np.uint64)
    fn(data, offsets, lengths, offsets.size, out)
    return out


def xxh32_var(buf, offsets, lengths) -> np.ndarray:
    """xxh32 (seed 0) of each message ``buf[offsets[m] : offsets[m] +
    lengths[m]]`` of a bytes-like ``buf`` → (M,) uint64; equals
    ``xxhashes.xxh32`` of each. No caller in the package: the tests feed
    it messages of every length."""
    return _hash_messages(_LIB.xxh32_var, buf, offsets, lengths)


def xxh64_var(buf, offsets, lengths) -> np.ndarray:
    """xxh64 (seed 0) of each message of ``buf``, as :func:`xxh32_var`."""
    return _hash_messages(_LIB.xxh64_var, buf, offsets, lengths)
