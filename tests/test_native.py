"""The kernel's C loops (``kernel.native``) == their NumPy/Python reference
(``codes.sliding_window`` windows and ``cdc.data_chunks`` chunks hashed
by the scalar ``xxhashes`` into ``sketches.minhash_np`` and
``sketches.similarity_hash``; the xxHash loops are pinned to the scalar
``xxhashes`` in tests/test_kernel.py), in the loaded library and in a
build of each per-CPU clone body on its own; the library builds from a
``--py-files`` zip, once per host and source. No Spark."""

from __future__ import annotations

import ctypes
import functools
import importlib.util
import json
import os
import pathlib
import platform
import shlex
import shutil
import subprocess
import sys

import numpy as np
import pytest

from iscc_specs_spark.kernel import native
from iscc_specs_spark.kernel.batch import content_text_batch
from iscc_specs_spark.kernel.cdc import data_chunks
from iscc_specs_spark.kernel.codes import sliding_window
from iscc_specs_spark.kernel.constants import GEAR1_MAX, GEAR1_MIN, GEAR2_MAX
from iscc_specs_spark.kernel.sketches import _PERM_A, _PERM_B, minhash_np, similarity_hash
from iscc_specs_spark.kernel.xxhashes import xxh32, xxh64

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXTURES = os.path.join(REPO, "tests", "fixtures")
M61 = (1 << 61) - 1
U64 = 1 << 64


def _check_minhash(feats: np.ndarray, lens) -> None:
    lens = np.asarray(lens, dtype=np.int64)
    got = native.minhash_segments(feats, lens)
    assert got.shape == (lens.size, 64) and got.dtype == np.uint64
    a = 0
    for r, k in enumerate(lens):
        assert np.array_equal(got[r], minhash_np(feats[a : a + k])), f"segment {r}"
        a += k


@pytest.mark.parametrize("k", [800, 8000])
def test_minhash_random_features(k):
    rng = np.random.default_rng(k)
    feats = rng.integers(0, U64, k, dtype=np.uint64)
    cuts = np.sort(rng.choice(np.arange(1, k), 9, replace=False))
    _check_minhash(feats, np.diff(np.concatenate(([0], cuts, [k]))))
    _check_minhash(feats, [k])


def test_minhash_fold_edges():
    """Features at the ends of the range, and for every permutation the
    features whose hash x*a + b lands on each edge of the Mersenne fold
    (every a is odd, so x = (h - b) / a mod 2^64 exists for any h)."""
    ends = [0, 1, 2, M61 - 1, M61, M61 + 1, 1 << 61, 1 << 63, U64 - 2, U64 - 1]
    targets = [0, M61 - 1, M61, M61 + 1, 2 * M61 - 1, 2 * M61, 1 << 62,
               (7 << 61) + M61 - 1, (7 << 61) + M61, U64 - 1]
    hit = [
        (h - int(b)) * pow(int(a), -1, U64) % U64
        for a, b in zip(_PERM_A, _PERM_B)
        for h in targets
    ]
    feats = np.array(ends + hit, dtype=np.uint64)
    _check_minhash(feats, np.ones(feats.size, dtype=np.int64))  # one row each
    _check_minhash(feats, [feats.size])
    _check_minhash(feats, [len(ends), len(hit)])


def test_minhash_single_feature():
    _check_minhash(np.array([12345], dtype=np.uint64), [1])
    _check_minhash(np.array([U64 - 1], dtype=np.uint64), [1])


def test_minhash_rejects_bad_segments():
    feats = np.arange(5, dtype=np.uint64)
    for lens in ([5, 0], [2, 2], [3, 3]):
        with pytest.raises(ValueError):
            native.minhash_segments(feats, np.array(lens))


def _sketch_ref(doc: str, width: int, step: int):
    """MinHash and SimHash of one doc's spaced windows of code points, from
    the spec's windows, the scalar xxHash and the reference folds."""
    sep = " " * (step - 1)
    wins = [sep.join(w).encode() for w in sliding_window(doc, width)]
    feats = np.array([xxh32(w) for w in wins], dtype=np.uint64)
    sim = similarity_hash([xxh64(w).to_bytes(8, "big") for w in wins])
    return minhash_np(feats), int.from_bytes(sim, "big")


@functools.cache
def _text_cases():
    """(docs, width, step, reference rows) of one ``text_sketch`` call each."""
    rng = np.random.default_rng(18)
    letters = list("abcdefghij klmnop")
    # 2-, 3- and 4-byte UTF-8, and combining marks (a code point each)
    wide = list("ab ßø©€日本語😀𝄞") + ["\u0301", "\u0308"]

    def rand_doc(n, alphabet=letters):
        return "".join(rng.choice(alphabet, n))

    def ascii_bytes(n):  # every ASCII code but NUL
        return "".join(map(chr, rng.integers(1, 128, n)))

    calls = []
    for width in (13, 4):
        for step in (1, 2):
            calls.append(([rand_doc(n) for n in range(width, width + 71)], width, step))
            calls.append(([rand_doc(width) for _ in range(5)], width, step))  # one window
            calls.append(([c * n for c in "a ~" for n in (width, width + 1, 200)], width, step))
            calls.append(([ascii_bytes(n) for n in (width, 50, 900)], width, step))
            calls.append(([rand_doc(n, wide) for n in range(width, width + 40)], width, step))
            calls.append(([c * n for c in "ß€😀" for n in (width - 1, width, 200)], width, step))
            # 0 to width - 1 code points: one window of the whole doc
            calls.append(([rand_doc(n) for n in range(width)]
                          + [rand_doc(n, wide) for n in range(width)], width, step))
            # the doc with the most bytes has fewer code points than another
            # doc, which needs the most room in the spaced copy (300 ASCII)
            # or only the most starts (150 ASCII)
            for n in (150, 300):
                calls.append((["😀" * 100, "a" * n, rand_doc(20, wide)], width, step))
    titles = [rand_doc(int(n)) for n in rng.integers(4, 80, 500)]
    calls.append((titles, 4, 1))  # a meta_batch of titles
    calls.append(([rand_doc(30), rand_doc(12_500 + 13), rand_doc(20)], 13, 2))
    return [
        (docs, width, step, [_sketch_ref(d, width, step) for d in docs])
        for docs, width, step in calls
    ]


class _ScratchCheck:
    """A loaded library whose ``text_sketch`` first checks that the
    caller's scratch arrays hold what the C loop writes for these docs:
    per doc, its bytes plus ``step - 1`` spaces between code points in
    ``spaced`` and one offset per code point plus one in ``starts``. C
    cannot check its own bounds, and a short buffer need not crash."""

    def __init__(self, lib):
        self.lib = lib

    def __getattr__(self, name):
        return getattr(self.lib, name)

    def text_sketch(self, text, lens, n_docs, width, step, spaced, starts, *rest):
        ends = np.cumsum(lens)
        docs = [text[e - n : e].decode() for e, n in zip(ends.tolist(), lens.tolist())]
        need = max((len(d.encode()) + (step - 1) * (len(d) - 1) for d in docs if d), default=0)
        assert spaced.size >= need, "spaced copy too small"
        assert starts.size >= max(map(len, docs), default=0) + 1, "starts too small"
        return self.lib.text_sketch(text, lens, n_docs, width, step, spaced, starts, *rest)


def test_text_sketch_matches_reference(monkeypatch):
    monkeypatch.setattr(native, "_LIB", _ScratchCheck(native._LIB))
    assert max(len(d) for docs, *_ in _text_cases() for d in docs) - 13 + 1 > 12_000
    for docs, width, step, want in _text_cases():
        mh, sim = native.text_sketch(docs, width, step, True)
        no_mh, sim_only = native.text_sketch(docs, width, step, False)
        assert mh.shape == (len(docs), 64) and mh.dtype == np.uint64
        assert sim.shape == (len(docs),) and sim.dtype == np.uint64
        assert no_mh is None and np.array_equal(sim_only, sim)
        for r, (want_mh, want_sim) in enumerate(want):
            case = f"width {width} step {step} doc {r} ({len(docs[r])} code points)"
            assert np.array_equal(mh[r], want_mh), case
            assert int(sim[r]) == want_sim, case


def test_text_sketch_empty_batch():
    mh, sim = native.text_sketch([], 13, 2, True)
    assert mh.shape == (0, 64) and sim.shape == (0,)
    assert native.text_sketch([], 4, 1, False)[1].shape == (0,)


@pytest.mark.parametrize("width, step", [(0, 2), (13, 0), (-1, -1)])
def test_text_sketch_rejects_bad_width_or_step(width, step, monkeypatch):
    """A window or step below one is refused before any C call."""
    monkeypatch.setattr(native, "_LIB", None)
    with pytest.raises(ValueError):
        native.text_sketch(["long enough ascii"], width, step, True)


# the CPU flags each clone body needs, as /proc/cpuinfo names them
_V3 = {"avx", "avx2", "bmi1", "bmi2", "f16c", "fma", "abm", "movbe", "xsave"}
_LEVELS = {
    "x86-64-v3": _V3,
    "x86-64-v4": _V3 | {"avx512f", "avx512bw", "avx512cd", "avx512dq", "avx512vl"},
}


def _cpu_flags() -> set[str]:
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("flags"):
                    return set(line.split(":", 1)[1].split())
    except OSError:
        pass
    return set()


@pytest.mark.parametrize("level", ["default", "x86-64-v3", "x86-64-v4"])
def test_each_clone_body_matches_reference(level, tmp_path, monkeypatch):
    """Build each body of the two sketches on its own (-DISCC_NO_CLONES,
    with the clone's -march) and check it, not only the one this CPU
    dispatches to."""
    march = []
    if level != "default":
        if platform.machine() != "x86_64" or not _LEVELS[level] <= _cpu_flags():
            pytest.skip(f"this CPU cannot run {level} code")
        march = [f"-march={level}"]
    so = tmp_path / "native.so"
    proc = subprocess.run(
        ["cc", *native._FLAGS, "-DISCC_NO_CLONES", *march, "-x", "c", "-", "-o", str(so)],
        input=native._SRC, capture_output=True,
    )
    assert proc.returncode == 0, proc.stderr.decode()
    lib = native._bind(ctypes.CDLL(str(so)))
    assert lib.isa() == b"no clones"
    monkeypatch.setattr(native, "_LIB", lib)
    test_minhash_fold_edges()
    test_minhash_random_features(800)
    test_text_sketch_matches_reference(monkeypatch)
    test_cdc_lengths_per_blob()
    test_cdc_lengths_joined_blobs()


def _blobs():
    rng = np.random.default_rng(16)
    sizes = [1, GEAR1_MIN, GEAR1_MIN + 1, GEAR1_MAX, GEAR1_MAX + 1, 5000]
    blobs = [rng.bytes(n) for n in sizes]
    blobs += [bytes(5000), bytes(200_000)]  # all zeros: max-size cuts
    blobs += [rng.bytes(int(n)) for n in rng.integers(1, 200_001, 6)]
    return blobs


def _data_ref(blob: bytes):
    """MinHash and count of one blob's CDC chunks, from the reference
    chunker, the scalar xxh32 and the reference fold."""
    feats = np.array([xxh32(c) for c in data_chunks(blob)], dtype=np.uint64)
    return minhash_np(feats), feats.size


def _joined_blobs():
    """``_blobs`` and the edge blobs: the empty blob, one byte, one
    sub-GEAR1_MIN run of zeros, and long blobs whose chunks run past 100
    into GEAR2 and its 64 KB refills."""
    long = np.random.default_rng(20).bytes(20_000)
    head = sum(len(c) for _, c in zip(range(100), data_chunks(long)))
    # the last two: 100 GEAR1 chunks, then one more byte cut by GEAR2
    return _blobs() + [b"", b"\x00", bytes(64), long, long[:head], long[: head + 1]]


def _check_data_row(mh_row, count, blob: bytes) -> None:
    if blob:
        want_mh, want_count = _data_ref(blob)
        assert count == want_count and np.array_equal(mh_row, want_mh), len(blob)
    else:  # no chunk: the mins stay 2**32 - 1
        assert count == 0 and (mh_row == 0xFFFFFFFF).all()


def test_cdc_lengths_per_blob():
    """Each blob in its own ``data_sketch`` call: the count and MinHash of
    its CDC chunks == those of the reference chunker's chunks."""
    for b in _joined_blobs():
        mh, counts = native.data_sketch([b])
        assert mh.shape == (1, 64) and mh.dtype == np.uint64
        assert counts.dtype == np.int64 and counts.shape == (1,)
        _check_data_row(mh[0], counts[0], b)


def test_cdc_lengths_joined_blobs():
    """All blobs in one ``data_sketch`` call, as data_instance_batch makes
    it: each row == its reference, so no cut or hash crosses a blob."""
    blobs = _joined_blobs()
    chunks = [[len(c) for c in data_chunks(b)] for b in blobs]
    assert [len(c) for c in chunks[-2:]] == [100, 101] and chunks[-1][-1] == 1
    assert GEAR2_MAX in chunks[blobs.index(bytes(200_000))]
    mh, counts = native.data_sketch(blobs)
    assert mh.shape == (len(blobs), 64) and mh.dtype == np.uint64
    assert counts.dtype == np.int64 and counts.tolist() == list(map(len, chunks))
    for r, b in enumerate(blobs):
        _check_data_row(mh[r], counts[r], b)


def test_data_sketch_empty_batch_and_non_bytes():
    mh, counts = native.data_sketch([])
    assert mh.shape == (0, 64) and counts.shape == (0,)
    for blob in (bytearray(b"abc"), "abc"):  # the C reads bytes objects only
        with pytest.raises(TypeError):
            native.data_sketch([b"ok", blob])


def _make_zip(tmp_path, monkeypatch) -> str:
    """Build the --py-files zip of this checkout into tmp_path."""
    spec = importlib.util.spec_from_file_location(
        "make_pyfiles", os.path.join(REPO, "scripts", "make_pyfiles.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    out = str(tmp_path / "iscc_specs_spark.zip")
    monkeypatch.setattr(mod, "OUT", out)
    mod.main()
    return out


def _run(path_entry: str, code: str, env_path: str, tmpdir: pathlib.Path):
    """Run ``code`` in a fresh interpreter that imports the package from
    ``path_entry`` only (the zip or the checkout), with the given PATH and
    temp dir."""
    env = {"PATH": env_path, "TMPDIR": str(tmpdir)}
    prelude = f"import sys; sys.path.insert(0, {path_entry!r})\n"
    return subprocess.run(
        [sys.executable, "-I", "-c", prelude + code],
        env=env, cwd=str(tmpdir), capture_output=True, text=True, timeout=120,
    )


def _cache(tmpdir: pathlib.Path) -> pathlib.Path:
    """The build dir ``kernel.native`` uses under ``tmpdir``."""
    return tmpdir / f"iscc_specs_spark-{os.getuid()}"


def test_zip_builds_and_codes_match_golden(tmp_path, monkeypatch):
    zip_path = _make_zip(tmp_path, monkeypatch)
    tmpdir = tmp_path / "tmp"
    tmpdir.mkdir()
    with open(os.path.join(FIXTURES, "test_data.json")) as f:
        vectors = json.load(f)
    text, _ = vectors["content_id_text"]["test_003_long"]["inputs"]
    want_cid = vectors["content_id_text"]["test_003_long"]["outputs"]
    title, extra = vectors["meta_id"]["test_009_long_i18n"]["inputs"]
    want_mid = vectors["meta_id"]["test_009_long_i18n"]["outputs"][0]
    files = {
        os.path.join(FIXTURES, v["inputs"][0]): v["outputs"]
        for k, v in vectors["data_id"].items() if k != "required"
    }
    code = f"""
import iscc_specs_spark
import iscc_specs_spark.kernel
from iscc_specs_spark.kernel.batch import content_text_batch, data_instance_batch
assert iscc_specs_spark.__file__.startswith({zip_path!r}), iscc_specs_spark.__file__
print(content_text_batch([{text!r}])["cid"][0])
blobs = [open(p, "rb").read() for p in {list(files)!r}]
print(" ".join(data_instance_batch(blobs)["did"]))
print(iscc_specs_spark.kernel.meta_id({title!r}, {extra!r})[0])
"""
    proc = _run(zip_path, code, os.environ.get("PATH", ""), tmpdir)
    assert proc.returncode == 0, proc.stderr
    cid, dids, mid = proc.stdout.split("\n")[:3]
    assert cid == want_cid
    assert dids.split() == list(files.values())
    assert mid == want_mid  # the scalar path's xxh64 runs in C too
    # the library was built from the zip's source into this user's private
    # build dir under the empty temp dir
    cache = _cache(tmpdir)
    assert list(tmpdir.iterdir()) == [cache]
    assert cache.stat().st_mode & 0o777 == 0o700
    assert [p.name for p in cache.iterdir()] == [native._NAME]


def test_zip_without_compiler_fails_at_import(tmp_path, monkeypatch):
    zip_path = _make_zip(tmp_path, monkeypatch)
    tmpdir = tmp_path / "tmp"
    tmpdir.mkdir()
    empty_bin = tmp_path / "bin"
    empty_bin.mkdir()
    for module in ("iscc_specs_spark.kernel", "iscc_specs_spark.kernel.batch"):
        proc = _run(zip_path, f"import {module}", str(empty_bin), tmpdir)
        assert proc.returncode != 0
        assert "ImportError" in proc.stderr and "C compiler" in proc.stderr, proc.stderr
        assert list(_cache(tmpdir).iterdir()) == []


_HELLO = """
from iscc_specs_spark.kernel.batch import content_text_batch
print(content_text_batch(["hello world"])["cid"][0])
"""


@pytest.mark.parametrize("planted", ["world-writable", "foreign"])
def test_planted_library_is_rebuilt_not_loaded(tmp_path, planted):
    """A file another user could have put at the library's predictable
    name is never loaded: the import rebuilds it and runs the real code."""
    if planted == "foreign" and os.getuid() != 0:
        pytest.skip("planting a file owned by another user needs root")
    tmpdir = tmp_path / "tmp"
    cache = _cache(tmpdir)
    cache.mkdir(parents=True, mode=0o700)
    lib = cache / native._NAME
    lib.write_bytes(b"not a library")  # loading it would fail
    if planted == "world-writable":
        lib.chmod(0o666)
    else:
        os.chown(lib, 65534, 65534)
    proc = _run(REPO, _HELLO, os.environ.get("PATH", ""), tmpdir)
    assert proc.returncode == 0, proc.stderr
    assert proc.stdout.strip() == content_text_batch(["hello world"])["cid"][0]
    st = lib.stat()
    assert lib.read_bytes()[:4] == b"\x7fELF"
    assert st.st_uid == os.getuid() and not st.st_mode & 0o022


def test_build_prunes_stale_files(tmp_path):
    """A build deletes the dir's libraries of other sources and leftover
    temporary files, and keeps its own."""
    tmpdir = tmp_path / "tmp"
    cache = _cache(tmpdir)
    cache.mkdir(parents=True, mode=0o700)
    for name in ("0" * 64 + ".so", "1" * 64 + ".so.x1y2z3.tmp"):
        (cache / name).write_bytes(b"stale")
        (cache / name).chmod(0o700)
    proc = _run(REPO, _HELLO, os.environ.get("PATH", ""), tmpdir)
    assert proc.returncode == 0, proc.stderr
    assert proc.stdout.strip() == content_text_batch(["hello world"])["cid"][0]
    assert [p.name for p in cache.iterdir()] == [native._NAME]


def test_concurrent_cold_builds(tmp_path):
    """Four processes importing the kernel into one empty build dir at once
    all load, and run ``cc`` once between them: the others wait on the
    dir's lock, then load that build. The ``cc`` on PATH is a shim that
    logs each call and waits a second before compiling, so a process that
    did not wait would find no library yet and compile too."""
    bin_dir = tmp_path / "bin"
    bin_dir.mkdir()
    log = tmp_path / "cc.log"
    cc = bin_dir / "cc"
    cc.write_text(
        f"#!/bin/sh\necho $$ >> {shlex.quote(str(log))}\nsleep 1\n"
        f'exec {shlex.quote(shutil.which("cc"))} "$@"\n'
    )
    cc.chmod(0o700)
    tmpdir = tmp_path / "tmp"
    tmpdir.mkdir()
    env = {"PATH": f"{bin_dir}:{os.environ.get('PATH', '')}", "TMPDIR": str(tmpdir)}
    prelude = f"import sys; sys.path.insert(0, {REPO!r})\n"
    procs = [
        subprocess.Popen(
            [sys.executable, "-I", "-c", prelude + _HELLO], env=env, cwd=str(tmpdir),
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        )
        for _ in range(4)
    ]
    want = content_text_batch(["hello world"])["cid"][0]
    for proc in procs:
        out, err = proc.communicate(timeout=120)
        assert proc.returncode == 0, err
        assert out.strip() == want
    assert len(log.read_text().split()) == 1
    assert [p.name for p in _cache(tmpdir).iterdir()] == [native._NAME]


@pytest.mark.parametrize("build_dir", ["group-writable", "symlink", "foreign"])
def test_untrusted_build_dir_is_refused(tmp_path, build_dir):
    """The build dir must be this user's own, closed dir; else the import
    fails, naming it, and nothing is loaded from or built into it."""
    if build_dir == "foreign" and os.getuid() != 0:
        pytest.skip("a dir owned by another user needs root")
    tmpdir = tmp_path / "tmp"
    tmpdir.mkdir()
    cache = _cache(tmpdir)
    if build_dir == "symlink":
        target = tmp_path / "elsewhere"
        target.mkdir(mode=0o700)
        cache.symlink_to(target)
    else:
        cache.mkdir(mode=0o700)
        if build_dir == "group-writable":
            cache.chmod(0o770)
        else:
            os.chown(cache, 65534, 65534)
    proc = _run(REPO, _HELLO, os.environ.get("PATH", ""), tmpdir)
    assert proc.returncode != 0
    assert "ImportError" in proc.stderr and str(cache) in proc.stderr, proc.stderr
    assert list(cache.iterdir()) == []


def test_unmappable_library_fails_at_import(tmp_path):
    """A library the loader cannot map (as from a noexec temp dir) fails the
    import with an ImportError that names the path and the likely cause."""
    tmpdir = tmp_path / "tmp"
    tmpdir.mkdir()
    for module in ("iscc_specs_spark.kernel", "iscc_specs_spark.kernel.native"):
        code = f"""
import ctypes
def cdll(path, *a, **k):
    raise OSError(path + ": failed to map segment from shared object")
ctypes.CDLL = cdll
import {module}
"""
        proc = _run(REPO, code, os.environ.get("PATH", ""), tmpdir)
        assert proc.returncode != 0
        err = proc.stderr.strip().splitlines()[-1]
        assert err.startswith("ImportError") and "noexec" in err, proc.stderr
        assert str(_cache(tmpdir) / native._NAME) in err
