"""Seeded input generators for the benchmark workloads.

Every input is a pure function of ``(seed, size)`` and is written to parquet
with pyarrow during set-up, so the program under test only ever reads
generated files. Each generator also returns the planted truth: one cluster
label per row, aligned with the rows of the table.

``pages``: Common-Crawl-style pages (url, warc_ts, html, text, lang) in
20-id blocks, after the structure of ``iscc_specs_spark.sources.pages``:
  * positions 0..k-1 of a block (k = 2..8) form one edit-class cluster
    (base page plus single-edit variants);
  * some singleton positions reprint a variant of an earlier block's base,
    so duplicates also cross micro-batch boundaries;
  * every ``farm_every``-th page (default 101, ~1%) joins one template
    farm;
  * ``doc_id % 211 == 210`` is an empty page.

``codes``: a synthesised codes table (url, warc_ts, cid_body, simhash,
minhash, tophash) with stars, drift chains, exact mirrors and a template
farm far above the LSH bucket cap. ``cid_body`` is derived from the minhash
signature the way the kernel derives it (LSB of each of the 64 values,
first value in the most significant bit).

The program's dup predicate, restated for the checks in
``test_gen.py``: CID Hamming <= 10, SimHash Hamming <= 3, or equal tophash.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

_CONS = "bcdfghklmnprstvz"
_VOWS = "aeiou"
_SYLL = [c + v for c in _CONS for v in _VOWS]  # 80 syllables
_N_WORDS = 800


def _word(i: int) -> str:
    s1 = _SYLL[(i * 7 + 3) % len(_SYLL)]
    s2 = _SYLL[(i * 13 + 5) % len(_SYLL)]
    s3 = _SYLL[(i * 29 + 11) % len(_SYLL)] if i % 3 else ""
    return s1 + s2 + s3


WORDS = np.array([_word(i) for i in range(_N_WORDS)], dtype=object)
EDIT_CLASSES = ("exact", "subst", "insert", "delete", "swap", "boiler", "htmlnoise")
BOILER = list(WORDS[17:27])

_U64_MAX = (1 << 64) - 1
CID_MAX = 10
SIM_MAX = 3

PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)
CODES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("cid_body", pa.int64()),
        ("simhash", pa.int64()),
        ("minhash", pa.list_(pa.int64())),
        ("tophash", pa.string()),
    ]
)


def _rng(seed: int, *key: int) -> np.random.Generator:
    return np.random.default_rng([seed, *key])


def _mix(seed: int, x: int) -> int:
    """Small deterministic hash of (seed, x) for structural choices."""
    h = hashlib.blake2b(f"{seed}:{x}".encode(), digest_size=8).digest()
    return int.from_bytes(h, "big")


# ---------------------------------------------------------------------------
# pages
# ---------------------------------------------------------------------------


def _base_words(
    seed: int, tag: int, key: int, words: tuple[int, int]
) -> list[str]:
    rng = _rng(seed, tag, key)
    n = int(rng.integers(words[0], words[1]))
    return WORDS[rng.integers(0, _N_WORDS, n)].tolist()


def _edit(words: list[str], edit: str, doc_id: int) -> list[str]:
    words = list(words)
    n = len(words)
    at = (doc_id * 31) % n
    if edit == "subst":
        words[at] = WORDS[(doc_id * 7) % _N_WORDS]
    elif edit == "insert":
        words.insert(at, WORDS[(doc_id * 11) % _N_WORDS])
    elif edit == "delete":
        del words[at]
    elif edit == "swap":
        j = (at + 1) % n
        words[at], words[j] = words[j], words[at]
    elif edit == "boiler":
        words = words + BOILER
    # "exact" and "htmlnoise" keep the text of the base
    return words


def page_row(
    seed: int, doc_id: int, words: tuple[int, int], farm_every: int = 101
) -> tuple[str, str, bytes, str]:
    """(url, text, html, truth label) of one page: a pure function of
    ``(seed, doc_id, words, farm_every)``."""
    block, pos = divmod(doc_id, 20)
    k = 2 + _mix(seed, block) % 7
    noise = ""
    if doc_id % farm_every == farm_every - 1:
        farm = _base_words(seed, 4, 0, words)
        farm[doc_id % len(farm)] = WORDS[doc_id % _N_WORDS]
        ws, label, title = farm, "farm", "template farm landing page"
    elif doc_id % 211 == 210:
        ws, label, title = [], "empty", "empty page"
    else:
        reprint = pos >= k and block > 0 and _mix(seed, doc_id) % 13 == 0
        if pos < k or reprint:
            base_id = 20 * (_mix(seed, ~doc_id) % block if reprint else block)
            ws = _base_words(seed, 1, base_id, words)
            label = f"c{base_id}"
            if reprint:
                edit = "subst"
            elif pos == 0:
                edit = "base"
            else:
                edit = EDIT_CLASSES[(pos - 1) % len(EDIT_CLASSES)]
            ws = _edit(ws, edit, doc_id)
            if edit == "htmlnoise":
                noise = f"<!-- v{doc_id} -->"
            title = f"doc {base_id:010d} {ws[0]}"
        else:
            ws = _base_words(seed, 3, doc_id, words)
            label = f"s{doc_id}"
            title = f"doc {doc_id:010d} {ws[0]}"
    text = " ".join(ws)
    url = f"https://site{_mix(seed, doc_id) % 1000:04d}.example/p/{doc_id}"
    html = (
        f"<html><head><title>{title}</title>{noise}</head>"
        f"<body><p>{text}</p></body></html>"
    ).encode("utf-8")
    return url, text, html, label


def pages(
    seed: int, n_docs: int, words: tuple[int, int], start: int = 0,
    farm_every: int = 101,
) -> tuple[pa.Table, list[str]]:
    """Pages ``[start, start + n_docs)`` and their truth labels. Slices of
    one id range concatenate to the full range, so a corpus can arrive in
    micro-batches. Every ``farm_every``-th page joins the template farm."""
    rows = [
        page_row(seed, i, words, farm_every) for i in range(start, start + n_docs)
    ]
    langs = ("en", "de", "fr", "es")
    table = pa.table(
        {
            "url": [r[0] for r in rows],
            "warc_ts": [
                EPOCH + dt.timedelta(seconds=i) for i in range(start, start + n_docs)
            ],
            "html": [r[2] for r in rows],
            "text": [r[1] for r in rows],
            "lang": [langs[i % 4] for i in range(start, start + n_docs)],
        },
        schema=PAGES_SCHEMA,
    )
    return table, [r[3] for r in rows]


# ---------------------------------------------------------------------------
# codes
# ---------------------------------------------------------------------------


def cid_body(minhash: np.ndarray) -> np.ndarray:
    """(R, 64) uint64 minhash → (R,) int64 body, as the kernel packs it."""
    packed = np.packbits((minhash & np.uint64(1)).astype(np.uint8), axis=1)
    return packed.view(">u8").reshape(-1).astype(np.int64)


def _flip_bits(rng: np.random.Generator, x: np.uint64, n: int) -> np.uint64:
    for b in rng.choice(64, n, replace=False):
        x ^= np.uint64(1) << np.uint64(b)
    return x


def _redraw(rng: np.random.Generator, mh: np.ndarray, n: int) -> np.ndarray:
    """Copy of ``mh`` with ``n`` positions drawn anew. A redrawn position
    keeps its LSB, so each redraw moves the value but changes the CID body
    by at most the explicit ``flip`` count of the caller."""
    out = mh.copy()
    pos = rng.choice(64, n, replace=False)
    fresh = rng.integers(0, 1 << 31, n, dtype=np.uint64) << np.uint64(1)
    out[pos] = fresh | (mh[pos] & np.uint64(1))
    return out


def _variant(
    rng: np.random.Generator, mh: np.ndarray, sim: np.uint64,
    redraw: int, cid_flips: int, sim_flips: int,
) -> tuple[np.ndarray, np.uint64]:
    out = _redraw(rng, mh, redraw)
    for p in rng.choice(64, cid_flips, replace=False):
        out[p] ^= np.uint64(1)
    return out, _flip_bits(rng, np.uint64(sim), sim_flips)


def codes(
    seed: int, n_rows: int, farm: int
) -> tuple[pa.Table, list[str], list[tuple[int, int]]]:
    """Synthesised codes table of ``n_rows`` rows, its truth labels and its
    planted truth edges (row pairs: farm and mirror rows to their first
    row, star leaves to the centre, consecutive chain links).

    Layout, in row order before the url shuffle:
      * one template farm of ``farm`` members (base + 1 redrawn value,
        <= 1 CID bit, <= 1 SimHash bit): far above any bucket cap;
      * one mirror group of ~1% rows (identical codes and tophash);
      * then, until the table is full, a repeating mix of
          - stars: centre + 2..12 leaves (<= 4 CID bits, <= 2 SimHash bits
            from the centre),
          - drift chains of 4..16 links: each link moves <= 3 CID bits and
            2 SimHash bits from the previous one, so the ends are far apart
            and connected components needs several rounds,
          - exact mirror groups of 2..6 rows,
          - singletons.
    """
    rng = _rng(seed, 2)
    mh = np.zeros((n_rows, 64), dtype=np.uint64)
    sim = np.zeros(n_rows, dtype=np.uint64)
    mirror_of = np.arange(n_rows)
    labels: list[str] = []
    edges: list[tuple[int, int]] = []

    def fresh() -> tuple[np.ndarray, np.uint64]:
        return (
            rng.integers(0, 1 << 32, 64, dtype=np.uint64),
            rng.integers(0, _U64_MAX, dtype=np.uint64, endpoint=True),
        )

    i = 0

    def put(m: np.ndarray, s: np.uint64, label: str) -> int:
        nonlocal i
        mh[i], sim[i] = m, s
        labels.append(label)
        i += 1
        return i - 1

    base, bsim = fresh()
    hub = put(base, bsim, "farm")
    for _ in range(min(farm, n_rows) - 1):
        m, s = _variant(rng, base, bsim, 1, int(rng.integers(0, 2)), int(rng.integers(0, 2)))
        edges.append((hub, put(m, s, "farm")))
    m, s = fresh()
    first = put(m, s, "mirror-big")
    for _ in range(max(n_rows // 100, 2) - 1):
        if i >= n_rows:
            break
        mirror_of[i] = first
        edges.append((first, put(m, s, "mirror-big")))

    group = 0
    while i < n_rows:
        kind = group % 5
        group += 1
        label = f"g{group}"
        room = n_rows - i
        if kind == 0:  # star
            m0, s0 = fresh()
            centre = put(m0, s0, label)
            for _ in range(min(int(rng.integers(2, 13)), room - 1)):
                m, s = _variant(
                    rng, m0, s0, int(rng.integers(1, 9)),
                    int(rng.integers(0, 5)), int(rng.integers(0, 3)),
                )
                edges.append((centre, put(m, s, label)))
        elif kind == 1:  # drift chain
            m, s = fresh()
            prev = put(m, s, label)
            for _ in range(min(int(rng.integers(4, 17)), room - 1)):
                m, s = _variant(rng, m, s, 6, int(rng.integers(1, 4)), 2)
                nxt = put(m, s, label)
                edges.append((prev, nxt))
                prev = nxt
        elif kind == 2:  # exact mirrors
            m, s = fresh()
            first = put(m, s, label)
            for _ in range(min(int(rng.integers(1, 6)), room - 1)):
                mirror_of[i] = first
                edges.append((first, put(m, s, label)))
        else:  # singletons
            m, s = fresh()
            put(m, s, f"s{i}")

    # tophash: unique per row except inside a mirror group
    top = np.array(
        [hashlib.sha256(f"{seed}:{r}".encode()).hexdigest() for r in mirror_of],
        dtype=object,
    )
    # urls in a seeded random order, so cluster minima and CC hub choice
    # are unrelated to the generation order
    order = rng.permutation(n_rows)
    urls = np.array(
        [f"https://m{_mix(seed, int(o)) % 997:03d}.example/r/{int(o):07d}" for o in order],
        dtype=object,
    )
    ts = rng.permutation(n_rows)
    table = pa.table(
        {
            "url": urls.tolist(),
            "warc_ts": [EPOCH + dt.timedelta(seconds=int(t)) for t in ts],
            "cid_body": cid_body(mh),
            "simhash": sim.astype(np.int64),
            "minhash": pa.array(mh.astype(np.int64).tolist(), pa.list_(pa.int64())),
            "tophash": top.tolist(),
        },
        schema=CODES_SCHEMA,
    )
    return table, labels, edges


# ---------------------------------------------------------------------------
# staging
# ---------------------------------------------------------------------------


def write_parquet(table: pa.Table, path: str, files: int) -> None:
    """Write ``table`` as ``files`` parquet files under directory ``path``
    (one input split per file), deterministically: fixed file names, row
    ranges, compression and no timestamps in metadata."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    for f in range(files):
        lo, hi = n * f // files, n * (f + 1) // files
        pq.write_table(
            table.slice(lo, hi - lo),
            os.path.join(path, f"part-{f:04d}.parquet"),
            compression="snappy",
        )
