"""Time per page of each step of the kernel's batch path, on perfbench's
generated ~8 KB pages, in one thread and with no Spark.

The steps replay ``kernel.batch.content_text_batch`` (normalise, then one
C ``text_sketch`` call over every normalised doc: the spaced copy,
xxh32/xxh64 of every shingle, MinHash and SimHash) and
``data_instance_batch`` (one C ``data_sketch`` call over every blob: the
CDC cut, xxh32 of every chunk and the MinHash; then the Instance-ID) on
the same inputs; the two batch functions are also timed whole, so the sum
of the steps can be checked against them. Each figure is the best of
``--reps`` passes over all pages. The first line names the body of the C
sketches that this CPU runs (``native.ISA``).

Usage: python scripts/kernel_profile.py [--seed 1] [--docs 300] [--reps 3]
"""

from __future__ import annotations

import argparse
import os
import sys
import time
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import gen  # noqa: E402
from workloads import WORDS_8K, KernelPages  # noqa: E402

from iscc_specs_spark.kernel import batch  # noqa: E402
from iscc_specs_spark.kernel.codes import instance_id  # noqa: E402
from iscc_specs_spark.kernel.constants import WINDOW_SIZE_CID_T  # noqa: E402
from iscc_specs_spark.kernel.native import ISA, data_sketch, text_sketch  # noqa: E402
from iscc_specs_spark.kernel.textnorm import text_normalize  # noqa: E402


class Clock:
    """Accumulates wall time per step name."""

    def __init__(self):
        self.s: dict[str, float] = defaultdict(float)
        self.t = time.perf_counter()

    def lap(self, step: str) -> None:
        now = time.perf_counter()
        self.s[step] += now - self.t
        self.t = now


def content_steps(texts: list[str], clk: Clock) -> None:
    clk.lap("")
    norms = [text_normalize(t or "", keep_ws=False) for t in texts]
    clk.lap("text: normalise")
    text_sketch(norms, WINDOW_SIZE_CID_T, 2, True)
    clk.lap("text: text_sketch (C)")


def data_steps(blobs: list[bytes], clk: Clock) -> None:
    clk.lap("")
    data_sketch(blobs)
    clk.lap("data: data_sketch (C)")
    for b in blobs:
        instance_id(b)
    clk.lap("data: instance hash")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--docs", type=int, default=KernelPages.docs)
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    table, _ = gen.pages(args.seed, args.docs, WORDS_8K, farm_every=KernelPages.farm_every)
    texts = table.column("text").to_pylist()
    blobs = [b or b"" for b in table.column("html").to_pylist()]

    best: dict[str, float] = {}
    for _ in range(args.reps):
        clk = Clock()
        content_steps(texts, clk)
        data_steps(blobs, clk)
        for fn, arg in (
            (batch.content_text_batch, texts),
            (batch.data_instance_batch, blobs),
        ):
            clk.lap("")
            fn(arg)
            clk.lap(f"whole: {fn.__name__}")
        for step, s in clk.s.items():
            if step:
                best[step] = min(best.get(step, s), s)

    n = len(texts)
    print(f"seed {args.seed}, {n} pages, best of {args.reps}, sketch clone {ISA}")
    for prefix in ("text", "data", "whole"):
        rows = {k: v for k, v in best.items() if k.startswith(prefix)}
        for step, s in rows.items():
            print(f"  {step:<36} {s * 1000 / n:8.3f} ms/page")
        if prefix != "whole":
            total = sum(rows.values()) * 1000 / n
            print(f"  {prefix + ': sum of steps':<36} {total:8.3f} ms/page")


if __name__ == "__main__":
    main()
