"""Host-ceiling control for BENCH.md: per-core throughput of the pure
NumPy ISCC kernel (no Spark) at 1/4/8/16/32 concurrent processes.

This isolates the shared-VM memory-bandwidth/steal ceiling from the
pipeline's own scaling: any efficiency the raw kernel loses at higher
concurrency is a property of the box, not of the Spark job design.

Usage: python scripts/host_ceiling.py [docs_per_proc]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time
from multiprocessing import Pool

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def work(args):
    n_docs, scale = args
    from iscc_specs_spark.kernel import batch as KB
    from iscc_specs_spark.sources import pages as P

    texts = [P._row(i, scale)[2] for i in range(200)]
    KB.content_text_batch(texts[:5])  # warm normalize tables
    done = 0
    t0 = time.perf_counter()
    while done < n_docs:
        KB.content_text_batch(texts)
        done += len(texts)
    return done, time.perf_counter() - t0


def main():
    docs = int(sys.argv[1]) if len(sys.argv) > 1 else 1200
    out = {}
    for procs in (1, 4, 8, 16, 32):
        with Pool(procs) as p:
            t0 = time.perf_counter()
            res = p.map(work, [(docs, 4)] * procs)
            wall = time.perf_counter() - t0
        total = sum(r[0] for r in res)
        out[procs] = {
            "docs_per_sec": round(total / wall, 1),
            "per_proc": round(total / wall / procs, 1),
        }
    eff = {
        "4_to_16": round(out[16]["docs_per_sec"] / (4 * out[4]["docs_per_sec"]), 3),
        "8_to_32": round(out[32]["docs_per_sec"] / (4 * out[8]["docs_per_sec"]), 3),
    }
    print(json.dumps({"kernel_only": out, "host_ceiling_efficiency": eff}))


if __name__ == "__main__":
    main()
