"""Bytes at rest of a ``run_dedup`` out dir, per stage and per column, in
bytes per document — read from the parquet footers alone (no Spark job).

Every stage with a ``<stage>.manifest.json`` next to its directory is
listed. A column's bytes are its column chunks' compressed sizes summed
over all row groups of all files; ``(footer+other)`` is the rest of the
file bytes (footers, page indexes, magic). A partition column would live
in directory names and cost no bytes; no ``run_dedup`` stage has one.
The document count is the codes stage's row count. Each stage's line
names the codec(s) of its column chunks, so the report says what is at
rest (``sources/storage.py`` ``PARQUET_CODEC``; older out dirs: SNAPPY).

Usage: python scripts/stage_bytes.py OUT_DIR
"""

from __future__ import annotations

import argparse
import os
import sys

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from iscc_specs_spark.sources.storage import parquet_files  # noqa: E402


def stage_bytes(path: str) -> dict:
    """{rows, files, bytes, codecs, columns: {column path: bytes}} of one
    stage."""
    rows = size = 0
    cols: dict[str, int] = {}
    codecs: set[str] = set()
    files = parquet_files(path)
    for fp in files:
        md = pq.read_metadata(fp)
        rows += md.num_rows
        size += os.path.getsize(fp)
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            for c in range(rg.num_columns):
                cc = rg.column(c)
                codecs.add(cc.compression)
                cols[cc.path_in_schema] = (
                    cols.get(cc.path_in_schema, 0) + cc.total_compressed_size
                )
    cols["(footer+other)"] = size - sum(cols.values())
    return {
        "rows": rows, "files": len(files), "bytes": size,
        "codecs": sorted(codecs), "columns": cols,
    }


def report(out_dir: str) -> dict:
    stages = sorted(
        n.removesuffix(".manifest.json")
        for n in os.listdir(out_dir)
        if n.endswith(".manifest.json")
    )
    per = {s: stage_bytes(os.path.join(out_dir, s)) for s in stages}
    docs = per["codes"]["rows"]
    total = sum(p["bytes"] for p in per.values())
    return {
        "docs": docs,
        "bytes_per_doc": total / docs,
        "stages": {
            s: {
                "bytes_per_doc": p["bytes"] / docs,
                "files": p["files"],
                "codecs": p["codecs"],
                "columns": {c: b / docs for c, b in p["columns"].items()},
            }
            for s, p in per.items()
        },
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("out_dir")
    r = report(ap.parse_args(argv).out_dir)
    print(f"{r['docs']} docs, {r['bytes_per_doc']:.0f} B/doc at rest")
    for s, p in sorted(r["stages"].items(), key=lambda kv: -kv[1]["bytes_per_doc"]):
        print(
            f"{s:<12} {p['bytes_per_doc']:>8.0f} B/doc  {p['files']:>4} files  "
            f"{','.join(p['codecs']) or '-'}"
        )
        for c, b in sorted(p["columns"].items(), key=lambda kv: -kv[1]):
            print(f"  {c:<24} {b:>8.0f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
