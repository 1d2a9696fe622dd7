"""Emulate the driver's correctness gate locally.

For every queries() entry with an oracle_sql() twin: run the Spark query and
the DuckDB SQL at the given sf dir, sort columns by name and rows by value,
and compare row count, column names, and values (exact; floats reported with
max-abs-diff when unequal). Rows-only entries just report row counts.

Usage: python scripts/check_oracles.py [sf_dir] [query ...]

Needs ``cc`` on PATH: importing any ``iscc_specs_spark.kernel`` module
builds the kernel's C loops (``kernel/native.py``).
"""

from __future__ import annotations

import math
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from iscc_specs_spark.oracles import oracle_type_mismatches  # noqa: E402
from iscc_specs_spark.session import get_spark  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float) and math.isnan(v):
                v = "NaN"
            vals.append(v)
        out.append(tuple(vals))
    return sorted(cols), sorted(out, key=repr)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    # staged-parquet oracles resolve their stage dir from this (defaults to
    # sf0.01, which is what the driver's gate runs)
    os.environ["SPARK_GRAFT_ORACLE_SF"] = os.path.basename(sf_dir.rstrip("/"))
    spark = get_spark("oracle-check", cores=8, shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        sdf = fn(spark, sf_dir)
        srows = sdf.collect()
        scols = sdf.columns
        if name not in oracles:
            print(f"{name:24s} rows-only: {len(srows)} rows")
            continue
        orel = con.sql(oracles[name])
        ocols = list(orel.columns)
        orows = orel.fetchall()
        sc, sv = canon([tuple(r) for r in srows], scols)
        oc, ov = canon(orows, ocols)
        status = []
        if sc != oc:
            status.append(f"COLS spark={sc} oracle={oc}")
        # declared-type compatibility: the driver hashes typed (pandas)
        # materializations, so e.g. DuckDB HUGEINT (integer sum()) vs Spark
        # BIGINT diverges ('5.0' vs '5') even when fetchall() values match
        bad_types = oracle_type_mismatches(sdf.dtypes, ocols, orel.types)
        if bad_types:
            status.append(f"TYPES {bad_types}")
        if len(sv) != len(ov):
            status.append(f"COUNT spark={len(sv)} oracle={len(ov)}")
        elif sc == oc and sv != ov:
            # find first diff + max float diff
            maxd, nbad = 0.0, 0
            first = None
            for a, b in zip(sv, ov):
                if a != b:
                    nbad += 1
                    if first is None:
                        first = (a, b)
                    for x, y in zip(a, b):
                        if isinstance(x, float) and isinstance(y, float):
                            maxd = max(maxd, abs(x - y))
            status.append(f"VALUES {nbad} diff rows, max_float_diff={maxd:.3e}, first={first}")
        if status:
            failures.append(name)
            print(f"{name:24s} FAIL  " + " | ".join(status))
        else:
            print(f"{name:24s} OK    {len(sv)} rows")
    print("\nFAILURES:", failures or "none")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
