"""Driver-contract regression: every oracled queries() entry must match its
DuckDB twin exactly (columns, row count, values) at sf0.001 — a fast local
replica of the driver's CORRECTNESS gate at sf0.01."""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = "/root/testdata/sf0.001"
# staged-parquet oracles must point at this sf's stage dir (set before
# oracle_sql() is called at collection time)
os.environ["SPARK_GRAFT_ORACLE_SF"] = os.path.basename(SF_DIR)

import __spark_entry__ as entrymod  # noqa: E402
TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    fix = lambda v: "NaN" if isinstance(v, float) and math.isnan(v) else v
    return sorted(cols), sorted(
        [tuple(fix(r[i]) for i in order) for r in rows], key=repr
    )


@pytest.mark.parametrize("name", sorted(entrymod.oracle_sql()))
def test_oracle_parity(spark, ddb, name):
    from iscc_specs_spark.oracles import oracle_type_mismatches

    sdf = entrymod.queries()[name](spark, SF_DIR)
    sc, sv = _canon([tuple(r) for r in sdf.collect()], sdf.columns)
    orel = ddb.sql(entrymod.oracle_sql()[name])
    oc, ov = _canon(orel.fetchall(), list(orel.columns))
    assert sc == oc
    # declared-type compatibility: the driver hashes typed materializations,
    # so DuckDB HUGEINT (bare integer sum()) vs Spark BIGINT diverges even
    # when fetchall() values match — round 5's only red row
    assert oracle_type_mismatches(sdf.dtypes, list(orel.columns), orel.types) == []
    assert len(sv) == len(ov)
    assert sv == ov


def test_uncast_aggregate_probe(ddb):
    """A deliberately-uncast integer sum() must trip the type harness —
    guards the harness itself (VERDICT r5 item 2)."""
    from iscc_specs_spark.oracles import oracle_type_mismatches

    rel = ddb.sql("SELECT doc_id, sum(length(text)) AS n FROM documents GROUP BY doc_id")
    bad = oracle_type_mismatches(
        [("doc_id", "bigint"), ("n", "bigint")], list(rel.columns), rel.types
    )
    assert bad == [("n", "bigint", "HUGEINT")]
    fixed = ddb.sql(
        "SELECT doc_id, CAST(sum(length(text)) AS BIGINT) AS n "
        "FROM documents GROUP BY doc_id"
    )
    assert (
        oracle_type_mismatches(
            [("doc_id", "bigint"), ("n", "bigint")], list(fixed.columns), fixed.types
        )
        == []
    )


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    # every query now carries an oracle (kernel-backed ops via staged codes)
    rowsonly = set(entrymod.queries()) - set(entrymod.oracle_sql())
    assert rowsonly == set()
