"""Column-level ISCC functions — the engine's expression API.

Everything here returns native Spark ``Column`` expressions (whole-stage
codegen, no Python), mirroring the reference's scalar helpers
(/root/reference/src/iscc/iscc.py:426-484) over the engine's column
encodings: 8-byte code bodies ride as signed LONGs (operators/codegen.py),
full codes as 13-char base58 strings.

    from iscc_specs_spark import functions as IF
    codes.select(IF.iscc_compose("meta_id", "content_id", "data_id",
                                 "instance_id").alias("iscc"))
    pairs.where(IF.iscc_distance(F.col("cid_a"), F.col("cid_b")) <= 10)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from iscc_specs_spark.kernel.constants import SYMBOLS

# re-exported expression helpers that live next to their operators
from iscc_specs_spark.operators.dedup_variants import (  # noqa: F401
    cosine_expr,
    dot_expr,
    normalized_fp,
)
from iscc_specs_spark.operators.ann import rhp_signature  # noqa: F401
from iscc_specs_spark.operators.lsh import hamming64


def iscc_distance(body_a: Column, body_b: Column) -> Column:
    """Reference ``distance()`` (iscc.py:426-436) over code-*body* columns:
    the headers are already stripped in the LONG body encoding, so the
    distance is a plain 64-bit Hamming distance."""
    return hamming64(body_a, body_b)


def iscc_compose(mid, cid, did, iid) -> Column:
    """Fully-qualified ISCC: ``'-'.join([mid, cid, did, iid])``
    (reference README.md:38, tools/stamp.py:43).

    NULL-strict like the reference (which assumes all four components):
    any missing component yields NULL, never a silently-shortened
    3-segment string (``concat_ws`` alone would drop NULLs)."""
    cols = [F.col(c) if isinstance(c, str) else c for c in (mid, cid, did, iid)]
    all_present = cols[0].isNotNull()
    for c in cols[1:]:
        all_present = all_present & c.isNotNull()
    return F.when(all_present, F.concat_ws("-", *cols))


def base58_body(colname: str) -> Column:
    """11-char base58-iscc encoding of a non-negative LONG column named
    ``colname`` (kernel/codec.py:15-32, unrolled divmod-58; integer ``div``
    so values above 2^53 stay exact)."""
    chars = [
        f"substring('{SYMBOLS}', "
        f"CAST(({colname} div {58**j}) % 58 AS INT) + 1, 1)"
        for j in range(10, -1, -1)
    ]
    return F.expr("concat(" + ", ".join(chars) + ")")
