"""Python/NumPy ISCC kernel (no Spark imports); its text sketch (UTF-8
text → MinHash and SimHash, one path for batch and scalar Meta-ID and
Content-ID-Text) and data sketch (blob → CDC chunks → xxh32 → MinHash,
one path for batch and scalar Data-ID) are C (``native``), built with
``cc`` when this package is first imported: ``kernel.codes`` hashes
through it, so every importer of any kernel module (the Spark driver and
executors, ``oracles.py``, ``scripts/check_oracles.py``) needs a C
compiler and an exec-capable temp dir. ``data_chunks``, ``xxh32``,
``xxh64`` and the NumPy sketches are the references the C is pinned to.

These are the functions the vectorized pandas UDFs in
``iscc_specs_spark.operators`` call per Arrow batch.  Semantics follow the
ISCC v1.0 specification; parity is pinned bit-for-bit by the vendored golden
vectors (tests/fixtures/test_data.json, from /root/reference/tests/).
"""

from iscc_specs_spark.kernel.codec import decode, distance, encode
from iscc_specs_spark.kernel.codes import (
    content_id_mixed,
    content_id_text,
    content_id_text_full,
    data_id,
    data_id_full,
    instance_id,
    meta_id,
)
from iscc_specs_spark.kernel.cdc import data_chunks
from iscc_specs_spark.kernel.images import (
    content_id_image,
    dct,
    image_hash,
    image_normalize,
)
from iscc_specs_spark.kernel.sketches import minimum_hash, similarity_hash
from iscc_specs_spark.kernel.textnorm import text_normalize, text_trim
from iscc_specs_spark.kernel.xxhashes import xxh32, xxh64

__all__ = [
    "encode",
    "decode",
    "distance",
    "meta_id",
    "content_id_text",
    "content_id_text_full",
    "content_id_image",
    "content_id_mixed",
    "image_hash",
    "image_normalize",
    "dct",
    "data_id",
    "data_id_full",
    "instance_id",
    "data_chunks",
    "minimum_hash",
    "similarity_hash",
    "text_normalize",
    "text_trim",
    "xxh32",
    "xxh64",
]
