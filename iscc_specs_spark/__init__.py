"""iscc_specs_spark — a PySpark-native near-duplicate detection and
clustering engine built around ISCC similarity-preserving content codes.

Layout:
    kernel/     Python/NumPy ISCC primitives, hashing and hot loops in C (no Spark dependency)
    operators/  Spark DataFrame operators (codegen, LSH, clustering, ...)
    sources/    storage seam (parquet-with-snapshot-manifest), synthetic pages
    plans/      end-to-end pipelines (dedup) with checkpoint/resume + metrics
"""

__version__ = "0.1.0"
