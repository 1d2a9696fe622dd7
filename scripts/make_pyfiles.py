"""Build the --py-files artifact for cluster submission.

The north rule runs the pipeline via ``spark-submit --py-files`` on a
multi-executor cluster; this packages the pure-Python engine (kernel +
operators + plans — no test/bench code) into one zip importable on every
executor:

    python scripts/make_pyfiles.py                  # → dist/iscc_specs_spark.zip
    spark-submit --py-files dist/iscc_specs_spark.zip \
        --conf spark.sql.shuffle.partitions=4096 your_job.py

The zip contains only .py/.json/.c files (spec tables and the kernel's C
source ride along). Executors need numpy, pandas and pyarrow, which every
PySpark image ships, and, like the driver, a C compiler (``cc`` on
``PATH``) and a temp dir that allows exec: the kernel builds its C loops
from the zipped source at first import
(``iscc_specs_spark/kernel/native.py``) and fails to import without them.
"""

from __future__ import annotations

import os
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "iscc_specs_spark")
OUT = os.path.join(REPO, "dist", "iscc_specs_spark.zip")


def main() -> None:
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    n = 0
    with zipfile.ZipFile(OUT, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(PKG):
            if "__pycache__" in root:
                continue
            for fn in sorted(files):
                if fn.endswith((".py", ".json", ".c")):
                    full = os.path.join(root, fn)
                    zf.write(full, os.path.relpath(full, REPO))
                    n += 1
    print(f"wrote {OUT} ({n} files)")


if __name__ == "__main__":
    main()
