"""Storage seam: parquet stage tables with snapshot manifests.

North-rule target is Iceberg; this sandbox has no Iceberg jars, so each
stage writes a plain parquet directory plus a ``manifest.json`` snapshot
record (stage name, config fingerprint, wall time, schema, and the stage's
lineage: rows, files and bytes).  Swapping ``format("parquet")`` for
``format("iceberg")`` + snapshot-id bookkeeping is localized to this module
(SURVEY.md §7.1).

Codec at rest: every table the engine keeps — each ``StageStore`` stage
and each streaming state table (``streaming/ingest.py``) — is written as
``PARQUET_CODEC`` (zstd) parquet, set on the writer so the on-disk format
does not depend on how the session was built. zstd's entropy coder
shrinks what snappy cannot: random hex ``tophash`` strings and the zero
high halves of ``uint32`` MinHash values in ``array<long>`` slots.
Iceberg's own default parquet codec is zstd, so the Iceberg swap keeps
it. Readers pick the codec per file, so tables written with another codec
(Spark's default, snappy) still read, resume and probe; a directory may
mix codecs.

Lineage comes from the parquet footers the write just produced
(``pyarrow.parquet.read_metadata``), not from a Spark rescan: recording a
stage costs no Spark job. Re-reads pass the written schema
(``spark.read.schema``), so they skip Spark's schema-inference job too.

Resume contract: a stage is reusable iff its directory has Spark's
``_SUCCESS`` marker AND the manifest's config hash matches the current run
config.  Stage writes are idempotent (overwrite).
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from typing import Any

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

# the parquet codec of every table the engine keeps at rest
PARQUET_CODEC = "zstd"


def config_hash(cfg: dict[str, Any]) -> str:
    return hashlib.sha256(
        json.dumps(cfg, sort_keys=True, default=str).encode()
    ).hexdigest()[:16]


def parquet_files(path: str) -> list[str]:
    """The parquet data files under ``path`` (partition subdirectories
    included), sorted. Spark's own ``_``/``.`` side files (markers,
    checksums) are skipped."""
    out = []
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        out += [
            os.path.join(root, n)
            for n in names
            if n.endswith(".parquet") and not n.startswith(("_", "."))
        ]
    return sorted(out)


def _footer_lineage(path: str) -> dict:
    """{rows, files, bytes} of the parquet files under ``path``, read from
    the footers alone — no Spark job."""
    files = parquet_files(path)
    return {
        "rows": sum(pq.read_metadata(fp).num_rows for fp in files),
        "files": len(files),
        "bytes": sum(os.path.getsize(fp) for fp in files),
    }


class StageStore:
    def __init__(self, root: str, cfg_hash: str):
        self.root = root
        self.cfg_hash = cfg_hash
        os.makedirs(root, exist_ok=True)

    def _dir(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def _manifest_path(self, stage: str) -> str:
        return os.path.join(self.root, f"{stage}.manifest.json")

    def has(self, stage: str) -> bool:
        mp = self._manifest_path(stage)
        ok = os.path.exists(os.path.join(self._dir(stage), "_SUCCESS")) and os.path.exists(mp)
        if not ok:
            return False
        with open(mp) as f:
            manifest = json.load(f)
        return manifest.get("config_hash") == self.cfg_hash

    def read(self, spark: SparkSession, stage: str) -> DataFrame:
        """Read a written stage back with the schema its manifest recorded
        (no schema-inference job)."""
        reader = spark.read
        ddl = self.manifest(stage).get("schema_ddl")
        if ddl:
            reader = reader.schema(ddl)
        return reader.parquet(self._dir(stage))

    def record_metrics(self, name: str, metrics: dict) -> None:
        """Side-channel metrics file (e.g. a curation funnel) next to the
        stage manifests, keyed by the same config hash."""
        with open(os.path.join(self.root, f"{name}.metrics.json"), "w") as f:
            json.dump({"config_hash": self.cfg_hash, **metrics}, f, indent=1)

    def manifest(self, stage: str) -> dict:
        with open(self._manifest_path(stage)) as f:
            return json.load(f)

    def _write_manifest(
        self, df: DataFrame, stage: str, wall_ms: int, metrics: dict | None
    ) -> None:
        manifest = {
            "stage": stage,
            "snapshot_id": f"{stage}-{self.cfg_hash}",
            "config_hash": self.cfg_hash,
            **_footer_lineage(self._dir(stage)),
            "wall_ms": wall_ms,
            "written_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "schema_ddl": df._jdf.schema().toDDL(),
            "metrics": metrics or {},
        }
        with open(self._manifest_path(stage), "w") as f:
            json.dump(manifest, f, separators=(",", ":"))

    def save(
        self, df: DataFrame, stage: str, extra_metrics: dict | None = None
    ) -> None:
        """Materialize a stage and its manifest without reading it back.
        Recording the stage adds no Spark job to the write's own."""
        t0 = time.monotonic()
        df.write.mode("overwrite").option("compression", PARQUET_CODEC).parquet(
            self._dir(stage)
        )
        wall_ms = int((time.monotonic() - t0) * 1000)
        self._write_manifest(df, stage, wall_ms, extra_metrics)

    def write(
        self, df: DataFrame, stage: str, extra_metrics: dict | None = None
    ) -> DataFrame:
        """Materialize a stage; returns the re-read DataFrame (cuts lineage,
        making every downstream stage restartable from disk). Use
        :meth:`save` where the caller does not consume the re-read."""
        self.save(df, stage, extra_metrics)
        return self.read(df.sparkSession, stage)
