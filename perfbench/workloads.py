"""The benchmark workloads: staged inputs, a warm-up, the timed job and the
traced layer probe of each.

All are closed loop with a single client: the runner starts a job
only when the previous one has finished. A job's output is reduced to its
``(url, cluster_id)`` rows after timing, for the correctness gate.
"""

from __future__ import annotations

import os
import re
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

import gen
from spans import Tracer

STAGES = ("codes", "bands", "dup_pairs", "clusters", "canonical")
BUCKET_CAP = 64  # DedupConfig.bucket_cap and the operators' default


@dataclass
class JobResult:
    docs: int
    wall_s: float  # timed wall; stream: the timed micro-batch's latency
    out_dir: str
    rows: list[tuple[str, str]] = field(default_factory=list)
    stage_ms: dict[str, int] = field(default_factory=dict)
    cpu_s: float = 0.0  # process-tree CPU of the job, set by the runner


def tree_size(path: str) -> tuple[int, int]:
    """(bytes, files) of the regular files under ``path``, Hadoop checksum
    files excluded."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".crc"):
                continue
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


def parquet_files(path: str) -> int:
    return sum(
        n.endswith(".parquet") for _, _, names in os.walk(path) for n in names
    )


def _rows(df) -> list[tuple[str, str]]:
    return [(r[0], r[1]) for r in df.select("url", "cluster_id").collect()]


_TITLE = re.compile(rb"<title[^>]*>(.*?)</title>", re.S | re.I)


def _title(html: bytes) -> str:
    m = _TITLE.search(html)
    return m.group(1).decode("utf-8", "replace") if m else ""


class Workload:
    """Base: subclasses set ``name`` and the sizes, and implement
    :meth:`stage`, :meth:`warm`, :meth:`job` and :meth:`probe`."""

    name = ""
    # operator spans of the probe that :meth:`job` also runs, for
    # dedup.materialize_s (= traced job - sum of these)
    operator_spans: tuple[str, ...] = ()
    probe_docs = 0  # documents the probe's compute_codes span encodes
    spark = True  # runs on a Spark session
    min_jobs = 1  # timed jobs per run, however short --seconds is

    def __init__(self, seed: int, tmp: str):
        self.seed = seed
        self.tmp = tmp
        self.inputs = os.path.join(tmp, "input")
        self.truth: dict[str, str] = {}

    def size_key(self) -> str:
        raise NotImplementedError

    def probe_job(self, spark, res: JobResult) -> dict:
        """Layer counts over what a traced job left behind."""
        return {}

    # -- shared probe pieces ----------------------------------------------

    def probe_kernel(self, tr, table, reps: int = 3) -> dict:
        """Driver-side, single-threaded kernel timing on a fixed sample of
        the workload's pages (the first ``KERNEL_SAMPLE`` rows)."""
        from iscc_specs_spark.kernel.batch import (
            content_text_batch,
            data_instance_batch,
            meta_batch,
        )
        from iscc_specs_spark.kernel.constants import WINDOW_SIZE_CID_T
        from iscc_specs_spark.kernel.textnorm import text_normalize

        sample = table.slice(0, KERNEL_SAMPLE)
        texts = sample.column("text").to_pylist()
        htmls = sample.column("html").to_pylist()
        titles = [_title(h) for h in htmls]
        out = {}
        for name, fn, arg in (
            ("content_text_batch", content_text_batch, texts),
            ("meta_batch", meta_batch, titles),
            ("data_instance_batch", data_instance_batch, htmls),
        ):
            times = []
            with tr.span(f"kernel.{name}"):
                for _ in range(reps):
                    t0 = time.perf_counter()
                    fn(arg)
                    times.append(time.perf_counter() - t0)
            out[f"kernel.{name}.ms_per_doc"] = (
                statistics.median(times) * 1000 / len(arg)
            )
        norms = [text_normalize(t, keep_ws=False) for t in texts]
        out["kernel.fast_path_share"] = sum(
            s.isascii() and len(s) >= WINDOW_SIZE_CID_T for s in norms
        ) / len(norms)
        return out

    def probe_codegen(self, spark, tr, pages_dir: str):
        from iscc_specs_spark.operators.codegen import compute_codes

        pages = spark.read.parquet(pages_dir)
        with tr.span("codegen.compute_codes"):
            codes = compute_codes(pages).localCheckpoint(eager=True)
        return codes

    def read_codes(self, spark, *dirs: str):
        """A staged codes table, held in memory for the probe."""
        return spark.read.parquet(*dirs).localCheckpoint(eager=True)

    def probe_codes(self, spark, tr, codes) -> dict:
        """LSH, clustering and canonical pick on an in-memory codes table,
        each forced inside its own span."""
        from iscc_specs_spark.operators import lsh
        from iscc_specs_spark.operators.cluster import assign_clusters
        from iscc_specs_spark.plans.dedup import canonical_pick, lsh_metrics

        with tr.span("lsh.rep_codes"):
            slim = lsh.rep_codes(codes).localCheckpoint(eager=True)
        with tr.span("lsh.band_rows_table"):
            bands = lsh.band_rows_table(slim).localCheckpoint(eager=True)
        with tr.span("lsh.lsh_metrics"):
            buckets = lsh_metrics(bands, BUCKET_CAP)
        with tr.span("lsh.dup_pairs"):
            pairs = lsh.dup_pairs(
                codes, bucket_cap=BUCKET_CAP, slim=slim, band_rows=bands
            ).localCheckpoint(eager=True)
        with tr.span("cluster.assign_clusters"):
            clusters = assign_clusters(codes.select("url"), pairs).localCheckpoint(
                eager=True
            )
        with tr.span("dedup.canonical_pick"):
            canonical_pick(codes, clusters).write.mode("overwrite").format(
                "noop"
            ).save()
        # counts, outside the timed spans
        hub = (
            lsh.verified_bucket_pairs(slim, bucket_cap=BUCKET_CAP, band_rows=bands)
            .where(~F.col("verified"))
            .select("url_a", "url_b", F.lit("lsh").alias("src"))
            .localCheckpoint(eager=True)
        )
        hub_edges = hub.count()
        hub_ok = lsh.verify_pairs(hub, slim).count()
        max_cluster = (
            clusters.groupBy("cluster_id").count().agg(F.max("count")).first()[0]
        )
        return {
            "lsh.rep_rows": slim.count(),
            "lsh.band_rows": bands.count(),
            "lsh.max_bucket": buckets["max_bucket"],
            "lsh.capped_buckets": buckets["capped_buckets"],
            "lsh.rows_in_capped": buckets["rows_in_capped"],
            "lsh.pairs_out": pairs.count(),
            "lsh.hub_edges": hub_edges,
            "lsh.hub_yield": hub_ok / hub_edges if hub_edges else 0.0,
            "cluster.edges_in": pairs.count(),
            "cluster.max_cluster": max_cluster or 0,
        }


KERNEL_SAMPLE = 64
WORDS_8K = (1100, 1500)  # ~8 KB of text per page
WORDS_2K = (250, 400)  # ~2 KB of text per page
WARM_DOCS = 40


class BatchWeb(Workload):
    """``plans.dedup.run_dedup`` (tracks text+data) on staged ~8 KB pages."""

    name = "batch_web"
    docs = probe_docs = 400
    # ~8% of pages: the largest LSH bucket (33 farm pages) then dominates
    # the bucket-size distribution as a ~1% farm does at production sizes;
    # it stays under the bucket cap of 64, so hub routing does not run here
    farm_every = 12
    operator_spans = (
        "codegen.compute_codes", "lsh.rep_codes", "lsh.band_rows_table",
        "lsh.lsh_metrics", "lsh.dup_pairs", "cluster.assign_clusters",
        "dedup.canonical_pick",
    )

    def size_key(self) -> str:
        return f"{self.docs}x{WORDS_8K}/{self.farm_every}"

    def stage(self) -> None:
        table, labels = gen.pages(
            self.seed, self.docs, WORDS_8K, farm_every=self.farm_every
        )
        self.table = table
        self.truth = dict(zip(table.column("url").to_pylist(), labels))
        gen.write_parquet(table, os.path.join(self.inputs, "pages"), 8)
        warm, _ = gen.pages(
            self.seed, WARM_DOCS, WORDS_8K, start=self.docs,
            farm_every=self.farm_every,
        )
        gen.write_parquet(warm, os.path.join(self.inputs, "warm"), 4)

    def _run(self, spark, pages_dir: str, out_dir: str, tr) -> JobResult:
        from iscc_specs_spark.plans.dedup import run_dedup

        pages = spark.read.parquet(pages_dir)
        t0 = time.perf_counter()
        with tr.span("dedup.run_dedup"):
            res = run_dedup(spark, pages, out_dir)
        wall = time.perf_counter() - t0
        stage_ms = {s: res["store"].manifest(s)["wall_ms"] for s in STAGES}
        if tr.enabled:
            with tr.span("dedup.resume"):
                run_dedup(spark, pages, out_dir)
        return JobResult(
            docs=self.docs, wall_s=wall, out_dir=out_dir,
            rows=_rows(res["canonical"]), stage_ms=stage_ms,
        )

    def warm(self, spark, tr) -> None:
        # compute_codes over a small input starts the Python workers and
        # loads the kernel into them; a full pass of the timed path would
        # add a cold run of every stage to the set-up
        from iscc_specs_spark.operators.codegen import compute_codes

        pages = spark.read.parquet(os.path.join(self.inputs, "warm"))
        compute_codes(pages).write.mode("overwrite").format("noop").save()

    def job(self, spark, out_dir: str, tr) -> JobResult:
        return self._run(spark, os.path.join(self.inputs, "pages"), out_dir, tr)

    def __init__(self, seed: int, tmp: str):
        super().__init__(seed, tmp)
        # the traced run's ingest probe
        self.stream = StreamIngest(seed, os.path.join(tmp, "stream"))

    def probe(self, spark, tr) -> dict:
        out = self.probe_kernel(tr, self.table)
        codes = self.probe_codegen(spark, tr, os.path.join(self.inputs, "pages"))
        out.update(self.probe_codes(spark, tr, codes))
        # ingest probe: a stream_ingest micro-batch into an empty state (a
        # history batch first would not fit the run's time limit)
        self.stream.stage()
        res = self.stream.episode(
            spark, os.path.join(self.tmp, "ingest_probe"), tr, history=None
        )
        out.update(self.stream.probe_job(spark, res))
        return out


def _popcount(x: np.ndarray) -> np.ndarray:
    return np.unpackbits(x.view(np.uint8).reshape(-1, 8), axis=1).sum(1)


def dup_clusters(cid, sim, top) -> list[int]:
    """Connected components of the program's dup predicate (CID Hamming
    <= 10, SimHash Hamming <= 3 or equal tophash) over all row pairs: a
    reference clustering of a codes table, one component id per row."""
    cid = np.asarray(cid).astype(np.uint64)
    sim = np.asarray(sim).astype(np.uint64)
    top = np.asarray(top, dtype=object)
    parent = list(range(len(cid)))

    def find(i: int) -> int:
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for i in range(len(cid) - 1):
        dup = (
            (_popcount(cid[i + 1:] ^ cid[i]) <= gen.CID_MAX)
            | (_popcount(sim[i + 1:] ^ sim[i]) <= gen.SIM_MAX)
            | (top[i + 1:] == top[i])
        )
        for j in np.flatnonzero(dup) + i + 1:
            parent[find(int(j))] = find(i)
    return [find(i) for i in range(len(cid))]


class KernelPages(Workload):
    """The kernel's batch functions (``content_text_batch``, ``meta_batch``,
    ``data_instance_batch``) over staged ~8 KB pages, on the driver, in one
    thread: the per-document work each Python worker of the codes stage
    does. No Spark. A job's clusters are the connected components of the
    dup predicate over all pairs of its codes."""

    name = "kernel_pages"
    spark = False
    docs = probe_docs = 300
    min_jobs = 3  # a job takes seconds: the median of three is steadier
    farm_every = BatchWeb.farm_every

    def size_key(self) -> str:
        return f"{self.docs}x{WORDS_8K}/{self.farm_every}"

    def stage(self) -> None:
        table, labels = gen.pages(
            self.seed, self.docs, WORDS_8K, farm_every=self.farm_every
        )
        self.table = table
        self.truth = dict(zip(table.column("url").to_pylist(), labels))
        gen.write_parquet(table, os.path.join(self.inputs, "pages"), 8)

    def _codes(self, table) -> dict:
        from iscc_specs_spark.kernel.batch import (
            content_text_batch,
            data_instance_batch,
            meta_batch,
        )

        htmls = table.column("html").to_pylist()
        text = content_text_batch(table.column("text").to_pylist())
        meta_batch([_title(h) for h in htmls])
        data = data_instance_batch(htmls)
        return {
            "url": table.column("url").to_pylist(),
            "cid_body": text["cid_body"],
            "simhash": text["simhash"],
            "tophash": data["tophash"],
        }

    def warm(self, spark, tr) -> None:
        self._codes(self.table.slice(0, KERNEL_SAMPLE // 8))

    def job(self, spark, out_dir: str, tr) -> JobResult:
        import pyarrow as pa
        import pyarrow.parquet as pq

        table = pq.read_table(os.path.join(self.inputs, "pages"))
        t0 = time.perf_counter()
        codes = self._codes(table)
        wall = time.perf_counter() - t0
        os.makedirs(out_dir)
        pq.write_table(pa.table(codes), os.path.join(out_dir, "codes.parquet"))
        ids = dup_clusters(codes["cid_body"], codes["simhash"], codes["tophash"])
        return JobResult(
            docs=self.docs, wall_s=wall, out_dir=out_dir,
            rows=[(u, str(c)) for u, c in zip(codes["url"], ids)],
        )

    def probe(self, spark, tr) -> dict:
        return self.probe_kernel(tr, self.table)


class ReclusterCodes(Workload):
    """``lsh.dup_pairs`` -> ``cluster.assign_clusters`` ->
    ``dedup.canonical_pick`` over a synthesised codes table, written to
    parquet. No kernel or codegen work."""

    name = "recluster_codes"
    rows = 10_000
    farm = 250  # ~4 x the bucket cap
    operator_spans = (
        "lsh.rep_codes", "lsh.band_rows_table", "lsh.dup_pairs",
        "cluster.assign_clusters", "dedup.canonical_pick",
    )

    def size_key(self) -> str:
        return f"{self.rows}/{self.farm}"

    def stage(self) -> None:
        table, labels, _ = gen.codes(self.seed, self.rows, self.farm)
        self.truth = dict(zip(table.column("url").to_pylist(), labels))
        gen.write_parquet(table, os.path.join(self.inputs, "codes"), 8)
        warm, _, _ = gen.codes(self.seed + 1, 1000, 2 * BUCKET_CAP)
        gen.write_parquet(warm, os.path.join(self.inputs, "warm"), 4)

    def _run(self, spark, codes_dir: str, docs: int, out_dir: str, tr) -> JobResult:
        from iscc_specs_spark.operators import lsh
        from iscc_specs_spark.operators.cluster import assign_clusters
        from iscc_specs_spark.plans.dedup import canonical_pick

        codes = spark.read.parquet(codes_dir)
        pairs_dir = os.path.join(out_dir, "dup_pairs")
        canon_dir = os.path.join(out_dir, "canonical")
        t0 = time.perf_counter()
        with tr.span("lsh.dup_pairs"):
            lsh.dup_pairs(codes, bucket_cap=BUCKET_CAP).write.parquet(pairs_dir)
        with tr.span("cluster.assign_clusters"):
            clusters = assign_clusters(
                codes.select("url"), spark.read.parquet(pairs_dir)
            )
        with tr.span("dedup.canonical_pick"):
            canonical_pick(codes, clusters).write.parquet(canon_dir)
        t2 = time.perf_counter()
        return JobResult(
            docs=docs, wall_s=t2 - t0, out_dir=out_dir,
            rows=_rows(spark.read.parquet(canon_dir)),
        )

    def warm(self, spark, tr) -> None:
        # the first operator of the timed path, over a small input: a full
        # pass would add a cold run of every operator to the set-up
        from iscc_specs_spark.operators import lsh

        codes = spark.read.parquet(os.path.join(self.inputs, "warm"))
        lsh.rep_codes(codes).write.mode("overwrite").format("noop").save()

    def job(self, spark, out_dir: str, tr) -> JobResult:
        return self._run(
            spark, os.path.join(self.inputs, "codes"), self.rows, out_dir, tr
        )

    def probe(self, spark, tr) -> dict:
        codes = self.read_codes(spark, os.path.join(self.inputs, "codes"))
        return self.probe_codes(spark, tr, codes)


class StreamIngest(Workload):
    """``streaming.ingest.process_dedup_batch`` over micro-batches of a
    synthesised codes table (the function's input), then one
    ``curate_state``. Set-up ingests micro-batches ``0 .. batches-2`` into a
    history state; a job ingests the last one into its own copy of that
    state. There is no kernel or codegen work: ``compute_codes`` would add
    the Python workers' start-up to every run's set-up."""

    name = "stream_ingest"
    batches = 2
    batch_docs = 250
    farm = 20

    def size_key(self) -> str:
        return f"{self.batches}x{self.batch_docs}/{self.farm}"

    def _batch_dir(self, i: int) -> str:
        return os.path.join(self.inputs, f"batch-{i}")

    def stage(self) -> None:
        n = self.batch_docs
        table, labels, _ = gen.codes(self.seed, n * self.batches, self.farm)
        # seeded row order: planted groups span micro-batches, so the
        # history probe finds cross-batch duplicates
        order = np.random.default_rng([self.seed, 5]).permutation(table.num_rows)
        table = table.take(order)
        self.truth = dict(
            zip(table.column("url").to_pylist(), (labels[i] for i in order))
        )
        for i in range(self.batches):
            gen.write_parquet(table.slice(i * n, n), self._batch_dir(i), 4)
        # the batch that would come next: its key prefixes measure the
        # band-index probe over the final state
        nxt, _, _ = gen.codes(self.seed + 1, n, self.farm)
        gen.write_parquet(nxt, self._batch_dir(self.batches), 4)

    def _ingest(self, spark, state: str, i: int, tr) -> float:
        from iscc_specs_spark.streaming.ingest import process_dedup_batch

        codes = spark.read.parquet(self._batch_dir(i))
        t0 = time.perf_counter()
        with tr.span("ingest.process_dedup_batch"):
            process_dedup_batch(codes, i, state)
        return time.perf_counter() - t0

    def warm(self, spark, tr) -> None:
        # the history batches are the warm-up: they run the timed path
        # on the first, empty-state micro-batch. Their ingest spans stay
        # out of the trace, which keeps ingest.* to the timed batch
        self.history = os.path.join(self.tmp, "history")
        off = Tracer(tr.run_id, enabled=False)
        for i in range(self.batches - 1):
            self._ingest(spark, self.history, i, off)

    def job(self, spark, out_dir: str, tr) -> JobResult:
        return self.episode(spark, out_dir, tr, self.history)

    def episode(self, spark, out_dir: str, tr, history: str | None) -> JobResult:
        """The last micro-batch into a copy of ``history``, or the first
        into an empty state; then one ``curate_state``."""
        from iscc_specs_spark.streaming.ingest import curate_state

        state = os.path.join(out_dir, "state")
        canon_dir = os.path.join(out_dir, "canonical")
        if history:
            shutil.copytree(history, state)
        i = self.batches - 1 if history else 0
        lat = self._ingest(spark, state, i, tr)
        with tr.span("ingest.curate_state"):
            curate_state(spark, state).write.parquet(canon_dir)
        return JobResult(
            docs=self.batch_docs, wall_s=lat, out_dir=state,
            rows=_rows(spark.read.parquet(canon_dir)),
        )

    def probe(self, spark, tr) -> dict:
        ingested = [self._batch_dir(i) for i in range(self.batches)]
        return self.probe_codes(spark, tr, self.read_codes(spark, *ingested))

    def probe_job(self, spark, res: JobResult) -> dict:
        """Counts over the state dir a traced job left behind."""
        from iscc_specs_spark.operators import lsh
        from iscc_specs_spark.streaming.ingest import read_band_index, read_dup_flags

        nxt = spark.read.parquet(self._batch_dir(self.batches))
        keys = lsh.minhash_bands(nxt).union(lsh.simhash_bands(nxt))
        pfx = [r[0] for r in keys.select(lsh.band_pfx().alias("p")).distinct().collect()]
        probe = read_band_index(spark, res.out_dir, self.batches, pfx)
        return {
            "ingest.flags_out": read_dup_flags(spark, res.out_dir).count(),
            "ingest.index_files": parquet_files(os.path.join(res.out_dir, "bands")),
            "ingest.probe_files": len(probe.inputFiles()) if probe is not None else 0,
        }


WORKLOADS = {
    w.name: w for w in (BatchWeb, KernelPages, ReclusterCodes, StreamIngest)
}
