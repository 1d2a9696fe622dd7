"""Benchmark runner for the iscc_specs_spark near-duplicate pipeline.

    python3 perfbench/run.py --workload batch_web --seed 1 --seconds 1 --trace 0

Run from the repository root. Set-up synthesises the workload's inputs from
``--seed``, stages them as parquet, starts the Spark session and warms the
timed path on a small input; then jobs run closed loop (one client) until
``--seconds`` have passed, at least one job. Every job's output is checked
against the planted truth. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).

Scratch data lives under ``.perfbench_tmp/`` (removed at exit), traces and
output digests under ``.perfbench_out/``, both in the working directory.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
from collections import Counter

from spans import Tracer, event_log_conf
from workloads import WORKLOADS, tree_size

MIN_RECALL = 0.99
MIN_PRECISION = 0.99
SHUFFLE_PARTITIONS = 8
SETUP_REPS = 5
DRIVER_MEM = "2g"

END_TO_END = {
    "setup_s": "s",
    "cpu_ms_per_doc": "ms",
    "state_bytes_per_doc": "B/doc",
}

PER_LAYER = {
    "job.docs_per_s": "docs/s",
    "kernel.content_text_batch.ms_per_doc": "ms",
    "kernel.meta_batch.ms_per_doc": "ms",
    "kernel.data_instance_batch.ms_per_doc": "ms",
    "kernel.fast_path_share": "ratio",
    "codegen.compute_codes.s": "s",
    "codegen.task_s": "s",
    "codegen.overhead_ratio": "ratio",
    "dedup.stage.codes.wall_ms": "ms",
    "dedup.stage.bands.wall_ms": "ms",
    "dedup.stage.dup_pairs.wall_ms": "ms",
    "dedup.stage.clusters.wall_ms": "ms",
    "dedup.stage.canonical.wall_ms": "ms",
    "dedup.materialize_s": "s",
    "dedup.resume.s": "s",
    "dedup.canonical_pick.s": "s",
    "storage.files_written": "count",
    "storage.bytes_written": "B",
    "lsh.rep_codes.s": "s",
    "lsh.rep_rows": "count",
    "lsh.band_rows_table.s": "s",
    "lsh.band_rows": "count",
    "lsh.max_bucket": "count",
    "lsh.capped_buckets": "count",
    "lsh.rows_in_capped": "count",
    "lsh.dup_pairs.s": "s",
    "lsh.pairs_out": "count",
    "lsh.hub_edges": "count",
    "lsh.hub_yield": "ratio",
    "lsh.shuffle_bytes": "B",
    "lsh.spill_bytes": "B",
    "cluster.assign_clusters.s": "s",
    "cluster.edges_in": "count",
    "cluster.spark_jobs": "count",
    "cluster.shuffle_bytes": "B",
    "cluster.max_cluster": "count",
    "ingest.process_dedup_batch.s": "s",
    "ingest.flags_out": "count",
    "ingest.index_files": "count",
    "ingest.probe_files": "count",
    "ingest.curate_state.s": "s",
    "session.get_spark.s": "s",
    "session.peak_rss_mb": "MB",
    "quality.pair_recall": "ratio",
    "quality.pair_precision": "ratio",
    "trace.overhead_ratio": "ratio",
}


def descendants() -> set[int]:
    """Pids of every process below this one, from /proc."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        parent[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree: set[int] = set()
    frontier = [os.getpid()]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    return tree


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process and its descendants,
    including exited children they have reaped (the Python workers). Time
    the hypervisor steals from the VM is not charged to a process."""
    total = 0
    for p in descendants() | {os.getpid()}:
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM and the Python workers it
    forked have exited. Safe to call twice."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    if proc.poll() is not None:
        return
    kids = descendants()
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # PySpark's JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    while True:
        alive = {p for p in kids if os.path.exists(f"/proc/{p}")}
        if not alive or time.monotonic() > deadline:
            break
        time.sleep(0.2)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    JVM and its Python workers), polled from /proc."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        total = 0
        for p in descendants() | {os.getpid()}:
            try:
                with open(f"/proc/{p}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                continue
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self._tree_rss())
            self._stop.wait(self.interval)


    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def check(rows: list[tuple[str, str]], truth: dict[str, str]) -> dict:
    """Pair recall/precision against the planted truth, counted from the
    (cluster, truth label) contingency table, plus a digest of the sorted
    (url, cluster_id) rows."""

    def pairs(counts: Counter) -> int:
        return sum(n * (n - 1) // 2 for n in counts.values())

    urls = [u for u, _ in rows]
    complete = len(urls) == len(truth) and set(urls) == truth.keys()
    matched = pairs(Counter((c, truth.get(u)) for u, c in rows))
    truth_p = pairs(Counter(truth.get(u) for u in urls))
    pred_p = pairs(Counter(c for _, c in rows))
    digest = hashlib.sha256(
        "\n".join(sorted(f"{u}\t{c}" for u, c in rows)).encode()
    ).hexdigest()
    recall = matched / truth_p if truth_p else 1.0
    precision = matched / pred_p if pred_p else 1.0
    return {
        "complete": complete,
        "recall": recall,
        "precision": precision,
        "digest": digest,
        "ok": complete and recall >= MIN_RECALL and precision >= MIN_PRECISION,
    }


def program_hash(root: str) -> str:
    h = hashlib.sha256()
    pkg = os.path.join(root, "iscc_specs_spark")
    for d, _, names in sorted(os.walk(pkg)):
        for n in sorted(names):
            if n.endswith(".py"):
                with open(os.path.join(d, n), "rb") as f:
                    h.update(n.encode() + f.read())
    return h.hexdigest()[:16]


def same_seed_digest(path: str, key: str, digest: str) -> bool:
    """Record this run's output digest under ``key`` (workload, seed, size,
    program); False if an earlier run with the same key disagreed."""
    known = {}
    if os.path.exists(path):
        with open(path) as f:
            known = json.load(f)
    if known.setdefault(key, digest) != digest:
        return False
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(known, f, indent=1, sort_keys=True)
    os.replace(tmp, path)
    return True


def host_env(spark) -> dict:
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {
        "nproc": os.cpu_count(),
        "mem_total_mb": mem_kb // 1024,
        "loadavg": load,
        "java": spark._jvm.java.lang.System.getProperty("java.version")
        if spark is not None
        else None,
        "pyspark": pyspark.__version__,
        "python": sys.version.split()[0],
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    sys.path.insert(0, root)
    try:
        import iscc_specs_spark  # the program under test
    except ImportError as e:
        print(f"program not found under {root}: {e}", file=sys.stderr)
        return 2
    if not iscc_specs_spark.__file__.startswith(root + os.sep):
        print(f"program imported from outside {root}", file=sys.stderr)
        return 2

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    tmp = os.path.join(root, ".perfbench_tmp", run_id)
    out_root = os.path.join(root, ".perfbench_out")
    os.makedirs(out_root, exist_ok=True)
    shutil.rmtree(tmp, ignore_errors=True)
    for d in ("local", "py", "java"):
        os.makedirs(os.path.join(tmp, d))
    # scratch of Spark, the JVM and Python workers stays in the temp area
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["TMPDIR"] = os.path.join(tmp, "py")
    # the host is shared: cap the driver heap (get_spark's default is 8g,
    # which an idle G1 heap grows into under the many small jobs here)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "")
        + f" -Djava.io.tmpdir={os.path.join(tmp, 'java')}"
    ).strip()
    try:
        line = run(args, root, tmp, out_root, run_id, WORKLOADS[args.workload])
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if line is None:
        return 1
    print(line, flush=True)  # last stdout line, after the JVM has exited
    return 0


def run(args, root, tmp, out_root, run_id, workload_cls) -> str | None:
    """Set up, measure and check one run; the result line, or None if no
    job completed. The Spark session is stopped before this returns."""
    from iscc_specs_spark.session import get_spark

    traced = bool(args.trace)
    tr = Tracer(run_id, enabled=traced)
    off = Tracer(run_id, enabled=False)
    wl = workload_cls(args.seed, tmp)
    log_dir = os.path.join(tmp, "events")
    conf = {
        "spark.local.dir": os.path.join(tmp, "local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        conf.update(event_log_conf(log_dir))
    cores = min(4, os.cpu_count() or 1)

    spark = None
    try:
        # a Spark session starts once per process; a Spark-free set-up is
        # cheap enough to repeat, and the median of several is steadier
        setups = []
        for _ in range(1 if wl.spark else SETUP_REPS):
            t0 = time.perf_counter()
            with tr.span("setup"):
                with tr.span("setup.stage_inputs"):
                    wl.stage()
                if wl.spark:
                    with tr.span("session.get_spark"):
                        spark = get_spark(
                            "perfbench", cores=cores,
                            shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf,
                        )
                    tr.sc = spark.sparkContext
                with tr.span("setup.warm_up"):
                    wl.warm(spark, off)
            setups.append(time.perf_counter() - t0)
        setup_s = statistics.median(setups)
        env = host_env(spark)
        env.update(
            cores=cores, shuffle_partitions=SHUFFLE_PARTITIONS, driver_mem=DRIVER_MEM
        )
        print("env " + json.dumps(env), flush=True)

        results, checks, failed = [], [], 0
        t_start = time.perf_counter()
        # memory is a per-layer metric: sample only in the traced run
        with RssSampler() if traced else contextlib.nullcontext() as rss:
            n = 0
            while n < wl.min_jobs or time.perf_counter() - t_start < args.seconds:
                cpu0 = tree_cpu_s()
                try:
                    with tr.span("job"):
                        res = wl.job(spark, os.path.join(tmp, f"job{n}"), tr)
                    res.cpu_s = tree_cpu_s() - cpu0
                except Exception:
                    traceback.print_exc()
                    failed += 1
                else:
                    c = check(res.rows, wl.truth)
                    res.rows = []
                    if not c["ok"]:
                        failed += 1
                    results.append(res)
                    checks.append(c)
                n += 1
        if not results:
            print("no job completed", file=sys.stderr)
            return None

        digests = {c["digest"] for c in checks}
        key = ":".join(
            (wl.name, str(args.seed), wl.size_key(), program_hash(root))
        )
        same = len(digests) == 1 and same_seed_digest(
            os.path.join(out_root, "digests.json"), key, checks[0]["digest"]
        )
        correct = failed == 0 and same and all(c["ok"] for c in checks)
        recall = min(c["recall"] for c in checks)
        precision = min(c["precision"] for c in checks)
        print(
            f"correctness: jobs={n} failed={failed} recall>={recall:.5f}"
            f" precision>={precision:.5f} same_digest={same}"
            f" digest={checks[0]['digest'][:16]}",
            flush=True,
        )

        if not traced:
            metrics = end_to_end(results, setup_s, len(wl.truth))
        else:
            metrics = per_layer(spark, wl, tr, results, log_dir)
            metrics["session.peak_rss_mb"] = rss.peak / 2**20
            metrics["quality.pair_recall"] = recall
            metrics["quality.pair_precision"] = precision
            path = os.path.join(out_root, f"trace-{run_id}.json")
            tr.dump(path)
            print(tr.table())
            print(f"spans written to {os.path.relpath(path, root)}")
        units = END_TO_END if not traced else PER_LAYER
        for k, u in units.items():
            print(f"{k:40} {metrics[k]:>16.6g} {u}")
        return json.dumps(
            {
                "correct": correct,
                "attempted": n,
                "failed": failed,
                "metrics": {
                    k: {"value": metrics[k], "unit": u} for k, u in units.items()
                },
            }
        )
    finally:
        if spark is not None:
            stop_spark(spark)


def end_to_end(jobs, setup_s: float, stored_docs: int) -> dict:
    """``stored_docs``: the documents a job's output holds (stream: the
    history's and the timed micro-batch's)."""
    docs = jobs[0].docs
    sizes = [tree_size(r.out_dir)[0] for r in jobs]
    return {
        "setup_s": setup_s,
        "cpu_ms_per_doc": statistics.median(r.cpu_s for r in jobs) * 1000 / docs,
        "state_bytes_per_doc": statistics.median(sizes) / stored_docs,
    }


def trace_overhead(spark, wl, tr, reps: int = 3) -> float:
    """Median wall of the warm-up path traced ÷ untraced, alternating,
    after one untimed pass."""
    off = Tracer(tr.run_id, enabled=False)
    wl.warm(spark, off)
    walls = {True: [], False: []}
    for _ in range(reps):
        for t in (off, tr):
            t0 = time.perf_counter()
            with t.span("trace.warm_up"):
                wl.warm(spark, t)
            walls[t.enabled].append(time.perf_counter() - t0)
    return statistics.median(walls[True]) / statistics.median(walls[False])


def per_layer(spark, wl, tr, jobs, log_dir) -> dict:
    m = dict.fromkeys(PER_LAYER, 0.0)
    m["trace.overhead_ratio"] = trace_overhead(spark, wl, tr)
    first = len(tr.spans)  # layer metrics come from the probe's spans
    m.update(wl.probe(spark, tr))
    last = jobs[-1]
    m.update(wl.probe_job(spark, last))
    m["storage.bytes_written"], m["storage.files_written"] = tree_size(last.out_dir)
    for s, ms in last.stage_ms.items():
        m[f"dedup.stage.{s}.wall_ms"] = ms
    tr.self_times()
    if spark is not None:
        stop_spark(spark)  # flushes the event log
    tr.attribute(log_dir)

    def med(name: str, since: int) -> float:
        d = tr.durations(name, since)
        return statistics.median(d) if d else 0.0

    for name in (
        "codegen.compute_codes", "dedup.canonical_pick", "lsh.rep_codes",
        "lsh.band_rows_table", "lsh.dup_pairs", "cluster.assign_clusters",
    ):
        m[f"{name}.s"] = med(name, first)
    # spans of the timed jobs and of set-up
    for name in (
        "dedup.resume", "ingest.process_dedup_batch", "ingest.curate_state",
        "session.get_spark",
    ):
        m[f"{name}.s"] = med(name, 0)
    if wl.operator_spans:
        m["dedup.materialize_s"] = last.wall_s - sum(
            tr.total(s, "dur_s", first) for s in wl.operator_spans
        )
    m["codegen.task_s"] = tr.total("codegen.compute_codes", "task_s", first)
    kernel_ms = sum(
        m[f"kernel.{k}.ms_per_doc"]
        for k in ("content_text_batch", "meta_batch", "data_instance_batch")
    )
    if kernel_ms:
        m["codegen.overhead_ratio"] = m["codegen.task_s"] / (
            wl.probe_docs * kernel_ms / 1000
        )
    lsh_spans = ("lsh.rep_codes", "lsh.band_rows_table", "lsh.dup_pairs")
    for metric, field in (("shuffle_bytes", "shuffle_write_b"), ("spill_bytes", "spill_b")):
        m[f"lsh.{metric}"] = sum(tr.total(s, field, first) for s in lsh_spans)
    for metric, field in (("spark_jobs", "jobs"), ("shuffle_bytes", "shuffle_write_b")):
        m[f"cluster.{metric}"] = tr.total("cluster.assign_clusters", field, first)
    m["job.docs_per_s"] = jobs[0].docs / statistics.median(r.wall_s for r in jobs)
    return m


if __name__ == "__main__":
    sys.exit(main())
