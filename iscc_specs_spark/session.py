"""SparkSession factory with scale-oriented defaults.

local[N] in this sandbox; on a real cluster the same confs apply (AQE,
Arrow batching, shuffle partition sizing).  PYTHONPATH is propagated to
Python workers so pandas UDFs can import the kernel.
"""

from __future__ import annotations

import logging
import os

from pyspark import SparkContext
from pyspark.sql import SparkSession

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
log = logging.getLogger(__name__)


def get_spark(
    app: str = "iscc_specs_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(2 * cores, 32)
    jvm_opts = os.environ.get("SPARK_GRAFT_JVM_OPTS", "-XX:-DontCompileHugeMethods")
    os.environ["PYTHONPATH"] = (
        REPO_ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    )
    builder = (
        SparkSession.builder.appName(app)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # html BINARY columns: keep Arrow batches bounded (~1k rows * few KB).
        # SPARK_GRAFT_ARROW_BATCH tunes burst size per Python channel: this
        # sandbox's kernel collapsed loopback receive windows under 32
        # concurrent channels x 16 MB bursts (BENCH.md, 6M-point note) —
        # smaller batches drain the socket more often and shrink the burst
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            os.environ.get("SPARK_GRAFT_ARROW_BATCH", "2048"),
        )
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # wide whole-stage-codegen methods (e.g. the unrolled 64-term dot
        # products in operators/ann.py & dedup_variants.py) exceed
        # HotSpot's 8000-bytecode DontCompileHugeMethods threshold and
        # would otherwise run in the bytecode interpreter — measured 10×
        # slower than JIT'd on the cosine paths. Scale-independent JVM
        # tuning (standard recommendation for wide generated code); set on
        # both roles so a real cluster's executors JIT the same methods.
        .config("spark.driver.extraJavaOptions", jvm_opts)
        .config("spark.executor.extraJavaOptions", jvm_opts)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.executorEnv.PYTHONPATH", REPO_ROOT)
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    # JVM options only apply when the JVM starts: a JVM this process already
    # runs keeps its own, and the session's confs cannot change that
    jvm_up = SparkContext._gateway is not None
    spark = builder.getOrCreate()
    if jvm_up:
        running = set(
            spark.sparkContext._jvm.java.lang.management.ManagementFactory
            .getRuntimeMXBean().getInputArguments()
        )
        dropped = [o for o in jvm_opts.split() if o not in running]
        if dropped:
            log.warning(
                "get_spark attached to a JVM that was already running; its "
                "launch options stay in force and %s is dropped (start "
                "the process's first session with get_spark)",
                " ".join(dropped),
            )
    return spark
