"""SparkSession builder tuned for this engine.

Local-mode defaults mirror what the same job would use cluster-side:
AQE on (runtime skew-join splitting + partition coalescing), Arrow enabled
for all pandas-UDF traffic, shuffle partitions sized to cores (not the
200 default), UTC session timezone so DuckDB-oracle comparisons are stable.
"""

from __future__ import annotations

import os

from pyspark import SparkConf
from pyspark.sql import SparkSession

#: Arrow batch size for mapInPandas stages. Documents are heavy rows
#: (a mega-doc can carry hundreds of spans), so the batch must bound
#: Python-worker memory while amortizing Arrow IPC overhead — the Spark
#: analog of readur's 1000-file ingest batches
#: (/root/reference/src/ingestion/batch_ingest.rs:41). 1024 × ~3 KB docs
#: ≈ 3 MB per in-flight batch per worker.
ARROW_MAX_RECORDS_PER_BATCH = 1024

#: JIT code cache sized for LONG sessions: every query compiles fresh
#: whole-stage-codegen classes, and at the JVM's default ~240 MB reserved
#: code cache a multi-query session exhausts it mid-run — the JIT then
#: stops compiling and later queries run partly interpreted (measured: the
#: same warm query 2.2× slower late in a 40-query session, no spill, flat
#: GC; 2.6× recovered with the larger cache). Scale-independent JVM
#: sizing, applied to executors too for cluster parity.
CODE_CACHE_FLAG = "-XX:ReservedCodeCacheSize=1g"


def _java_options(current: SparkConf, extra_conf: dict) -> dict:
    """``spark.{driver,executor}.extraJavaOptions`` with
    ``CODE_CACHE_FLAG`` appended to the value the caller's ``extra_conf``
    or the deployment's ``SparkConf`` already holds, unless that value
    sizes the code cache itself."""
    out = {}
    for key in ("spark.driver.extraJavaOptions", "spark.executor.extraJavaOptions"):
        options = (extra_conf.get(key) or current.get(key) or "").strip()
        if "ReservedCodeCacheSize" not in options:
            options = f"{options} {CODE_CACHE_FLAG}".strip()
        out[key] = options
    return out


def get_spark(
    cores: int | str | None = None,
    app_name: str = "readur_spark",
    extra_conf: dict | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession.

    ``cores``: int for ``local[N]``, "*" for all, None to honor
    ``SPARK_GRAFT_CPUS`` (driver contract) then fall back to "*".
    Shuffle partitions are ``max(2 × cores, 8)``.

    The JVM's ``extraJavaOptions`` keep what the deployment set and gain
    ``CODE_CACHE_FLAG`` (``_java_options``). The driver's flag takes effect
    only when this call starts the JVM; a driver JVM that is already
    running (``spark-submit`` client mode, an existing session) keeps the
    options it was started with.
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cores}]"
    try:
        n_cores = int(cores)
    except (TypeError, ValueError):
        n_cores = os.cpu_count() or 8

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(2 * n_cores, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_MAX_RECORDS_PER_BATCH),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    extra_conf = dict(extra_conf or {})
    extra_conf.update(_java_options(SparkConf(), extra_conf))
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
