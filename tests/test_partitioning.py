"""The one partition-count decision (``operators.partitioning``).

``df.rdd.getNumPartitions()`` is the reference here, in the tests only: the
decision must repartition exactly when that count is below the target,
while reading it from the planned file scans without running a job.
"""

import ast
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from readur_spark.operators.dedup import winnow_fingerprints
from readur_spark.operators.extract import plan_partitions
from readur_spark.operators.partitioning import ensure_partitions

OPERATORS = Path(__file__).resolve().parents[1] / "readur_spark" / "operators"


@pytest.fixture(scope="module")
def one_file(spark, tmp_path_factory):
    """One ~700 KB parquet file of (doc_id, text): one split by default."""
    path = str(tmp_path_factory.mktemp("one_file") / "docs")
    spark.range(20_000).select(
        F.col("id").cast("string").alias("doc_id"),
        F.sha2(F.col("id").cast("string"), 256).alias("text"),
    ).coalesce(1).write.parquet(path)
    return path


def _agrees_with_rdd(df):
    n = df.rdd.getNumPartitions()
    assert ensure_partitions(df, n) is df
    assert ensure_partitions(df, n + 1).rdd.getNumPartitions() == n + 1
    return n


def test_one_file_scan_repartitions(spark, one_file):
    docs = spark.read.parquet(one_file)
    assert _agrees_with_rdd(docs) == 1
    planned = plan_partitions(docs, 4)
    assert planned is not docs
    assert planned.rdd.getNumPartitions() == 4


def test_many_tiny_files(spark, tmp_path):
    path = str(tmp_path / "tiny")
    spark.range(64).repartition(64).write.parquet(path)
    _agrees_with_rdd(spark.read.parquet(path))


def test_broadcast_left_semi_join(spark, one_file):
    docs = spark.read.parquet(one_file)
    wanted = F.broadcast(docs.select("doc_id").filter(F.col("doc_id").endswith("7")))
    assert _agrees_with_rdd(docs.join(wanted, "doc_id", "left_semi")) == 1


def test_one_split_dsv2_scan_repartitions(spark, one_file):
    """With parquet read through DSv2 (as Iceberg tables plan), the leaf is
    a ``BatchScanExec``; its one split is still counted, without a job."""
    key = "spark.sql.sources.useV1SourceList"
    prev = spark.conf.get(key)
    spark.conf.set(key, "")
    try:
        docs = spark.read.parquet(one_file)
        leaves = docs._jdf.queryExecution().sparkPlan().collectLeaves()
        assert leaves.apply(0).getClass().getSimpleName() == "BatchScanExec"
        tracker = spark.sparkContext.statusTracker()
        before = set(tracker.getJobIdsForGroup(None))
        planned = ensure_partitions(docs, 8)
        assert set(tracker.getJobIdsForGroup(None)) == before
        assert planned is not docs
        assert planned.rdd.getNumPartitions() == 8
    finally:
        spark.conf.set(key, prev)


def test_cached_input_is_untouched(spark, one_file):
    docs = spark.read.parquet(one_file).cache()
    try:
        docs.count()
        assert ensure_partitions(docs, 1000) is docs
        assert plan_partitions(docs, 1000) is docs
    finally:
        docs.unpersist()


def test_small_max_partition_bytes_adds_no_repartition(spark, one_file):
    """A "64k" split size splits the one file many ways; the dedup operators
    keep those splits instead of shuffling to defaultParallelism."""
    spark.conf.set("spark.sql.files.maxPartitionBytes", "64k")
    try:
        docs = spark.read.parquet(one_file)
        n = docs.rdd.getNumPartitions()
        assert n > spark.sparkContext.defaultParallelism
        assert winnow_fingerprints(docs).rdd.getNumPartitions() == n
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")


def test_decision_starts_no_job(spark, one_file):
    shuffled = spark.read.parquet(one_file).repartition(8)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    plan_partitions(shuffled, 8)
    assert set(tracker.getJobIdsForGroup(None)) == before


def test_operators_never_touch_rdd():
    """Resolving ``.rdd`` plans under AQE and can run upstream stages; the
    operators read partitioning through ``ensure_partitions`` instead."""
    hits = [
        f"{path.name}:{node.lineno}"
        for path in sorted(OPERATORS.glob("*.py"))
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Attribute) and node.attr == "rdd"
    ]
    assert hits == []
