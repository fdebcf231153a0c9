"""The one partition-count decision: does this input already have enough
partitions for the per-row work that follows, or does it need a shuffle?

Spark has already planned the input's scans, so their split count is read
from the physical plan (``queryExecution().sparkPlan()``): the ``inputRDD``
partitions of each scan leaf are the splits the scan will run as tasks.
That is the byte-bounded, bin-packed file splits of a ``FileSourceScanExec``
(DSv1), and the input partitions of a ``BatchScanExec`` (DSv2: Iceberg, or
file sources left out of ``spark.sql.sources.useV1SourceList``). Reading
them plans the query but runs no Spark job. Asking the DataFrame's RDD for
its partition count gives the same number, but under AQE it resolves the
final plan and can execute whole upstream query stages.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame

_SCAN_LEAVES = ("FileSourceScanExec", "BatchScanExec")


def ensure_partitions(
    df: DataFrame, num_partitions: int | None = None, *cols: Column
) -> DataFrame:
    """``df.repartition(num_partitions, *cols)`` when the narrowest scan in
    ``df``'s plan yields fewer than ``num_partitions`` splits, else ``df``.
    ``num_partitions`` defaults to the session's ``defaultParallelism``.

    A plan with no scan leaf is returned as it is: cached,
    checkpointed and in-memory inputs are already planned. A shuffle above
    the scan is not counted; the scan's splits decide."""
    if num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism
    leaves = df._jdf.queryExecution().sparkPlan().collectLeaves()
    splits = [
        len(leaf.inputRDD().partitions())
        for leaf in (leaves.apply(i) for i in range(leaves.length()))
        if leaf.getClass().getSimpleName() in _SCAN_LEAVES
    ]
    if splits and min(splits) < num_partitions:
        return df.repartition(num_partitions, *cols)
    return df
