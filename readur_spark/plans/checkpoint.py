"""Partition-granular checkpoint / lineage table.

readur's work queue (`ocr_queue`, /root/reference/migrations/
20250620100001_add_ocr_queue.sql:2-17) tracks per-item claim/attempt/
completion state so crashed runs resume and finished work is never redone.
In Spark's batch model the natural work unit is the **partition**, so the
checkpoint table holds one row per (run_id, partition_id):

    checkpoint(run_id, partition_id, status, attempts, started_at,
               completed_at, docs_processed, docs_failed,
               processing_time_ms, worker_id, error_message)

Semantics mirrored from the reference:

* claim = the act of a task starting a partition (Spark's scheduler is the
  SKIP LOCKED dequeue, src/ocr/queue.rs:182-196);
* resume = rerun filtered to partitions without a ``completed`` row
  (retry_failed, queue.rs:1064-1168);
* first-writer-wins commit = completed rows are never overwritten
  (db_guardrails_simple.rs:97 ``ocr_status != 'completed'`` guard).

Storage is a parquet directory written append-only, one file per append.
The driver writes each append's rows as one parquet file through the
job's Hadoop FileSystem (a hidden temp file, then a rename), so an append
starts no Spark job. ``table_format="iceberg"`` keeps the same table on a
catalog instead: each append is a ``writeTo`` snapshot commit. Semantics
are the same on both legs because reads always reduce to the
latest-completed row.
"""

from __future__ import annotations

import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from readur_spark.sources.table_format import hadoop_fs, literal_path

CHECKPOINT_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("attempts", T.IntegerType(), False),
        T.StructField("started_at", T.TimestampType(), True),
        T.StructField("completed_at", T.TimestampType(), True),
        T.StructField("docs_processed", T.LongType(), True),
        T.StructField("docs_failed", T.LongType(), True),
        T.StructField("processing_time_ms", T.LongType(), True),
        T.StructField("worker_id", T.StringType(), True),
        T.StructField("error_message", T.StringType(), True),
    ]
)


class CheckpointTable:
    """``table_format="parquet"`` (default): ``path`` is a directory and
    commits are the rename-based protocol below — the tested fallback in
    this container. ``table_format="iceberg"``: ``path`` is a catalog
    table identifier; appends are snapshot commits, cleanup is a
    metadata-only DELETE, and the rename recovery machinery is inert
    (Iceberg's own commit protocol owns atomicity). The parquet leg
    reaches storage only through ``table_format.hadoop_fs``, so a
    ``file://``, ``hdfs://`` or ``s3a://`` path resumes like a plain one."""

    def __init__(self, spark: SparkSession, path: str, table_format: str = "parquet"):
        from readur_spark.sources.table_format import resolve_format

        self.spark = spark
        self.path = path
        self.table_format = resolve_format(spark, table_format)

    def _recover(self) -> None:
        """Crash recovery for the two-rename compaction commit in
        ``cleanup_completed``. Invariants: a ``.old-*`` sibling means the
        pre-compaction table was moved aside; if the main path is missing
        the crash hit between the renames → restore the old table (the
        compaction simply didn't happen). A ``.compact-*`` sibling is a
        write that never committed → drop it. If the main path exists, any
        ``.old-*`` leftovers are already-superseded tables → drop them.
        Siblings are matched by name prefix, not by glob: the path may
        itself hold glob metacharacters."""
        fs, main = hadoop_fs(self.spark, self.path)
        parent, base = main.getParent(), main.getName()
        if not fs.exists(parent):
            return
        main_exists = fs.exists(main)
        for st in fs.listStatus(parent):
            sib = st.getPath()
            name = sib.getName()
            if not name.startswith(base + "."):
                continue
            if name.startswith(base + ".old-") and not main_exists:
                _rename(fs, sib, main)
                main_exists = True
            else:
                fs.delete(sib, True)

    def exists(self) -> bool:
        if self.table_format == "iceberg":
            return self.spark.catalog.tableExists(self.path)
        self._recover()
        fs, main = hadoop_fs(self.spark, self.path)
        return fs.exists(main) and any(
            st.getPath().getName().endswith(".parquet")
            for st in fs.listStatus(main)
        )

    def read(self) -> DataFrame:
        if not self.exists():
            return self.spark.createDataFrame([], CHECKPOINT_SCHEMA)
        if self.table_format == "iceberg":
            return self.spark.read.table(self.path)
        return self.spark.read.schema(CHECKPOINT_SCHEMA).parquet(
            literal_path(self.path)
        )

    def append(self, rows: list[dict]) -> None:
        """One commit of ``rows``: one parquet file, or one Iceberg
        snapshot."""
        rows = [_checkpoint_row(r) for r in rows]
        if self.table_format == "iceberg":
            df = self.spark.createDataFrame(rows, CHECKPOINT_SCHEMA)
            if self.exists():
                df.writeTo(self.path).append()
            else:
                df.writeTo(self.path).create()
            return
        self._recover()
        fs, main = hadoop_fs(self.spark, self.path)
        _write_file(self.spark, fs, main, rows)

    def completed_partitions(self) -> set[int]:
        """Partitions with a completed row in ANY run — first-writer-wins,
        so a resume never reprocesses them."""
        if not self.exists():
            return set()
        rows = (
            self.read()
            .filter(F.col("status") == "completed")
            .select("partition_id")
            .distinct()
            .collect()
        )
        return {r["partition_id"] for r in rows}

    def attempts_so_far(self) -> dict[int, int]:
        if not self.exists():
            return {}
        rows = (
            self.read()
            .groupBy("partition_id")
            .agg(F.max("attempts").alias("a"))
            .collect()
        )
        return {r["partition_id"]: r["a"] for r in rows}

    def cleanup_completed(self, days_to_keep: int) -> int:
        """Q8: drop completed checkpoint rows older than the retention
        horizon — the reference's
        ``DELETE FROM ocr_queue WHERE status='completed' AND completed_at <
        NOW() - INTERVAL '1 day' * $1`` (queue.rs:1171-1184). Returns rows
        deleted. NOTE: removing a completed row makes that partition
        re-eligible on resume, exactly like deleting the queue row would —
        cleanup is for finished runs whose outputs are already committed.

        The parquet stand-in rewrites the (small, one-row-per-partition-
        attempt) table via a crash-safe commit: compacted copy to a temp
        sibling dir → old table renamed aside → temp renamed into place →
        old removed. ``_recover`` repairs every intermediate crash state
        (see its invariants) with no window where kept rows are duplicated
        — the defect the round-2 advice flagged in the append-then-delete
        version. On Iceberg this whole method is a metadata-only DELETE.

        Rows with status='completed' but NULL ``completed_at`` are RETAINED
        (a tri-state NOT over a NULL comparison silently deleted them
        before): age unknown is not age expired.

        Age is measured from the current instant; both legs compare
        against the same UTC cutoff."""
        import datetime

        if not self.exists():
            return 0
        cutoff = datetime.datetime.now(datetime.timezone.utc) - datetime.timedelta(
            days=days_to_keep
        )
        if self.table_format == "iceberg":
            # metadata-only delete, one snapshot commit — no rewrite/rename;
            # the literal carries its ``+00:00`` offset, so it is the same
            # instant in every session zone
            before = self.read().count()
            literal = cutoff.isoformat(sep=" ")
            self.spark.sql(
                f"DELETE FROM {self.path} WHERE status = 'completed' "
                f"AND completed_at IS NOT NULL "
                f"AND completed_at < TIMESTAMP '{literal}'"
            )
            return int(before - self.read().count())
        df = self.read()
        keep = df.filter(
            ~(
                (F.col("status") == "completed")
                & F.col("completed_at").isNotNull()
                & (F.col("completed_at") < F.lit(cutoff))
            )
        )
        rows = keep.collect()  # metadata-scale table: one row per attempt
        deleted = df.count() - len(rows)
        if deleted:
            token = uuid.uuid4().hex[:8]
            fs, main = hadoop_fs(self.spark, self.path)
            compact = main.suffix(f".compact-{token}")
            _write_file(self.spark, fs, compact, [r.asDict() for r in rows])
            old = main.suffix(f".old-{token}")
            _rename(fs, main, old)
            _rename(fs, compact, main)
            fs.delete(old, True)
        return int(deleted)

    def stats(self) -> DataFrame:
        """Q9 analog: queue stats (queue.rs:890-1061) — per-status counts +
        latency aggregates, one groupBy."""
        return (
            self.read()
            .groupBy("status")
            .agg(
                F.count("*").alias("n"),
                F.sum("docs_processed").alias("docs_processed"),
                F.sum("docs_failed").alias("docs_failed"),
                F.avg("processing_time_ms").alias("avg_ms"),
                F.max("processing_time_ms").alias("max_ms"),
            )
        )


_ARROW_SCHEMA = to_arrow_schema(CHECKPOINT_SCHEMA)
_TIMESTAMP = T.TimestampType()


def _checkpoint_row(r: dict) -> dict:
    return {
        "run_id": r["run_id"],
        "partition_id": int(r["partition_id"]),
        "status": r["status"],
        "attempts": int(r.get("attempts", 1)),
        "started_at": r.get("started_at"),
        "completed_at": r.get("completed_at"),
        "docs_processed": r.get("docs_processed"),
        "docs_failed": r.get("docs_failed"),
        "processing_time_ms": r.get("processing_time_ms"),
        "worker_id": r.get("worker_id"),
        "error_message": r.get("error_message"),
    }


def _write_file(spark: SparkSession, fs, directory, rows: list[dict]) -> None:
    """Write ``rows`` as one ``part-<uuid>.parquet`` file in ``directory``
    from the driver: serialized with pyarrow, written to a hidden temp
    file (file-source reads skip ``.``-prefixed names) and renamed into
    place, so a crash mid-write leaves no partial file visible.
    Timestamps convert as PySpark's ``TimestampType.toInternal`` does (a
    naive ``datetime`` is local time), so ``read()`` returns what
    ``createDataFrame`` would have stored."""
    columns = {f.name: [r[f.name] for r in rows] for f in CHECKPOINT_SCHEMA}
    for name in ("started_at", "completed_at"):
        columns[name] = [_TIMESTAMP.toInternal(v) for v in columns[name]]
    table = pa.Table.from_pydict(columns, schema=_ARROW_SCHEMA)
    sink = pa.BufferOutputStream()
    pq.write_table(table, sink)
    name = f"part-{uuid.uuid4().hex}.parquet"
    Path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    tmp, final = Path(directory, f".{name}.tmp"), Path(directory, name)
    out = fs.create(tmp, False)
    try:
        out.write(sink.getvalue().to_pybytes())
    finally:
        out.close()
    _rename(fs, tmp, final)


def _rename(fs, src, dst) -> None:
    # Hadoop's rename reports failure by returning False, not by raising
    if not fs.rename(src, dst):
        raise OSError(f"checkpoint rename {src} -> {dst} failed")


def new_run_id() -> str:
    return f"run-{int(time.time())}-{uuid.uuid4().hex[:8]}"
