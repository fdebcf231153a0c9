"""Resumable extraction job plan.

Deterministic partition assignment + partition-granular checkpointing:

1. Every document gets a stable ``partition_id = pmod(xxhash64(doc_id), P)``
   — a pure function of the doc id, so the same document lands in the same
   partition in every run (the prerequisite for resume; also the north
   rule's salt-by-doc_id skew spread: xxhash64 is uniform, so mega-docs
   scatter instead of clustering).
2. Partitions already marked ``completed`` in the checkpoint table are
   filtered out *before* the shuffle — a resume reads, shuffles, and
   processes only the remaining fraction.
3. Each chunk of checkpoint partitions is shuffled once with
   ``repartitionById``, one task per checkpoint partition, and written
   ``partitionBy(partition_id)`` with dynamic partition overwrite:
   re-running a previously-crashed partition atomically replaces its
   partial output, and completed partitions are never touched (the
   first-writer-wins guard of
   /root/reference/src/db_guardrails_simple.rs:97).
4. Only after the write succeeds are ``completed`` checkpoint rows
   recorded, with per-partition lineage metrics read back from the
   committed output (docs processed/failed, wall-clock) — the
   `ocr_metrics` analog (migrations/20250620100001:34-46). They go out in
   the same append as the next chunk's claim rows: one append per chunk
   boundary, ``chunks + 1`` per run.

Crash anywhere → no completed row → the partition reruns next time.
Needs Spark ≥ 4.1 (``DataFrame.repartitionById``).
"""

from __future__ import annotations

import datetime
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from readur_spark.operators.extract import extract_spans
from readur_spark.plans.checkpoint import CheckpointTable, new_run_id
from readur_spark.sources.table_format import hadoop_fs, literal_path


def assign_partitions(docs_df: DataFrame, num_partitions: int) -> DataFrame:
    return docs_df.withColumn(
        "partition_id",
        F.pmod(F.xxhash64("doc_id"), F.lit(num_partitions)).cast("int"),
    )


def run_extraction(
    spark: SparkSession,
    docs_df: DataFrame,
    output_path: str,
    checkpoint_path: str,
    num_partitions: int = 64,
    run_id: str | None = None,
    repair_hyphens: bool = True,
    table_format: str = "parquet",
    batch_partitions: int | None = None,
) -> dict:
    """Run (or resume) a checkpointed extraction over ``docs_df``.

    ``table_format="iceberg"`` makes ``output_path``/``checkpoint_path``
    catalog table identifiers: the result commit becomes an Iceberg
    ``overwritePartitions`` snapshot (atomic replace of exactly the
    re-run partitions) and the checkpoint an Iceberg table — same
    first-writer-wins resume semantics as the tested parquet fallback
    (see sources/table_format.py for the spark-submit recipe).

    ``batch_partitions``: commit granularity WITHIN a run. Default
    (``None``) keeps the single-commit plan: one scan → one shuffle →
    one partition-overwrite — minimal IO, but a crash mid-run commits
    nothing and the whole todo set reruns. With ``batch_partitions=K``
    the todo set is processed in chunks of K partitions, each chunk its
    own claim → extract → atomic partition-overwrite → completed rows
    (appended with the next chunk's claims), so a kill loses at most ONE
    in-flight chunk — the difference between "restart the week-long
    run" and "lose 20 minutes" at 10^12 docs. To keep chunked runs from rescanning the
    full source once per chunk (partition_id is a hash — no source-side
    pruning exists for it), the assigned input is first STAGED once to
    ``<checkpoint>_staged`` partitioned by partition_id; every chunk
    then reads back only its own partition directories (partition-
    pruned scan), so total input IO is one extra write + one pruned
    read regardless of chunk count. The staging table is reused on
    resume when its committed marker exists — which also pins the run
    to a deterministic snapshot of the input even if the source table
    changes between the crash and the resume.

    Returns a summary dict: run_id, partitions planned/skipped/processed,
    docs processed/failed, batches committed.
    """
    from readur_spark.sources.table_format import (
        overwrite_partitions,
        resolve_format,
    )

    if batch_partitions is not None and batch_partitions < 1:
        raise ValueError(
            f"batch_partitions must be >= 1, got {batch_partitions}"
        )
    table_format = resolve_format(spark, table_format)
    run_id = run_id or new_run_id()
    ckpt = CheckpointTable(spark, checkpoint_path, table_format=table_format)
    done = ckpt.completed_partitions()
    prev_attempts = ckpt.attempts_so_far()

    planned = assign_partitions(docs_df, num_partitions)
    todo_pids = sorted(set(range(num_partitions)) - done)
    if not todo_pids:
        chunks = []
    elif batch_partitions is None:
        chunks = [todo_pids]
        source = planned
    else:
        source = _stage_assigned_input(
            spark, planned, checkpoint_path, table_format, num_partitions
        )
        chunks = [
            todo_pids[i : i + batch_partitions]
            for i in range(0, len(todo_pids), batch_partitions)
        ]

    total_wall_ms = 0
    total_processed = 0
    total_failed = 0
    # the previous chunk's completed rows, committed together with the
    # next chunk's claim rows: one checkpoint append per chunk boundary
    completed_rows: list[dict] = []
    for chunk in chunks:
        todo = (
            source.filter(F.col("partition_id").isin(chunk))
            if (len(chunk) < num_partitions or done)
            else source
        )
        # one explicit shuffle, one task per checkpoint partition: the
        # target is the partition id's position in the chunk (a hash of
        # the id would put several ids in one task and leave others idle;
        # the chunks of a resumed run are not contiguous ranges)
        todo = todo.repartitionById(
            len(chunk),
            F.array_position(F.array(*map(F.lit, chunk)), F.col("partition_id"))
            .cast("int")
            - 1,
        )

        # aware UTC instants: ``TimestampType`` reads a naive value as
        # local time, which shifts a naive UTC stamp on a non-UTC driver
        started = datetime.datetime.now(datetime.timezone.utc)
        # claim rows are durable before the chunk starts: they go out in
        # one append with the previous chunk's completed rows (readur's
        # dequeue claims the item and bumps attempts inside the claiming
        # transaction, src/ocr/queue.rs:165-318) — so attempt counts
        # survive a crash that never commits results. Claims are per
        # CHUNK: a partition's attempt count only bumps when its chunk is
        # actually started.
        attempts_now = {pid: prev_attempts.get(pid, 0) + 1 for pid in chunk}
        ckpt.append(
            completed_rows
            + [
                {
                    "run_id": run_id,
                    "partition_id": pid,
                    "status": "processing",
                    "attempts": attempts_now[pid],
                    "started_at": started,
                    "worker_id": run_id,
                }
                for pid in chunk
            ]
        )
        t0 = time.perf_counter()
        extracted = extract_spans(
            todo,
            repair_hyphens=repair_hyphens,
            passthrough_cols=["partition_id"],
        )
        overwrite_partitions(
            extracted, output_path, ["partition_id"], fmt=table_format
        )
        total_wall_ms += int((time.perf_counter() - t0) * 1000)
        completed = datetime.datetime.now(datetime.timezone.utc)

        # lineage metrics from the committed output (not in-flight state)
        metrics = (
            _read_output(spark, output_path, table_format)
            .filter(F.col("partition_id").isin(chunk))
            .groupBy("partition_id")
            .agg(
                F.count("*").alias("docs_processed"),
                F.sum(
                    F.when(F.col("status") == "failed", 1).otherwise(0)
                ).alias("docs_failed"),
                F.sum("processing_time_ms").alias("processing_time_ms"),
            )
            .collect()
        )
        by_pid = {r["partition_id"]: r for r in metrics}
        completed_rows = []
        for pid in chunk:
            m = by_pid.get(pid)
            completed_rows.append(
                {
                    "run_id": run_id,
                    "partition_id": pid,
                    "status": "completed",
                    "attempts": attempts_now[pid],
                    "started_at": started,
                    "completed_at": completed,
                    "docs_processed": int(m["docs_processed"]) if m else 0,
                    "docs_failed": int(m["docs_failed"]) if m else 0,
                    "processing_time_ms": int(m["processing_time_ms"])
                    if m and m["processing_time_ms"] is not None
                    else 0,
                    "worker_id": f"{run_id}",
                    "error_message": None,
                }
            )
        total_processed += sum(r["docs_processed"] for r in completed_rows)
        total_failed += sum(r["docs_failed"] for r in completed_rows)
    if completed_rows:
        ckpt.append(completed_rows)

    # every partition is now committed: drop the staged snapshot — it is
    # corpus-sized (the whole assigned input), and leaving it under the
    # checkpoint path would orphan ~1× the input per completed run. A
    # later run over new docs restages from its own source scan.
    # Unconditional (not only when THIS invocation batched): an unbatched
    # resume of a crashed batched run must clean up too, and so must a
    # no-op resume after a crash between the last commit and this drop.
    _drop_staged_input(spark, checkpoint_path, table_format, num_partitions)

    return {
        "run_id": run_id,
        "partitions_total": num_partitions,
        "partitions_skipped": len(done),
        "partitions_processed": len(todo_pids),
        "docs_processed": total_processed,
        "docs_failed": total_failed,
        "wall_ms": total_wall_ms,
        "batches": len(chunks),
    }


def _stage_assigned_input(
    spark: SparkSession,
    planned: DataFrame,
    checkpoint_path: str,
    table_format: str,
    num_partitions: int,
) -> DataFrame:
    """Materialize the partition-assigned input ONCE, partitioned by
    ``partition_id``, so chunked runs read back only each chunk's
    partition directories instead of rescanning the full source per
    chunk. Reused when already committed (parquet ``_SUCCESS`` marker /
    existing Iceberg table): a resume keeps extracting the exact
    snapshot the crashed run started from. The partition count is baked
    into the name so a resume with a different ``num_partitions`` never
    reuses a stale assignment."""
    staged = f"{checkpoint_path}_staged_p{num_partitions}"
    if table_format == "iceberg":
        if not spark.catalog.tableExists(staged):
            planned.writeTo(staged).partitionedBy(
                F.col("partition_id")
            ).create()
        return spark.read.table(staged)
    # Hadoop FileSystem, not driver-local os.path: run_extraction is a
    # spark-submit entry point, and on HDFS/S3 a local existence probe
    # always misses — every resume would re-stage the corpus snapshot and
    # lose the pinned-snapshot guarantee (r8 advisor finding).
    fs, marker = hadoop_fs(spark, staged + "/_SUCCESS")
    if not fs.exists(marker):
        planned.write.mode("overwrite").partitionBy("partition_id").parquet(
            staged
        )
    # this directory, not a glob; with the known schema, so no job infers it
    return spark.read.schema(planned.schema).parquet(literal_path(staged))


#: the committed output's columns that the lineage metrics read
_LINEAGE_SCHEMA = "status string, processing_time_ms long, partition_id int"


def _read_output(spark: SparkSession, output_path: str, table_format: str):
    """The committed output, read back for the lineage metrics. A parquet
    path is read as a literal directory (not a glob) with the schema of
    the columns the metrics use, so no job infers it; an Iceberg
    identifier is read as it is."""
    if table_format == "iceberg":
        return spark.read.table(output_path)
    return spark.read.schema(_LINEAGE_SCHEMA).parquet(literal_path(output_path))


def _drop_staged_input(
    spark: SparkSession,
    checkpoint_path: str,
    table_format: str,
    num_partitions: int,
) -> None:
    """Remove the staged snapshot written by
    :func:`_stage_assigned_input` (corpus-sized; dead weight once every
    partition has a committed row)."""
    staged = f"{checkpoint_path}_staged_p{num_partitions}"
    if table_format == "iceberg":
        spark.sql(f"DROP TABLE IF EXISTS {staged}")
    else:
        # drop ALL _staged_p* siblings, not only the current partition
        # count: a resume with a different num_partitions would otherwise
        # orphan the previous corpus-sized snapshot forever (r8 advisor
        # finding). Hadoop FS for the same cluster-correctness reason as
        # the existence probe above. Matched by name prefix, not by glob:
        # the checkpoint path may itself hold glob metacharacters.
        try:
            fs, p = hadoop_fs(spark, checkpoint_path)
            prefix = p.getName() + "_staged_p"
            for st in fs.listStatus(p.getParent()):
                if st.getPath().getName().startswith(prefix):
                    fs.delete(st.getPath(), True)
        except Exception:
            pass  # cleanup is best-effort; a leftover snapshot is inert
