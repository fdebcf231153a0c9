"""Watch-folder ingest as Structured Streaming.

readur watches directories with notify/polling/hybrid strategies
(/root/reference/src/scheduling/watcher.rs:22-107) and syncs sources on
schedules (source_scheduler.rs). The Spark-native form is a file-source
stream: new parquet drops of interleaved docs are discovered by the source,
run through the same extraction operator, and committed exactly-once via
the streaming checkpoint — ``Trigger.AvailableNow`` gives readur's
"sync now, then stop" batch-catchup semantics, a processing-time trigger
gives the continuous watcher.

The extraction stage is the identical ``extract_spans`` operator used in
batch — Structured Streaming reuses the incremental planner over the same
logical plan, so batch/stream parity is by construction, not by a second
implementation.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from readur_spark.corpus import DOCS_SCHEMA
from readur_spark.operators.extract import extract_spans


def watch_and_extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int = 64,
) -> StreamingQuery:
    """Stream new interleaved-doc parquet files from ``input_dir`` through
    extraction into ``output_dir``.

    ``available_now=True``: process the current backlog then stop (the
    "interrupted-sync resume" semantics of source_scheduler.rs:53-120 —
    restart picks up where the checkpoint says). ``False``: run
    continuously, polling like the reference's PollingBased strategy
    (watcher.rs:102-107).
    """
    stream = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )
    extracted = extract_spans(stream)
    writer = (
        extracted.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime="30 seconds")
    return writer.start()
