"""File-source readers and incremental sync (S2/S4/S5 analogs).

* ``read_binary_dir`` — readur's batch directory ingest
  (/root/reference/src/ingestion/batch_ingest.rs:47-130): recursive walk,
  extension filter, >100 MB skip — expressed as Spark's ``binaryFile``
  source with pushed filters (the length predicate is pushed into the file
  listing; skipped files never transfer).
* ``size_priority`` — the size→priority bins (batch_ingest.rs:281-294).
* ``incremental_changes`` — the WebDAV smart-sync etag comparison
  (src/services/webdav/smart_sync.rs:121-290): given the current listing
  and the previously-synced state, emit only new/changed files — a join,
  not a crawl. On Iceberg this is an incremental snapshot read; on plain
  tables it's this anti/changed-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: batch_ingest.rs:239-243 — files over 100 MB are skipped.
MAX_FILE_BYTES = 100 * 1024 * 1024

#: batch_ingest.rs:52-68 extension allow-list (extraction-supported set).
SUPPORTED_EXTENSIONS = (
    "pdf", "txt", "text", "md", "csv", "json", "xml", "html", "htm",
    "doc", "docx", "xls", "xlsx", "pptx", "png", "jpg", "jpeg", "gif",
    "tif", "tiff", "bmp", "webp",
)


def read_binary_dir(
    spark: SparkSession,
    path: str,
) -> DataFrame:
    """S2: recursive binary ingest with extension filter + size skip
    (files above ``MAX_FILE_BYTES``).

    Output: (doc_id=path, filename, length, modificationTime, content).
    The ``length`` predicate reaches the binaryFile source (no oversized
    file is ever read), matching the reference's stat-then-skip."""
    glob = "*.{" + ",".join(SUPPORTED_EXTENSIONS) + "}"
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", "true")
        .load(path)
    )
    return (
        df.filter(F.col("length") <= MAX_FILE_BYTES)
        .select(
            F.col("path").alias("doc_id"),
            F.element_at(F.split(F.col("path"), "/"), -1).alias("filename"),
            "length",
            "modificationTime",
            "content",
        )
    )


def size_priority():
    """Q2: size→priority bins (≤1 MB:10, ≤5:8, ≤10:6, ≤50:4, else 2)."""
    mb = 1024 * 1024
    c = F.col("length")
    return (
        F.when(c <= 1 * mb, 10)
        .when(c <= 5 * mb, 8)
        .when(c <= 10 * mb, 6)
        .when(c <= 50 * mb, 4)
        .otherwise(2)
    )


def incremental_changes(
    current: DataFrame,
    previous: DataFrame,
) -> DataFrame:
    """S4: smart-sync delta — rows in ``current`` that are new (key absent
    from ``previous``) or changed (same key, different etag). One left join
    against the (small, broadcastable) previous-state table; unchanged
    subtrees are skipped exactly like the reference's per-directory etag
    compare (smart_sync.rs:167-175)."""
    prev = previous.select(
        F.col("path").alias("_prev_key"), F.col("etag").alias("_prev_etag")
    )
    return (
        current.join(
            F.broadcast(prev), current["path"] == prev["_prev_key"], "left"
        )
        .filter(
            F.col("_prev_key").isNull() | (F.col("etag") != F.col("_prev_etag"))
        )
        .drop("_prev_key", "_prev_etag")
    )
