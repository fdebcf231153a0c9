"""Table-format seam: Iceberg on a catalog-configured cluster, parquet as
the tested local fallback.

The north rule runs this engine "over Iceberg tables"; this container has
no Iceberg runtime jar or catalog, so every call site goes through this
seam instead of hard-coding ``spark.read.parquet``:

* ``format="parquet"`` (default) — plain columnar parquet paths, the
  behavior every test and bench in this repo exercises.
* ``format="iceberg"`` — targets are catalog table identifiers
  (``catalog.db.table``); reads go through ``spark.read.table`` (time
  travel / incremental snapshot reads become available via the standard
  ``option("snapshot-id"| "start-snapshot-id", ...)``), partition
  overwrites go through ``writeTo(...).overwritePartitions()`` (Iceberg's
  atomic REPLACE of touched partitions — the same first-writer-wins
  semantics the parquet path gets from dynamic partition overwrite,
  mirroring readur's completed-row guard,
  /root/reference/src/db_guardrails_simple.rs:97), and queue-row deletion
  (/root/reference/src/ocr/queue.rs:340-356) is a metadata-only
  ``DELETE FROM`` instead of the parquet rewrite-and-rename commit.

Requesting iceberg without the runtime on the classpath raises
immediately with the spark-submit recipe (ICEBERG_SUBMIT_SNIPPET) rather
than failing deep inside an executor.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

FORMATS = ("parquet", "iceberg")

#: Cluster config recipe for the iceberg leg of the seam. Versions track
#: the public Iceberg release line for Spark 4.x / Scala 2.13.
ICEBERG_SUBMIT_SNIPPET = """\
spark-submit --py-files readur_spark.zip \\
  --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:1.10.0 \\
  --conf spark.sql.extensions=org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions \\
  --conf spark.sql.catalog.lake=org.apache.iceberg.spark.SparkCatalog \\
  --conf spark.sql.catalog.lake.type=rest \\
  --conf spark.sql.catalog.lake.uri=https://<catalog-host>/iceberg \\
  jobs/run_extraction.py --format iceberg \\
  --input lake.corpus.documents --output lake.corpus.extracted \\
  --checkpoint lake.corpus.extract_checkpoint
"""


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg Spark runtime is on this session's classpath
    (the precondition for ``format("iceberg")`` and MERGE/DELETE SQL)."""
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def resolve_format(spark: SparkSession, fmt: str) -> str:
    """Validate a requested table format against this session. Fails fast
    and loudly (with the cluster recipe) when iceberg is requested but the
    runtime is absent — never silently downgrades to parquet."""
    if fmt not in FORMATS:
        raise ValueError(f"table format must be one of {FORMATS}, got {fmt!r}")
    if fmt == "iceberg" and not iceberg_available(spark):
        raise RuntimeError(
            "format='iceberg' requested but the Iceberg Spark runtime is "
            "not on the classpath; launch with:\n" + ICEBERG_SUBMIT_SNIPPET
        )
    return fmt


def literal_path(path: str) -> str:
    """``path`` with Hadoop's glob metacharacters backslash-escaped. A
    file-source read globs its path, so a directory this job wrote under a
    name holding ``[``, ``{`` or ``?`` reads back only through this."""
    return re.sub(r"([{}\[\]*?\\])", r"\\\1", path)


def read_table(spark: SparkSession, target: str, fmt: str = "parquet") -> DataFrame:
    """Scan ``target`` — a parquet path or an Iceberg table identifier.
    Both legs keep Catalyst predicate pushdown / column pruning (Iceberg
    adds partition + file-level min/max pruning from its own metadata)."""
    if resolve_format(spark, fmt) == "iceberg":
        return spark.read.table(target)
    return spark.read.parquet(target)


def overwrite_partitions(
    df: DataFrame, target: str, partition_by: list[str], fmt: str = "parquet"
) -> None:
    """Atomically replace exactly the partitions present in ``df``,
    leaving all other committed partitions untouched — the write-side half
    of resume (a re-run of a crashed partition replaces its partial
    output; completed partitions are never touched). Iceberg: one
    snapshot commit via ``overwritePartitions``. Parquet: dynamic
    partition overwrite."""
    spark = df.sparkSession
    if resolve_format(spark, fmt) == "iceberg":
        # explicit existence check — NEVER an except-all fallback to
        # createOrReplace: overwritePartitions can also fail on a transient
        # commit conflict / schema drift, and replacing the whole table
        # there would destroy every committed partition (the exact
        # guarantee this function exists to provide)
        if spark.catalog.tableExists(target):
            df.writeTo(target).overwritePartitions()
        else:
            from pyspark.sql import functions as F

            df.writeTo(target).partitionedBy(
                *[F.col(c) for c in partition_by]
            ).create()
    else:
        # per-write scoped: the session conf is shared, and leaving
        # dynamic mode set would silently change unrelated overwrite
        # writes elsewhere in the session
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", None)
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            df.write.mode("overwrite").partitionBy(*partition_by).parquet(target)
        finally:
            if prev is None:
                spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
            else:
                spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
