"""Cluster entry point: checkpointed extraction over an input table.

Ships with ``--py-files dist/readur_spark.zip`` (see tools/package.py).
Reads the interleaved docs table (Iceberg when the catalog is configured,
parquet path otherwise — the engine code is identical), runs the resumable
extraction plan, and prints the run summary as one JSON line.

Resume: re-running with the same --checkpoint only processes partitions
without a completed row — crash-safe at partition granularity.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="iceberg table name or parquet path")
    ap.add_argument("--output", required=True, help="output parquet/iceberg path")
    ap.add_argument("--checkpoint", required=True, help="checkpoint table path")
    ap.add_argument("--partitions", type=int, default=256)
    ap.add_argument("--batch-partitions", type=int, default=None,
                    help="commit every K partitions instead of one "
                         "commit of all todo partitions: a crash then loses "
                         "at most one K-partition chunk. A run of more than "
                         "one chunk stages the assigned input once and reads "
                         "it partition-pruned per chunk; a later run of the "
                         "same checkpoint reuses that snapshot")
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--no-hyphen-repair", action="store_true")
    ap.add_argument(
        "--format",
        choices=["parquet", "iceberg"],
        default="parquet",
        help="table format for input/output/checkpoint; iceberg needs the "
        "catalog config in sources/table_format.py:ICEBERG_SUBMIT_SNIPPET",
    )
    args = ap.parse_args()

    spark = SparkSession.builder.appName("readur_spark_extraction").getOrCreate()

    from readur_spark.plans.pipeline import run_extraction
    from readur_spark.sources.table_format import read_table

    docs = read_table(spark, args.input, args.format)

    summary = run_extraction(
        spark,
        docs,
        output_path=args.output,
        checkpoint_path=args.checkpoint,
        num_partitions=args.partitions,
        run_id=args.run_id,
        repair_hyphens=not args.no_hyphen_repair,
        table_format=args.format,
        batch_partitions=args.batch_partitions,
    )
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
