"""The table-format seam (north rule: "over Iceberg tables").

This container has no Iceberg runtime, so the tests pin three things:
the parquet fallback is byte-compatible with the previous hard-coded
paths, iceberg requests FAIL FAST with the cluster recipe (never a
silent downgrade), and the dispatch actually routes to catalog
reads/writes when the runtime is present (faked via monkeypatch).
"""

import pytest

from readur_spark.sources import table_format as tf
from readur_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def test_parquet_fallback_reads_identically(spark):
    a = load_table(spark, SF, "documents").count()
    b = tf.read_table(spark, f"{SF}/documents.parquet", "parquet").count()
    assert a == b > 0


def test_iceberg_unavailable_fails_fast_with_recipe(spark):
    assert tf.iceberg_available(spark) is False  # this container
    with pytest.raises(RuntimeError) as e:
        tf.resolve_format(spark, "iceberg")
    msg = str(e.value)
    assert "iceberg-spark-runtime" in msg and "spark.sql.catalog" in msg
    with pytest.raises(RuntimeError):
        load_table(spark, "lake.corpus", "documents", table_format="iceberg")
    with pytest.raises(ValueError):
        tf.resolve_format(spark, "orc")


def test_iceberg_dispatch_routes_to_catalog(spark, monkeypatch):
    """With the runtime 'present', reads must go through the catalog
    (spark.read.table) and never touch a parquet path."""
    monkeypatch.setattr(tf, "iceberg_available", lambda s: True)
    seen = {}

    class _Reader:
        def table(self, ident):
            seen["table"] = ident
            return "sentinel-df"

        def parquet(self, path):  # pragma: no cover - must not be hit
            raise AssertionError("iceberg read fell through to parquet")

    class _Spark:
        read = _Reader()

    out = tf.read_table(_Spark(), "lake.corpus.documents", "iceberg")
    assert out == "sentinel-df"
    assert seen["table"] == "lake.corpus.documents"


def test_checkpoint_parquet_fallback_roundtrip(spark, tmp_path):
    """CheckpointTable with the explicit parquet format keeps the tested
    resume semantics (append -> completed_partitions)."""
    from readur_spark.plans.checkpoint import CheckpointTable

    ck = CheckpointTable(spark, str(tmp_path / "ck"), table_format="parquet")
    assert ck.completed_partitions() == set()
    ck.append(
        [
            {"run_id": "r", "partition_id": 0, "status": "completed"},
            {"run_id": "r", "partition_id": 1, "status": "processing"},
        ]
    )
    assert ck.completed_partitions() == {0}
    with pytest.raises(RuntimeError):
        CheckpointTable(spark, "lake.db.ck", table_format="iceberg")


def test_run_extraction_rejects_unknown_format(spark, tmp_path):
    from readur_spark.corpus import docs_dataframe
    from readur_spark.plans.pipeline import run_extraction

    with pytest.raises(ValueError):
        run_extraction(
            spark,
            docs_dataframe(spark, 5, seed=1),
            output_path=str(tmp_path / "out"),
            checkpoint_path=str(tmp_path / "ck"),
            num_partitions=2,
            table_format="delta",
        )


class _FakeIcebergSpark:
    """Minimal stand-in for a catalog-configured session: records the
    catalog calls the iceberg branches make, backed by a list of row
    dicts so read()/cleanup can round-trip."""

    def __init__(self):
        self.tables = {}
        self.sql_log = []

        fake = self

        class _Catalog:
            def tableExists(self, ident):
                return ident in fake.tables

        class _Read:
            def table(self, ident):
                return _FakeDF(fake.tables[ident], fake)

        self.catalog = _Catalog()
        self.read = _Read()

    def sql(self, q):
        self.sql_log.append(q)
        import re

        # the namespace listing and the drops of staged-input cleanup
        m = re.fullmatch(r"SHOW TABLES IN (\S+)", q)
        if m:
            ns = m.group(1)
            rows = [
                {"namespace": ns, "tableName": t[len(ns) + 1 :], "isTemporary": False}
                for t in self.tables
                if t.rpartition(".")[0] == ns
            ]
            return _FakeDF(rows, self)
        m = re.fullmatch(r"DROP TABLE IF EXISTS (\S+)", q)
        if m:
            self.tables.pop(m.group(1), None)
            return None
        # emulate the one DELETE shape cleanup_completed sends
        m = re.match(
            r"DELETE FROM (\S+) WHERE status = 'completed' AND "
            r"completed_at IS NOT NULL AND completed_at < TIMESTAMP '(.+)'",
            q,
        )
        assert m, q
        import datetime

        def instant(ts):
            # the literal carries its offset; a naive row value is UTC, as
            # the UTC session zone reads it
            if ts.tzinfo is None:
                return ts.replace(tzinfo=datetime.timezone.utc)
            return ts

        ident = m.group(1)
        cutoff = instant(datetime.datetime.fromisoformat(m.group(2)))
        self.tables[ident] = [
            r
            for r in self.tables[ident]
            if not (
                r["status"] == "completed"
                and r.get("completed_at") is not None
                and instant(r["completed_at"]) < cutoff
            )
        ]

    def createDataFrame(self, rows, schema):
        return _FakeDF([dict(r) for r in rows], self)


class _FakeDF:
    def __init__(self, rows, spark):
        self.rows = rows
        self._spark = spark

        df = self

        class _WriteTo:
            def __init__(self, ident):
                self.ident = ident

            def append(self):
                df._spark.tables[self.ident].extend(df.rows)

            def create(self):
                assert self.ident not in df._spark.tables
                df._spark.tables[self.ident] = list(df.rows)

        self._WriteTo = _WriteTo

    def writeTo(self, ident):
        return self._WriteTo(ident)

    def count(self):
        return len(self.rows)

    def collect(self):
        return list(self.rows)


def test_checkpoint_iceberg_branches_with_fake_catalog(monkeypatch):
    """The iceberg legs of CheckpointTable (catalog existence check,
    writeTo create/append, metadata-only DELETE cleanup) execute against
    a faked catalog session — covering the branch logic that can't run
    without the runtime jar, including the NULL-completed_at retention
    rule carrying over from the parquet leg."""
    import datetime

    from readur_spark.plans import checkpoint as cp

    monkeypatch.setattr(
        tf, "iceberg_available", lambda s: True
    )
    fake = _FakeIcebergSpark()
    ck = cp.CheckpointTable(fake, "lake.db.ck", table_format="iceberg")
    assert ck.exists() is False
    old = datetime.datetime(2020, 1, 1)
    ck.append(
        [
            {"run_id": "r", "partition_id": 0, "status": "completed",
             "completed_at": old},
            {"run_id": "r", "partition_id": 1, "status": "completed",
             "completed_at": None},
        ]
    )
    assert ck.exists() is True
    ck.append([{"run_id": "r", "partition_id": 2, "status": "processing"}])
    assert fake.tables["lake.db.ck"][2]["status"] == "processing"
    deleted = ck.cleanup_completed(days_to_keep=30)
    assert deleted == 1  # the 2020 row; NULL completed_at retained
    statuses = [(r["partition_id"], r["status"]) for r in fake.tables["lake.db.ck"]]
    assert statuses == [(1, "completed"), (2, "processing")]
    assert any(q.startswith("DELETE FROM lake.db.ck") for q in fake.sql_log)


def test_overwrite_partitions_restores_session_conf(spark, tmp_path):
    """Review finding: the dynamic-overwrite conf is session-global; the
    seam must restore whatever was set before (or unset it)."""
    from pyspark.sql import functions as F

    from readur_spark.sources.table_format import overwrite_partitions

    df = spark.range(10).withColumn("p", F.col("id") % 2)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        overwrite_partitions(df, str(tmp_path / "t"), ["p"], fmt="parquet")
        assert (
            spark.conf.get("spark.sql.sources.partitionOverwriteMode")
            == "static"
        )
    finally:
        spark.conf.unset("spark.sql.sources.partitionOverwriteMode")


def test_iceberg_overwrite_partitions_never_replaces_existing(monkeypatch):
    """Review finding: a transient overwritePartitions failure must NOT
    fall back to replacing the whole table. With the table existing, only
    overwritePartitions may be called — and its exceptions propagate."""
    calls = []

    class _W:
        def overwritePartitions(self):
            calls.append("overwritePartitions")
            raise RuntimeError("transient commit conflict")

        def partitionedBy(self, *c):  # pragma: no cover - must not be hit
            calls.append("partitionedBy")
            return self

        def create(self):  # pragma: no cover - must not be hit
            calls.append("create")

    class _DF:
        class sparkSession:
            class catalog:
                @staticmethod
                def tableExists(ident):
                    return True

        def writeTo(self, ident):
            return _W()

    monkeypatch.setattr(tf, "iceberg_available", lambda s: True)
    with pytest.raises(RuntimeError, match="transient"):
        tf.overwrite_partitions(_DF(), "lake.db.t", ["p"], fmt="iceberg")
    assert calls == ["overwritePartitions"]


def test_iceberg_drop_staged_input_drops_every_partition_count():
    """Iceberg cleanup drops the checkpoint's staged snapshot of EVERY
    partition count, as the parquet leg does, and keeps the checkpoint
    itself, a table in another namespace, and a decoy that a SQL ``LIKE``
    pattern (``_`` matches any character) would also match."""
    from readur_spark.plans import pipeline as pl

    fake = _FakeIcebergSpark()
    keep = ["lake.db.ck", "lake.db.ckXstaged_p8", "lake.other.ck_staged_p8"]
    drop = ["lake.db.ck_staged_p8", "lake.db.ck_staged_p4"]
    for ident in keep + drop:
        fake.tables[ident] = []
    pl._drop_staged_input(fake, "lake.db.ck", "iceberg")
    assert sorted(fake.tables) == sorted(keep)
