"""Checkpoint/resume semantics (SURVEY §2.8: Q3/Q6/Q7/Q11 analogs)."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from readur_spark.corpus import docs_dataframe
from readur_spark.plans.checkpoint import CheckpointTable
from readur_spark.plans.pipeline import run_extraction

N_PARTS = 8


@pytest.fixture()
def dirs():
    d = tempfile.mkdtemp(prefix="readur_ckpt_")
    yield f"{d}/out", f"{d}/ckpt"
    shutil.rmtree(d, ignore_errors=True)


def test_full_run_then_noop_resume(spark, dirs):
    """A finished run resumes as a no-op, for a plain path and for a
    ``file://`` URI alike, and both runs report the same summary keys."""
    out, ckpt_path = dirs
    docs = docs_dataframe(spark, 80, seed=5)
    for o, c in ((out, ckpt_path), (f"file://{out}_uri", f"file://{ckpt_path}_uri")):
        s1 = run_extraction(spark, docs, o, c, num_partitions=N_PARTS)
        assert s1["partitions_processed"] == N_PARTS
        assert s1["docs_processed"] == 80

        result = spark.read.parquet(o)
        assert result.count() == 80

        # resume with everything completed → no work
        s2 = run_extraction(spark, docs, o, c, num_partitions=N_PARTS)
        assert s2["partitions_processed"] == 0, c
        assert s2["partitions_skipped"] == N_PARTS
        assert s2.keys() == s1.keys()
        assert spark.read.parquet(o).count() == 80


def test_crash_resume_reprocesses_only_incomplete(spark, dirs):
    out, ckpt_path = dirs
    docs = docs_dataframe(spark, 80, seed=5)
    run_extraction(spark, docs, out, ckpt_path, num_partitions=N_PARTS)
    full = {
        (r["doc_id"]): [tuple(s) for s in r["spans"]]
        for r in spark.read.parquet(out).collect()
    }

    # simulate a crashed run: drop the COMPLETED rows of partitions 2 and 5
    # (the claim rows survive, as they would after a real mid-run crash)
    ckpt = CheckpointTable(spark, ckpt_path)
    kept = ckpt.read().filter(
        ~(F.col("partition_id").isin([2, 5]) & (F.col("status") == "completed"))
    )
    rows = kept.collect()
    shutil.rmtree(ckpt_path)
    ckpt.append([r.asDict() for r in rows])

    s = run_extraction(spark, docs, out, ckpt_path, num_partitions=N_PARTS)
    assert s["partitions_processed"] == 2
    assert s["partitions_skipped"] == N_PARTS - 2

    resumed = {
        (r["doc_id"]): [tuple(s) for s in r["spans"]]
        for r in spark.read.parquet(out).collect()
    }
    assert resumed == full  # byte-identical output after resume

    # attempts incremented for the reprocessed partitions
    att = ckpt.attempts_so_far()
    assert att[2] == 2 and att[5] == 2
    assert att[0] == 1


def test_lineage_metrics(spark, dirs):
    out, ckpt_path = dirs
    docs = docs_dataframe(spark, 60, seed=11)
    run_extraction(spark, docs, out, ckpt_path, num_partitions=4)
    ckpt = CheckpointTable(spark, ckpt_path)
    stats = {r["status"]: r for r in ckpt.stats().collect()}
    assert stats["completed"]["n"] == 4
    assert stats["completed"]["docs_processed"] == 60


def test_cleanup_completed_q8(spark, tmp_path):
    """Q8 (queue.rs:1171-1184): completed rows older than the horizon are
    deleted; fresh completed rows and non-completed rows survive. A
    ``file://`` URI table is compacted like a plain path."""
    import datetime

    from readur_spark.plans.checkpoint import CheckpointTable

    for path in (str(tmp_path / "ck"), (tmp_path / "ck_uri").as_uri()):
        ck = CheckpointTable(spark, path)
        now = datetime.datetime(2026, 8, 16, 12, 0, 0)
        old = now - datetime.timedelta(days=10)
        fresh = now - datetime.timedelta(hours=2)
        ck.append(
            [
                {"run_id": "r1", "partition_id": 0, "status": "completed", "completed_at": old},
                {"run_id": "r1", "partition_id": 1, "status": "completed", "completed_at": fresh},
                {"run_id": "r1", "partition_id": 2, "status": "failed", "completed_at": old},
            ]
        )
        deleted = ck.cleanup_completed(days_to_keep=7, now=now)
        assert deleted == 1, path
        remaining = {(r["partition_id"], r["status"]) for r in ck.read().collect()}
        assert remaining == {(1, "completed"), (2, "failed")}
        # idempotent
        assert ck.cleanup_completed(days_to_keep=7, now=now) == 0
        # expired partition is re-eligible on resume (its completed row is gone)
        assert ck.completed_partitions() == {1}


def test_cleanup_retains_null_completed_at(spark, tmp_path):
    """A completed row with NULL completed_at must be RETAINED — the old
    tri-state NOT filter evaluated to NULL and silently deleted it
    regardless of age (round-2 advice)."""
    import datetime

    from readur_spark.plans.checkpoint import CheckpointTable

    ck = CheckpointTable(spark, str(tmp_path / "ck"))
    now = datetime.datetime(2026, 8, 16, 12, 0, 0)
    old = now - datetime.timedelta(days=10)
    ck.append(
        [
            {"run_id": "r1", "partition_id": 0, "status": "completed", "completed_at": None},
            {"run_id": "r1", "partition_id": 1, "status": "completed", "completed_at": old},
        ]
    )
    assert ck.cleanup_completed(days_to_keep=7, now=now) == 1
    remaining = {r["partition_id"] for r in ck.read().collect()}
    assert remaining == {0}


def test_cleanup_crash_recovery(spark, tmp_path):
    """The compaction commit is crash-safe: every intermediate state the
    two-rename protocol can crash in is repaired by _recover with no
    duplicated rows."""
    import datetime
    import os
    import shutil

    from readur_spark.plans.checkpoint import CheckpointTable

    now = datetime.datetime(2026, 8, 16, 12, 0, 0)
    old = now - datetime.timedelta(days=10)
    rows = [
        {"run_id": "r1", "partition_id": 0, "status": "completed", "completed_at": old},
        {"run_id": "r1", "partition_id": 1, "status": "running", "completed_at": None},
    ]

    # state A: crash after writing the compacted temp dir (never committed)
    ck = CheckpointTable(spark, str(tmp_path / "a"))
    ck.append(rows)
    shutil.copytree(ck.path, ck.path + ".compact-deadbeef")
    got = ck.read().collect()
    assert len(got) == 2  # temp dropped, original intact
    assert not os.path.exists(ck.path + ".compact-deadbeef")

    # state B: crash between the two renames (main missing, .old present)
    ck = CheckpointTable(spark, str(tmp_path / "b"))
    ck.append(rows)
    os.rename(ck.path, ck.path + ".old-deadbeef")
    got = ck.read().collect()
    assert len(got) == 2  # old table restored as-is
    assert os.path.isdir(ck.path)

    # state C: crash after commit, stale .old leftover
    ck = CheckpointTable(spark, str(tmp_path / "c"))
    ck.append(rows)
    assert ck.cleanup_completed(days_to_keep=7, now=now) == 1
    shutil.copytree(ck.path, ck.path + ".old-cafebabe")
    got = ck.read().collect()
    assert len(got) == 1  # leftover dropped, no duplication
    assert not os.path.exists(ck.path + ".old-cafebabe")

def test_batched_commits_match_single_commit(spark, dirs):
    """batch_partitions=K must produce exactly the single-commit result
    (same rows, same spans), with one commit per chunk recorded."""
    out, ckpt_path = dirs
    docs = docs_dataframe(spark, 80, seed=5)
    s = run_extraction(
        spark, docs, out, ckpt_path,
        num_partitions=N_PARTS, batch_partitions=3,
    )
    assert s["batches"] == 3  # ceil(8 / 3)
    assert s["docs_processed"] == 80
    batched = {
        r["doc_id"]: [tuple(x) for x in r["spans"]]
        for r in spark.read.parquet(out).collect()
    }

    out2, ckpt2 = out + "_ctl", ckpt_path + "_ctl"
    run_extraction(spark, docs, out2, ckpt2, num_partitions=N_PARTS)
    control = {
        r["doc_id"]: [tuple(x) for x in r["spans"]]
        for r in spark.read.parquet(out2).collect()
    }
    assert batched == control


def test_kill_between_batches_loses_at_most_one_chunk(spark, dirs, monkeypatch):
    """A crash after the first chunk's commit must leave that chunk
    completed: the resume skips it, reprocesses the rest, and the final
    output equals an uncrashed control run."""
    import readur_spark.plans.pipeline as pl
    from readur_spark.sources.table_format import (
        overwrite_partitions as real_overwrite,
    )

    out, ckpt_path = dirs
    docs = docs_dataframe(spark, 80, seed=5)

    calls = {"n": 0}

    def crashing_overwrite(df, target, partition_by, fmt="parquet"):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("simulated executor-loss crash")
        return real_overwrite(df, target, partition_by, fmt=fmt)

    # run_extraction imports overwrite_partitions inside the function,
    # so patch the table_format module attribute it resolves from
    import readur_spark.sources.table_format as tf

    monkeypatch.setattr(tf, "overwrite_partitions", crashing_overwrite)
    with pytest.raises(RuntimeError, match="simulated"):
        run_extraction(
            spark, docs, out, ckpt_path,
            num_partitions=N_PARTS, batch_partitions=4,
        )
    monkeypatch.setattr(tf, "overwrite_partitions", real_overwrite)

    ckpt = CheckpointTable(spark, ckpt_path)
    done_after_crash = ckpt.completed_partitions()
    assert len(done_after_crash) == 4  # first chunk committed, second lost

    s = run_extraction(
        spark, docs, out, ckpt_path,
        num_partitions=N_PARTS, batch_partitions=4,
    )
    assert s["partitions_skipped"] == 4
    assert s["partitions_processed"] == 4

    resumed = {
        r["doc_id"]: [tuple(x) for x in r["spans"]]
        for r in spark.read.parquet(out).collect()
    }
    out2, ckpt2 = out + "_ctl", ckpt_path + "_ctl"
    run_extraction(spark, docs, out2, ckpt2, num_partitions=N_PARTS)
    control = {
        r["doc_id"]: [tuple(x) for x in r["spans"]]
        for r in spark.read.parquet(out2).collect()
    }
    assert resumed == control

    # the crashed chunk's partitions were claimed twice, committed once
    att = ckpt.attempts_so_far()
    crashed = sorted(set(range(N_PARTS)) - done_after_crash)
    assert all(att[p] == 2 for p in crashed)
    assert all(att[p] == 1 for p in sorted(done_after_crash))


def test_staged_input_reused_by_resume_then_dropped(spark, dirs, monkeypatch):
    """The staged snapshot survives a crash and is REUSED by the resume
    (the _SUCCESS marker pins it — the resume extracts the exact input
    the crashed run started from), then dropped once every partition is
    committed (it is corpus-sized; leaving it would orphan ~1x the
    input per completed run)."""
    import os

    import readur_spark.plans.pipeline as pl
    import readur_spark.sources.table_format as tf
    from readur_spark.sources.table_format import (
        overwrite_partitions as real_overwrite,
    )

    out, ckpt_path = dirs
    docs = docs_dataframe(spark, 40, seed=9)
    staged = f"{ckpt_path}_staged_p4"
    marker = os.path.join(staged, "_SUCCESS")

    calls = {"n": 0}

    def crashing_overwrite(df, target, partition_by, fmt="parquet"):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("simulated crash")
        return real_overwrite(df, target, partition_by, fmt=fmt)

    monkeypatch.setattr(tf, "overwrite_partitions", crashing_overwrite)
    with pytest.raises(RuntimeError, match="simulated"):
        run_extraction(
            spark, docs, out, ckpt_path,
            num_partitions=4, batch_partitions=2,
        )
    monkeypatch.setattr(tf, "overwrite_partitions", real_overwrite)

    assert os.path.exists(marker)  # staging survives the crash
    mtime = os.path.getmtime(marker)

    pre_drop_mtime = []
    real_drop = pl._drop_staged_input

    def recording_drop(*a, **k):
        pre_drop_mtime.append(os.path.getmtime(marker))
        return real_drop(*a, **k)

    monkeypatch.setattr(pl, "_drop_staged_input", recording_drop)
    s = run_extraction(
        spark, docs, out, ckpt_path,
        num_partitions=4, batch_partitions=2,
    )
    assert s["partitions_skipped"] == 2
    assert s["partitions_processed"] == 2
    # reused, not rewritten: the marker mtime just before the drop is
    # the crashed run's (a restage would have bumped it)
    assert pre_drop_mtime == [mtime]
    assert not os.path.exists(staged)  # dropped at completion


def test_staged_input_dropped_under_glob_metachar_checkpoint_path(spark, dirs):
    """A checkpoint path holding ``[1]`` is a literal name: the batched run
    reads its own staged snapshot and checkpoint back, drops the snapshot
    at completion, and leaves alone a sibling that the path, read as a
    glob, would match."""
    import os

    out, base = dirs
    ckpt_path = f"{base}[1]"
    decoy = f"{base}1_staged_p4"
    os.makedirs(decoy)
    docs = docs_dataframe(spark, 40, seed=9)
    s = run_extraction(
        spark, docs, out, ckpt_path, num_partitions=4, batch_partitions=2
    )
    assert s["partitions_processed"] == 4 and s["docs_processed"] == 40
    assert not os.path.exists(f"{ckpt_path}_staged_p4")
    assert os.path.isdir(decoy)
    again = run_extraction(spark, docs, out, ckpt_path, num_partitions=4)
    assert again["partitions_skipped"] == 4


def test_glob_metachar_output_path_completes_and_resumes(spark, dirs):
    """An output path holding ``[1]`` is a literal name: each chunk's
    lineage metrics read back the committed output, not a glob that
    matches nothing."""
    out, ckpt_path = dirs
    out = f"{out}[1]"
    docs = docs_dataframe(spark, 40, seed=9)
    s = run_extraction(
        spark, docs, out, ckpt_path, num_partitions=4, batch_partitions=2
    )
    assert s["partitions_processed"] == 4 and s["docs_processed"] == 40
    again = run_extraction(spark, docs, out, ckpt_path, num_partitions=4)
    assert again["partitions_processed"] == 0
