"""GPT-style sequence packing: distributed prefix-scan manifest."""

import functools

import pytest
from pyspark.sql import functions as F

from readur_spark.operators import packing
from readur_spark.operators.packing import pack_sequences, packing_stats

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_pack_invariants(spark, docs):
    """No padding, no dropped tokens: every sequence except the last is
    exactly full, total packed tokens == total corpus tokens, and each
    document's segments tile [0, n_tokens) contiguously."""
    from readur_spark.functions.textstats import token_count_col

    L = 512
    manifest = pack_sequences(docs, seq_len=L).cache()
    stats = packing_stats(manifest, L).collect()
    last = max(r["seq_id"] for r in stats)
    for r in stats:
        if r["seq_id"] != last:
            assert r["n_tokens"] == L, r
        else:
            assert 0 < r["n_tokens"] <= L
    total = docs.select(F.sum(token_count_col(F.col("text")))).collect()[0][0]
    packed = manifest.agg(F.sum("n_tokens")).collect()[0][0]
    assert packed == total
    # per-doc tiling
    segs = manifest.orderBy("doc_id", "tok_start").collect()
    by_doc = {}
    for r in segs:
        by_doc.setdefault(r["doc_id"], []).append((r["tok_start"], r["tok_end"]))
    for doc_id, spans in by_doc.items():
        assert spans[0][0] == 0
        for (s0, e0), (s1, e1) in zip(spans, spans[1:]):
            assert s1 == e0  # contiguous, no gap, no overlap
    manifest.unpersist()


def _with_buckets(monkeypatch, n):
    """Pin the prefix scan's bucket count, which pack_sequences takes from
    the cluster's parallelism."""
    scan = packing.bucketed_stream_offsets
    monkeypatch.setattr(
        packing, "bucketed_stream_offsets", functools.partial(scan, num_buckets=n)
    )


def test_pack_deterministic_across_bucket_counts(spark, docs, monkeypatch):
    """The manifest is a pure function of the corpus — bucket count is an
    execution detail (the re-run-safety property spark_partition_id over
    repartitionByRange lacks)."""
    out = []
    for n in (1, 8, 37):
        with monkeypatch.context() as m:
            _with_buckets(m, n)
            out.append({tuple(r) for r in pack_sequences(docs, seq_len=300).collect()})
    assert out[0] == out[1] == out[2]


def test_pack_splits_long_doc_across_sequences(spark):
    """A document longer than seq_len must split across consecutive
    sequences with contiguous ranges."""
    rows = [(1, "tok " * 100), (2, "word " * 700), (3, "end " * 50)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    m = sorted(
        tuple(r) for r in pack_sequences(docs, seq_len=256).collect()
    )
    # doc 1: tokens 0..100 in seq 0; doc 2: 700 tokens spanning seqs 0-3
    assert (0, 1, 0, 100, 100) in m
    d2 = [r for r in m if r[1] == 2]
    assert [r[0] for r in d2] == [0, 1, 2, 3]
    assert d2[0][2:] == (0, 156, 156)      # fills seq 0 to the boundary
    assert d2[1][2:] == (156, 412, 256)    # whole seq 1
    assert d2[2][2:] == (412, 668, 256)    # whole seq 2
    assert d2[3][2:] == (668, 700, 32)     # tail into seq 3
    assert (3, 3, 0, 50, 50) in m          # doc 3 follows in seq 3


def test_pack_no_single_partition_exchange(spark, docs):
    """The scale property: the prefix scan must not plan an Exchange
    SinglePartition (the naive global-order window would)."""
    plan = (
        pack_sequences(docs, seq_len=512)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange SinglePartition" not in plan, plan


def test_pack_string_ids_hash_order(spark, docs, monkeypatch):
    """Non-numeric ids pack deterministically in (xxhash64(id), id) order:
    same invariants (full sequences, token conservation, per-doc tiling),
    identical across bucket counts, and the bucketing never dies in
    arithmetic on the string column (the round-3 failure mode)."""
    from readur_spark.functions.textstats import token_count_col

    sdocs = docs.select(
        F.concat(F.lit("doc-"), F.col("doc_id").cast("string")).alias("doc_id"),
        "text",
    )
    L = 512
    manifest = pack_sequences(sdocs, seq_len=L).cache()
    stats = packing_stats(manifest, L).collect()
    last = max(r["seq_id"] for r in stats)
    assert all(r["n_tokens"] == L for r in stats if r["seq_id"] != last)
    total = sdocs.select(F.sum(token_count_col(F.col("text")))).collect()[0][0]
    assert manifest.agg(F.sum("n_tokens")).collect()[0][0] == total
    assert dict(manifest.dtypes)["doc_id"] == "string"
    # bucket count stays an execution detail for the hash order too
    a = {tuple(r) for r in manifest.collect()}
    _with_buckets(monkeypatch, 7)
    b = {tuple(r) for r in pack_sequences(sdocs, seq_len=L).collect()}
    assert a == b
    manifest.unpersist()


def test_pack_empty_string_corpus_schema(spark):
    empty = spark.createDataFrame([], "doc_id string, text string")
    out = pack_sequences(empty, seq_len=128)
    assert out.count() == 0
    assert dict(out.dtypes)["doc_id"] == "string"


def test_pack_invariants_property_based(spark):
    """Hypothesis over random small corpora: for ANY corpus and seq_len,
    the manifest conserves tokens, fills every non-final sequence
    exactly, and tiles each doc contiguously from zero."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from readur_spark.functions.textstats import token_count_col

    words = st.lists(
        st.text(alphabet="abcdefg", min_size=1, max_size=6), min_size=0, max_size=40
    )

    @settings(
        max_examples=8, deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(
        texts=st.lists(words, min_size=1, max_size=12),
        seq_len=st.integers(min_value=3, max_value=64),
    )
    def run(texts, seq_len):
        docs = spark.createDataFrame(
            [(i, " ".join(ws)) for i, ws in enumerate(texts)],
            "doc_id long, text string",
        )
        rows = pack_sequences(docs, seq_len=seq_len).collect()
        total = docs.select(F.sum(token_count_col(F.col("text")))).collect()[0][0] or 0
        assert sum(r["n_tokens"] for r in rows) == total
        by_seq = {}
        for r in rows:
            by_seq.setdefault(r["seq_id"], 0)
            by_seq[r["seq_id"]] += r["n_tokens"]
        if by_seq:
            last = max(by_seq)
            for sid, n in by_seq.items():
                assert n == seq_len if sid != last else 0 < n <= seq_len
        by_doc = {}
        for r in sorted(rows, key=lambda r: (r["doc_id"], r["tok_start"])):
            by_doc.setdefault(r["doc_id"], []).append((r["tok_start"], r["tok_end"]))
        for spans in by_doc.values():
            assert spans[0][0] == 0
            for (s0, e0), (s1, e1) in zip(spans, spans[1:]):
                assert s1 == e0

    run()


def test_pack_order_col_curriculum_composition(spark, docs):
    """order_col packs the token stream in the GIVEN order: with
    curriculum positions as the key the concatenation order is the
    curriculum order, and the manifest equals a definitional replay
    (sort by position, running sum, cut every seq_len)."""
    from readur_spark.functions.textstats import token_count_col
    from readur_spark.operators.sampling import curriculum_positions

    d = docs.select(
        "doc_id", "text", ((F.col("doc_id") % 7) / 7.0).alias("quality")
    )
    cur = curriculum_positions(d, phases=4)
    got = sorted(
        (r["seq_id"], r["doc_id"], r["tok_start"], r["tok_end"])
        for r in pack_sequences(cur, seq_len=64, order_col="curriculum_pos")
        .collect()
    )
    # definitional replay on the driver
    rows = cur.select(
        "doc_id", "curriculum_pos", token_count_col(F.col("text")).alias("n")
    ).collect()
    want = []
    g = 0
    for r in sorted(rows, key=lambda r: r["curriculum_pos"]):
        n = r["n"]
        if n <= 0:
            continue
        for seq in range(g // 64, (g + n - 1) // 64 + 1):
            s = max(g, seq * 64)
            e = min(g + n, (seq + 1) * 64)
            want.append((seq, r["doc_id"], s - g, e - g))
        g += n
    assert got == sorted(want)


def test_pack_order_col_rejects_non_integral(spark, docs):
    d = docs.withColumn("badkey", F.rand(7))
    with pytest.raises(TypeError, match="integral"):
        pack_sequences(d, order_col="badkey")
