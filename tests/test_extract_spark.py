"""Spark ↔ kernel span-sequence equality (the north-rule invariant).

Runs the distributed extraction operator over the deterministic synthetic
corpus and asserts per-document span-sequence equality
(kind, text, media_ref, order) against the pure-Python kernel applied
driver-side to the same input — plus determinism across partitioning.
"""

import pytest

from readur_spark.corpus import DOCS_SCHEMA, docs_dataframe, generate_docs
from readur_spark.kernels.extractor import extract_document
from readur_spark.operators.extract import extract_spans

N_DOCS = 150
SEED = 1234


@pytest.fixture(scope="module")
def extracted(spark):
    docs = docs_dataframe(spark, N_DOCS, seed=SEED, num_partitions=6)
    rows = extract_spans(docs, num_partitions=8).collect()
    return {r["doc_id"]: r for r in rows}


@pytest.fixture(scope="module")
def oracle():
    out = {}
    for doc in generate_docs(N_DOCS, seed=SEED):
        out[doc["doc_id"]] = extract_document(doc["spans"])
    return out


def test_all_docs_present(extracted, oracle):
    assert set(extracted) == set(oracle)


def test_span_sequence_equality(extracted, oracle):
    for doc_id, exp in oracle.items():
        got = extracted[doc_id]
        got_spans = [
            (s["kind"], s["text"], s["media_ref"], s["order"]) for s in got["spans"]
        ]
        exp_spans = [
            (s["kind"], s["text"], s["media_ref"], s["order"]) for s in exp["spans"]
        ]
        assert got_spans == exp_spans, f"span mismatch for {doc_id}"


def test_sidecar_equality(extracted, oracle):
    for doc_id, exp in oracle.items():
        got = extracted[doc_id]
        assert got["status"] == exp["status"], doc_id
        assert got["failure_reason"] == exp["failure_reason"], doc_id
        assert got["word_count"] == exp["word_count"], doc_id
        assert got["confidence"] == pytest.approx(exp["confidence"]), doc_id
        assert list(got["preprocessing_applied"]) == exp["preprocessing_applied"], doc_id


def test_partitioning_invariance(spark):
    """Same result regardless of parallelism/partitioning — order derives
    from input structure, never execution order."""
    docs = docs_dataframe(spark, 40, seed=777, num_partitions=2)
    a = {
        r["doc_id"]: [tuple(s) for s in r["spans"]]
        for r in extract_spans(docs, num_partitions=3).collect()
    }
    b = {
        r["doc_id"]: [tuple(s) for s in r["spans"]]
        for r in extract_spans(docs.repartition(13), num_partitions=7).collect()
    }
    assert a == b


def _map_in_pandas_input(df) -> list[str]:
    """Column names the ``MapInPandas`` node of ``df``'s optimized plan
    reads from its child: what crosses the Python boundary."""
    pending = [df._jdf.queryExecution().optimizedPlan()]
    while pending:
        node = pending.pop()
        if node.nodeName() == "MapInPandas":
            out = node.child().output()
            return [out.apply(i).name() for i in range(out.size())]
        children = node.children()
        pending.extend(children.apply(i) for i in range(children.size()))
    raise AssertionError("no MapInPandas node in the plan")


def test_only_read_columns_cross_the_python_boundary(spark):
    """A wide column the kernel never reads is pruned before the Python
    boundary: only ``doc_id``, ``spans`` and the passthrough columns are
    shipped to the workers."""
    from pyspark.sql import functions as F

    docs = docs_dataframe(spark, 10, seed=5).select(
        F.repeat(F.lit("x"), 100_000).alias("wide"),
        "doc_id",
        F.lit(3).alias("partition_id"),
        "spans",
    )
    out = extract_spans(docs, passthrough_cols=["partition_id"])
    assert sorted(_map_in_pandas_input(out)) == [
        "doc_id", "partition_id", "spans"
    ]
    row = out.where(F.col("doc_id") == docs.first()["doc_id"]).first()
    assert row["partition_id"] == 3
    assert "wide" not in out.columns


def test_mega_doc_handled(spark):
    docs = docs_dataframe(
        spark, 5, seed=99, mega_fraction=1.0, mega_span_range=(120, 150)
    )
    rows = extract_spans(docs, num_partitions=4).collect()
    assert len(rows) == 5
    assert all(len(r["spans"]) > 0 for r in rows)


def test_media_only_mega_doc(spark):
    rows = [
        {
            "doc_id": "m",
            "spans": [
                {"kind": "media", "text": "", "media_ref": f"m://{i}", "offset": i}
                for i in range(100)
            ],
        }
    ]
    docs = spark.createDataFrame(rows, DOCS_SCHEMA)
    out = extract_spans(docs).collect()[0]
    assert out["status"] == "completed"
    assert len(out["spans"]) == 100
    assert [s["media_ref"] for s in out["spans"]] == [f"m://{i}" for i in range(100)]


def test_all_text_gated_mega_doc_fails(spark):
    rows = [
        {
            "doc_id": "junk",
            "spans": [
                {"kind": "text", "text": "!@#$%^&*()_+-=[]{}|;':\",./<>?", "media_ref": "", "offset": i}
                for i in range(40)
            ],
        }
    ]
    docs = spark.createDataFrame(rows, DOCS_SCHEMA)
    out = extract_spans(docs).collect()[0]
    assert out["status"] == "failed"
    assert out["failure_reason"] == "low_ocr_confidence"
    assert out["spans"] == []


class TestChunking:
    def test_chunk_boundaries_and_overlap(self, spark):
        from readur_spark.operators.extract import chunk_texts

        words = [f"w{i}" for i in range(100)]
        docs = spark.createDataFrame(
            [("d", " ".join(words)), ("short", "only three words"), ("empty", "   ")],
            "doc_id string, text string",
        )
        rows = sorted(
            ((r["doc_id"], r["chunk_no"], r["chunk_text"], r["n_words"])
             for r in chunk_texts(docs, chunk_words=40, overlap_words=8).collect()),
        )
        by_doc = {}
        for d, no, text, n in rows:
            by_doc.setdefault(d, []).append((no, text.split(), n))
        # 100 words, stride 32: 1 + ceil((100-40)/32) = 3 chunks at 0,32,64
        assert [c[0] for c in by_doc["d"]] == [0, 1, 2]
        assert by_doc["d"][0][1] == words[0:40]
        assert by_doc["d"][1][1] == words[32:72]  # 8-word overlap
        assert by_doc["d"][2][1] == words[64:100]  # final partial chunk
        assert by_doc["d"][2][2] == 36
        # full coverage: every word appears in some chunk
        covered = set()
        for _no, toks, _n in by_doc["d"]:
            covered.update(toks)
        assert covered == set(words)
        # short doc -> exactly one chunk
        assert len(by_doc["short"]) == 1 and by_doc["short"][0][2] == 3
        # empty doc -> no chunks
        assert "empty" not in by_doc

    def test_chunking_is_pure_catalyst(self, spark):
        from readur_spark.operators.extract import chunk_texts

        docs = spark.createDataFrame([("d", "a b c")], "doc_id string, text string")
        # the hybrid plan adds a shuffled branch for the mega tail but
        # still uses no Python anywhere
        hybrid = chunk_texts(docs)._jdf.queryExecution().executedPlan().toString()
        assert "PythonUDF" not in hybrid and "ArrowEvalPython" not in hybrid, hybrid


def test_chunk_property_full_coverage_and_order(spark):
    """Property: for any word list, concatenating chunk word-slices at
    stride boundaries reproduces the exact word sequence, and chunk_no is
    gap-free."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from readur_spark.operators.extract import chunk_texts

    @given(st.integers(min_value=0, max_value=300), st.integers(min_value=2, max_value=50))
    @settings(max_examples=12, deadline=None)
    def check(n_words, chunk_words):
        overlap = chunk_words // 3
        stride = chunk_words - overlap
        words = [f"t{i}" for i in range(n_words)]
        docs = spark.createDataFrame([("d", " ".join(words))], "doc_id string, text string")
        rows = sorted(
            (r["chunk_no"], r["chunk_text"].split(), r["n_words"])
            for r in chunk_texts(docs, chunk_words, overlap).collect()
        )
        if n_words == 0:
            assert rows == []
            return
        assert [r[0] for r in rows] == list(range(len(rows)))
        rebuilt = list(rows[0][1])
        for no, toks, n in rows[1:]:
            assert toks[:overlap] == rebuilt[no * stride : no * stride + min(overlap, len(toks))]
            rebuilt.extend(toks[overlap:] if len(toks) > overlap else toks[len(rebuilt) - no * stride:])
        assert rebuilt[: n_words] == words or set(w for _, t, _ in rows for w in t) == set(words)

    check()


def test_chunk_texts_paths_equal_and_mega_linear(spark):
    """The size-dispatched chunker: the relational mega path must produce
    byte-identical chunks to the zero-shuffle array path, and a 200k-word
    doc must chunk in seconds (the array path alone re-evaluates split()
    per chunk and effectively hangs there)."""
    import time

    from readur_spark.operators.extract import chunk_texts

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"w{i}" for i in range(500))),
            (2, "short doc only"),
            (3, " ".join(f"t{i % 7}" for i in range(129))),
        ],
        "doc_id long, text string",
    )
    a = sorted(tuple(r) for r in chunk_texts(docs, 128, 32).collect())
    b = sorted(
        tuple(r) for r in chunk_texts(docs, 128, 32, array_path_max_words=0).collect()
    )
    assert a == b and len(a) == 8
    mega = " ".join(f"tok{i % 9973} w{i % 331}" for i in range(100_000))
    mdocs = spark.createDataFrame([(1, mega)], "doc_id long, text string")
    t0 = time.time()
    n = chunk_texts(mdocs, chunk_words=128, overlap_words=32).count()
    took = time.time() - t0
    assert n == 2083
    assert took < 60, took
