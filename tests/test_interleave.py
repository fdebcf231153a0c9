"""Interleaved multimodal sequence packing: span-stream prefix scan."""

import re

import pytest
from pyspark.sql import functions as F

from readur_spark.corpus import docs_dataframe
from readur_spark.operators.interleave import (
    build_interleaved_sequences,
    explode_spans,
    interleave_stats,
)

TOK = re.compile(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]")

COSTS = {"media": 64}
TEXT_KINDS = ("text", "html")


def _naive_manifest(rows, seq_len, costs=COSTS, text_kinds=TEXT_KINDS):
    """Definitional replay: walk the global span stream in
    (xxhash-free) ascending doc order — the fixture uses doc-%012d ids,
    so plain string sort equals the hash-order packing only if we feed
    the operator's own stream order.  Instead we replay in the
    OPERATOR's order: ascending (xxhash64(id), id, span_idx), fetched
    from Spark so the two runs share one definition of the key."""
    out = []
    gstart = 0
    for doc_id, span_idx, kind, n in rows:
        first, last = gstart // seq_len, (gstart + n - 1) // seq_len
        for seq in range(first, last + 1):
            s = max(gstart, seq * seq_len)
            e = min(gstart + n, (seq + 1) * seq_len)
            out.append(
                (
                    seq,
                    doc_id,
                    span_idx,
                    s - gstart,
                    e - gstart,
                    e - s,
                    s - seq * seq_len,
                    first != last,
                )
            )
        gstart += n
    return sorted(out)


def _stream_rows(spark, docs):
    """The operator's stream: (doc_id, span_idx, kind, cost) in
    ascending (xxhash64(doc_id), doc_id, span_idx)."""
    sp = explode_spans(docs)
    rows = (
        sp.withColumn("key", F.xxhash64("doc_id"))
        .orderBy("key", "doc_id", "span_idx")
        .collect()
    )
    out = []
    for r in rows:
        if r["kind"] in TEXT_KINDS:
            n = len(TOK.findall(r["text"] or ""))
        else:
            n = COSTS.get(r["kind"], 0)
        if n > 0:
            out.append((r["doc_id"], r["span_idx"], r["kind"], n))
    return out


@pytest.fixture(scope="module")
def docs(spark):
    return docs_dataframe(spark, 120, seed=11, num_partitions=8).cache()


def test_matches_naive_replay(spark, docs):
    L = 256
    got = sorted(
        (
            r["seq_id"],
            r["doc_id"],
            r["span_idx"],
            r["tok_start"],
            r["tok_end"],
            r["n_tokens"],
            r["seq_pos"],
            r["straddles"],
        )
        for r in build_interleaved_sequences(
            docs, seq_len=L, media_token_cost=COSTS, text_kinds=TEXT_KINDS
        ).collect()
    )
    want = _naive_manifest(_stream_rows(spark, docs), L)
    assert got == want


def test_conservation_and_fill(spark, docs):
    """Every sequence but the last is exactly full; totals conserve."""
    L = 512
    man = build_interleaved_sequences(
        docs, seq_len=L, media_token_cost=COSTS, text_kinds=TEXT_KINDS
    ).cache()
    stats = interleave_stats(man, L, text_kinds=TEXT_KINDS).collect()
    last = max(r["seq_id"] for r in stats)
    for r in stats:
        total = r["n_text_tokens"] + r["n_media_tokens"]
        if r["seq_id"] != last:
            assert total == L, r
        else:
            assert 0 < total <= L
    stream = _stream_rows(spark, docs)
    assert man.agg(F.sum("n_tokens")).collect()[0][0] == sum(
        n for *_x, n in stream
    )
    # media accounting: every media span appears, block total preserved
    media_tok = man.filter(F.col("kind") == "media").agg(
        F.sum("n_tokens")
    ).collect()[0][0]
    assert media_tok == sum(n for _d, _i, k, n in stream if k == "media")
    man.unpersist()


def test_media_cut_flag(spark):
    """A media block crossing a boundary is split into two rows, both
    flagged straddles, partial costs summing to the block."""
    rows = [
        {
            "doc_id": "a",
            "spans": [
                {"kind": "text", "text": "w " * 60, "media_ref": "", "offset": 0},
                {"kind": "media", "text": "", "media_ref": "m1", "offset": 1},
            ],
        }
    ]
    docs = spark.createDataFrame(rows, "doc_id string, spans array<struct<"
                                       "kind string, text string, media_ref string, offset int>>")
    man = build_interleaved_sequences(
        docs, seq_len=64, media_token_cost=16
    ).collect()
    media = sorted(
        (r["seq_id"], r["tok_start"], r["tok_end"], r["straddles"], r["seq_pos"])
        for r in man
        if r["kind"] == "media"
    )
    # 60 text tokens then a 16-token block: cut at 64 -> [60,64) + [64,76)
    assert media == [(0, 0, 4, True, 60), (1, 4, 16, True, 0)]


def test_empty_and_dropped_kinds(spark):
    rows = [
        {
            "doc_id": "a",
            "spans": [
                {"kind": "text", "text": "", "media_ref": "", "offset": 0},
                {"kind": "hologram", "text": "", "media_ref": "h", "offset": 1},
            ],
        }
    ]
    docs = spark.createDataFrame(rows, "doc_id string, spans array<struct<"
                                       "kind string, text string, media_ref string, offset int>>")
    # empty text and an unbudgeted kind both drop -> empty manifest
    assert build_interleaved_sequences(docs, seq_len=64).count() == 0
    assert build_interleaved_sequences(
        docs.filter(F.lit(False)), seq_len=64
    ).count() == 0


def test_numeric_id_stream_order(spark):
    """Numeric ids pack in ascending id order (no hashing)."""
    rows = [
        (2, [{"kind": "text", "text": "b b b", "media_ref": "", "offset": 0}]),
        (1, [{"kind": "text", "text": "a a", "media_ref": "", "offset": 0}]),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, spans array<struct<"
                                       "kind string, text string, media_ref string, offset int>>")
    man = {
        r["doc_id"]: r["seq_pos"]
        for r in build_interleaved_sequences(docs, seq_len=100).collect()
    }
    assert man == {1: 0, 2: 2}


def _len_encoder(c):
    # deterministic fake tokenizer: one id per regex token = its length
    return F.transform(
        F.regexp_extract_all(c, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0),
        lambda t: F.length(t),
    )


def test_materialize_roundtrip(spark, docs):
    """Element streams reassemble exactly: per sequence, elements tile
    [0, seq_len) in pos order, text ids match the encoder slice replay,
    media placeholders reserve their manifest block."""
    from readur_spark.operators.interleave import materialize_interleaved

    L = 256
    man = build_interleaved_sequences(
        docs, seq_len=L, media_token_cost=COSTS, text_kinds=TEXT_KINDS
    ).cache()
    seqs = {
        r["seq_id"]: r
        for r in materialize_interleaved(
            docs, man, _len_encoder, text_kinds=TEXT_KINDS
        ).collect()
    }
    # replay from the stream definition
    stream = _stream_rows(spark, docs)
    span_text = {
        (r["doc_id"], r["span_idx"]): r["text"]
        for r in explode_spans(docs).collect()
    }
    want_tok = {}
    gstart = 0
    for doc_id, span_idx, kind, n in stream:
        for t in range(n):
            g = gstart + t
            seq, pos = g // L, g % L
            if kind in TEXT_KINDS:
                toks = TOK.findall(span_text[(doc_id, span_idx)] or "")
                want_tok.setdefault(seq, {})[pos] = len(toks[t])
            else:
                want_tok.setdefault(seq, {})[pos] = ("media", doc_id, span_idx)
        gstart += n
    for seq_id, row in seqs.items():
        got = {}
        for el in row["elements"]:
            p = el["pos"]
            if el["ids"] is not None:
                for j, tid in enumerate(el["ids"]):
                    got[p + j] = tid
            else:
                for j in range(el["n_tokens"]):
                    got[p + j] = "M"
        want = {
            p: ("M" if isinstance(v, tuple) else v)
            for p, v in want_tok[seq_id].items()
        }
        assert got == want, seq_id
        assert row["n_tokens"] == len(want)
        # elements tile contiguously in pos order
        pos = [(el["pos"], el["n_tokens"]) for el in row["elements"]]
        assert pos == sorted(pos)
        for (p1, n1), (p2, _n2) in zip(pos, pos[1:]):
            assert p1 + n1 == p2
    man.unpersist()


def _funnel(base, rep, seq_len):
    """Replicate ``base`` ``rep`` times with distinct ids → extract_spans →
    md5 content-fingerprint dedup (smallest doc_id per fingerprint, so the
    '-1' replica survives) → manifest → stats → a corpus-level signature
    of the materialized element streams (bit_xor of xxhash64 over each
    sequence's canonical rendering keyed by seq_id)."""
    from pyspark.sql.window import Window

    from readur_spark.operators.extract import extract_spans
    from readur_spark.operators.interleave import materialize_interleaved

    reps = F.explode(F.sequence(F.lit(1), F.lit(rep))).alias("rep")
    docs = (
        base.select(reps, "doc_id", "spans")
        .select(F.concat_ws("-", "doc_id", "rep").alias("doc_id"), "spans")
        .repartition(8)
    )
    w = Window.partitionBy("__fp").orderBy("doc_id")
    deduped = (
        extract_spans(docs)
        .filter(F.col("status") == "completed")
        .withColumn("__fp", F.md5(F.to_json(F.col("spans"))))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__fp", "__rn")
        .cache()
    )
    out = {"n_after_dedup": deduped.count()}
    manifest = build_interleaved_sequences(deduped, seq_len=seq_len).cache()
    agg = interleave_stats(manifest, seq_len).agg(
        F.count("*").alias("n_seqs"),
        F.sum("n_media").alias("n_media"),
        F.sum(F.when(F.col("fill") < 1.0, 1).otherwise(0)).alias("n_underfull"),
    ).collect()[0]
    out["n_seqs"] = agg["n_seqs"]
    out["n_media"] = int(agg["n_media"] or 0)
    out["n_underfull"] = int(agg["n_underfull"] or 0)
    render = F.md5(
        F.concat_ws(
            ";",
            F.transform(
                "elements",
                lambda e: F.concat_ws(
                    "|",
                    e["pos"],
                    e["kind"],
                    F.coalesce(e["media_ref"], F.lit("")),
                    F.coalesce(F.concat_ws(",", e["ids"]), F.lit("")),
                    e["n_tokens"],
                ),
            ),
        )
    )
    sig = (
        materialize_interleaved(deduped, manifest, _len_encoder)
        .select(F.xxhash64(F.concat_ws("#", F.col("seq_id"), render)).alias("h"))
        .agg(F.expr("bit_xor(h)").alias("sig"))
        .collect()[0]["sig"]
    )
    out["materialize_sig"] = int(sig or 0)
    manifest.unpersist()
    deduped.unpersist()
    return out


def test_interleave_funnel_rep_invariant(spark):
    """Funnel-level composition (r6 verdict, next-round #3): extract →
    fingerprint dedup → manifest → materialize produces BIT-IDENTICAL
    element streams whether the corpus carries 1 or 20 exact replicas
    of every document — the dedup stage must collapse replication
    without disturbing stream order, and the downstream manifest /
    materialization must depend only on the surviving set."""
    base = docs_dataframe(spark, 150, seed=20260818).localCheckpoint(
        eager=True
    )
    r1 = _funnel(base, rep=1, seq_len=256)
    r20 = _funnel(base, rep=20, seq_len=256)
    assert r1["n_after_dedup"] == r20["n_after_dedup"]
    assert r1["materialize_sig"] == r20["materialize_sig"]
    assert r1["n_seqs"] == r20["n_seqs"]
    # media spans are IN the stream (the silent-drop composition gap
    # this funnel found: extraction's unified 'media' kind must carry a
    # default budget) and only the final sequence may be under-full
    assert r20["n_media"] > 0
    assert r20["n_underfull"] <= 1
