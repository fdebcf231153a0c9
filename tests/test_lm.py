"""CCNet-style bigram-LM perplexity filtering."""

import math

import pytest
from pyspark.sql import functions as F

from readur_spark.operators.lm import (
    BigramLM,
    perplexity_filter,
    perplexity_score,
    train_bigram_lm,
)

SF = "/root/testdata/sf0.001"


def _mk(spark, rows):
    return spark.createDataFrame(rows, "doc_id string, text string")


def test_train_counts_and_vocab(spark):
    docs = _mk(spark, [("a", "the cat sat"), ("b", "the cat ran far")])
    lm = train_bigram_lm(docs)
    pairs = {(r["prev"], r["word"]): r["c"] for r in lm.pair_counts.collect()}
    assert pairs == {
        ("the", "cat"): 2,
        ("cat", "sat"): 1,
        ("cat", "ran"): 1,
        ("ran", "far"): 1,
    }
    ctx = {r["prev"]: r["cc"] for r in lm.ctx_counts.collect()}
    assert ctx == {"the": 2, "cat": 2, "ran": 1}
    assert lm.vocab_size == 5  # the cat sat ran far


def test_perplexity_matches_hand_computation(spark):
    docs = _mk(spark, [("a", "the cat sat"), ("b", "the cat ran far")])
    lm = train_bigram_lm(docs)
    score = _mk(spark, [("x", "the cat sat"), ("y", "the dog")])
    got = {r["doc_id"]: r for r in perplexity_score(score, lm).collect()}
    k, v = 0.5, 5.0
    # doc x: P(cat|the)=(2+.5)/(2+.5*5), P(sat|cat)=(1+.5)/(2+.5*5)
    lps = [math.log(2.5 / 4.5), math.log(1.5 / 4.5)]
    nll = -sum(lps) / 2
    assert got["x"]["n_bigrams"] == 2
    assert got["x"]["avg_nll"] == pytest.approx(nll)
    assert got["x"]["perplexity"] == pytest.approx(math.exp(nll))
    # doc y: unseen pair (the, dog): (0+.5)/(2+.5*5)
    assert got["y"]["avg_nll"] == pytest.approx(-math.log(0.5 / 4.5))


def test_unseen_context_degrades_to_uniform(spark):
    docs = _mk(spark, [("a", "alpha beta gamma")])
    lm = train_bigram_lm(docs)
    got = perplexity_score(_mk(spark, [("z", "zz qq")]), lm).collect()[0]
    # unseen context: (0 + k) / (0 + k*V) = 1/V
    assert got["perplexity"] == pytest.approx(float(lm.vocab_size))


def test_filter_keeps_fluent_and_short_docs(spark):
    """In-domain text scores below the ceiling, shuffled/foreign text
    above it; sub-2-token docs pass through (no LM evidence)."""
    train = _mk(
        spark,
        [(str(i), "the quick brown fox jumps over the lazy dog again and again")
         for i in range(20)],
    )
    lm = train_bigram_lm(train)
    cands = _mk(
        spark,
        [
            ("fluent", "the quick brown fox jumps over the lazy dog"),
            ("garbage", "dog the over fox quick jumps brown lazy the"),
            ("short", "one"),
        ],
    )
    scores = {
        r["doc_id"]: r["perplexity"]
        for r in perplexity_score(cands, lm).collect()
    }
    assert scores["fluent"] < scores["garbage"]
    cut = (scores["fluent"] + scores["garbage"]) / 2
    kept = {r["doc_id"] for r in perplexity_filter(cands, lm, cut).collect()}
    assert kept == {"fluent", "short"}


def test_broadcast_model_plan(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    # train on a filtered subset (limit() would inject its own
    # Exchange SinglePartition into the plan under test)
    lm = train_bigram_lm(docs.filter(F.col("doc_id") % 10 == 0))
    plan = (
        perplexity_score(docs, lm, broadcast_model=True)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "Exchange SinglePartition" not in plan, plan


def test_backoff_score_hits_every_level(spark):
    """Hand-verified Stupid Backoff: seen trigram, bigram backoff,
    unigram backoff, and OOV each produce the exact Brants-2007 score."""
    from readur_spark.operators.lm import backoff_score, train_backoff_lm

    train = _mk(spark, [("t", "a b c d")])  # trigrams: abc, bcd
    lm = train_backoff_lm(train)
    assert lm.total_tokens == 4
    cands = _mk(
        spark,
        [
            ("seen", "a b c"),      # c(abc)=1 / c(ab)=1 -> 1.0
            ("bi", "x b c"),        # no xbc; c(bc)=1 / c(b)=1 -> 0.4
            ("uni", "x y c"),       # no xyc, no yc; 0.16 * c(c)/4
            ("oov", "x y z"),       # z unseen -> 0.16 * 0.5/4
        ],
    )
    got = {r["doc_id"]: r["avg_nll"] for r in backoff_score(cands, lm).collect()}
    assert got["seen"] == pytest.approx(-math.log(1.0))
    assert got["bi"] == pytest.approx(-math.log(0.4))
    assert got["uni"] == pytest.approx(-math.log(0.4 * 0.4 * 1 / 4))
    assert got["oov"] == pytest.approx(-math.log(0.4 * 0.4 * 0.5 / 4))


def test_backoff_broadcast_plan(spark):
    from readur_spark.operators.lm import backoff_score, train_backoff_lm

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    lm = train_backoff_lm(docs.filter(F.col("doc_id") % 10 == 0))
    plan = (
        backoff_score(docs, lm, broadcast_model=True)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("BroadcastHashJoin") >= 5, plan
    assert "Exchange SinglePartition" not in plan, plan


def test_bigram_lm_is_a_proper_distribution_per_context(spark):
    """Add-k smoothing must normalize: for any seen context p,
    sum over the training vocab of (c(p,w)+k)/(c(p)+kV) plus nothing
    else equals exactly 1 (the unseen vocab words are part of the same
    V-term sum)."""
    docs = _mk(spark, [("a", "x y x z y x")])
    lm = train_bigram_lm(docs)
    pairs = {(r["prev"], r["word"]): r["c"] for r in lm.pair_counts.collect()}
    ctx = {r["prev"]: r["cc"] for r in lm.ctx_counts.collect()}
    vocab = {w for _, w in pairs} | {p for p, _ in pairs}
    assert len(vocab) == lm.vocab_size
    k, v = lm.add_k, lm.vocab_size
    for p, cc in ctx.items():
        total = sum(
            (pairs.get((p, w), 0) + k) / (cc + k * v) for w in vocab
        )
        assert total == pytest.approx(1.0, abs=1e-12), p


def test_bigram_training_is_one_tokenize_pass(spark):
    """r4 verdict #5: the model tables must be checkpointed counts — no
    corpus re-tokenization in their lineage (the tokenize ran exactly
    once into a cache during training)."""
    from readur_spark.operators.lm import train_bigram_lm

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma alpha beta") for i in range(6)],
        "doc_id long, text string",
    )
    lm = train_bigram_lm(docs)
    for df in (lm.pair_counts, lm.ctx_counts):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "split(" not in plan, plan
        assert "Generate explode" not in plan, plan


def test_backoff_training_is_one_tokenize_pass(spark):
    from readur_spark.operators.lm import train_backoff_lm

    docs = spark.createDataFrame(
        [(i, "one two three four five one two three") for i in range(6)],
        "doc_id long, text string",
    )
    lm = train_backoff_lm(docs)
    for df in (lm.tri, lm.bi, lm.uni):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "split(" not in plan, plan
        assert "Generate explode" not in plan, plan


def test_training_releases_cache_blocks(spark):
    from readur_spark.operators.lm import train_backoff_lm, train_bigram_lm

    sc = spark.sparkContext
    docs = spark.createDataFrame(
        [(i, "cache release check words here") for i in range(4)],
        "doc_id long, text string",
    )
    base = sc._jsc.getPersistentRDDs().size()
    train_bigram_lm(docs)
    train_backoff_lm(docs)
    assert sc._jsc.getPersistentRDDs().size() <= base + 6  # models only
