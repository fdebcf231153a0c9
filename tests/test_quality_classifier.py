"""Learned quality classifier: separation, determinism, replica parity."""

import math
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, "/root/repo")

from readur_spark.operators.quality_classifier import (
    quality_filter,
    score_quality,
    train_quality_classifier,
)


@pytest.fixture(scope="module")
def labeled(spark):
    pos = spark.createDataFrame(
        [
            (i, "the committee published the report and the members "
                "reviewed the findings with care and the work continued")
            for i in range(12)
        ],
        "doc_id long, text string",
    )
    neg = spark.createDataFrame(
        [
            (100 + i, "zx click here buy now qq winner free prize zz "
                      "qk offer claim jackpot vv")
            for i in range(12)
        ],
        "doc_id long, text string",
    )
    return pos, neg


def test_classifier_separates_pos_from_neg(spark, labeled):
    pos, neg = labeled
    model = train_quality_classifier(pos, neg, num_buckets=256, iters=25)
    held = spark.createDataFrame(
        [
            (1000, "the members published the findings and reviewed the report"),
            (2000, "click here free prize winner buy now claim offer"),
        ],
        "doc_id long, text string",
    )
    scores = {r["doc_id"]: r["quality_prob"] for r in
              score_quality(held, model).collect()}
    assert scores[1000] > 0.5 > scores[2000]
    # training loss decreased monotonically-ish (first vs last)
    assert model["losses"][-1] < model["losses"][0]


def test_quality_filter_keeps_high_and_short(spark, labeled):
    pos, neg = labeled
    model = train_quality_classifier(pos, neg, num_buckets=256, iters=25)
    docs = spark.createDataFrame(
        [
            (1, "the committee reviewed the report findings with care"),
            (2, "free prize click here winner jackpot claim now"),
            (3, ""),  # unscorable: survives by convention
        ],
        "doc_id long, text string",
    )
    kept = {r["doc_id"] for r in quality_filter(docs, model, 0.5).collect()}
    assert kept == {1, 3}


def test_training_is_deterministic(spark, labeled):
    pos, neg = labeled
    m1 = train_quality_classifier(pos, neg, num_buckets=128, iters=8)
    m2 = train_quality_classifier(pos, neg, num_buckets=128, iters=8)
    assert m1["weights"] == m2["weights"]
    assert m1["bias"] == m2["bias"]
    assert m1["losses"] == m2["losses"]


def test_matches_sequential_replica_both_paths(spark):
    """Driver-side AND distributed training must equal the pure-Python
    replay to the last bit — the property the driver oracle depends on,
    and the guarantee that the size dispatch never changes the model."""
    from tools.expected import quality_classifier_expected

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    pos = docs.filter(F.col("lang") == "en").select("doc_id", "text")
    neg = docs.filter(F.col("lang") != "en").select("doc_id", "text")
    exp_rows, exp_losses = quality_classifier_expected(sf)
    for cap in (10**9, 0):  # driver path, then forced distributed path
        model = train_quality_classifier(
            pos, neg, num_buckets=512, iters=15, driver_train_max=cap
        )
        got = sorted(
            (r["doc_id"], r["quality_prob"])
            for r in score_quality(docs, model).collect()
        )
        assert model["losses"] == exp_losses, cap
        assert got == sorted(exp_rows), cap


def test_funnel_learned_quality_stage(spark, labeled):
    from readur_spark.plans.curation import curate

    pos, neg = labeled
    model = train_quality_classifier(pos, neg, num_buckets=256, iters=25)
    docs = spark.createDataFrame(
        [
            (1, "the committee published the report and the members "
                "reviewed the findings with care and the work continued"),
            (2, "zx click here buy now qq winner free prize zz qk offer "
                "claim jackpot vv extra words to pass length checks here"),
        ],
        "doc_id long, text string",
    )
    chunks, metrics = curate(
        docs, require_gopher=False, quality_model=model,
        near_dup_threshold=0.95, chunk_words=50, overlap_words=0,
    )
    assert metrics["after_learned_quality"] == 1
    assert {r["doc_id"] for r in chunks.collect()} == {1}


def test_saturated_probabilities_train_without_crash(spark, labeled):
    """r5 review: a cleanly-separable corpus at high lr saturates p to
    1.0/0.0 in float64 — the clamp must keep log finite in BOTH paths
    and they must still agree."""
    pos, neg = labeled
    kwargs = dict(num_buckets=64, iters=60, lr=50.0, l2=0.0)
    m_local = train_quality_classifier(pos, neg, **kwargs)
    m_dist = train_quality_classifier(
        pos, neg, driver_train_max=0, **kwargs
    )
    assert m_local["weights"] == m_dist["weights"]
    assert m_local["losses"] == m_dist["losses"]
    assert all(math.isfinite(x) for x in m_local["losses"])
    assert math.isfinite(m_local["bias"])


def test_duplicate_or_overlapping_ids_raise(spark, labeled):
    """_doc_features groups the unioned frame by id — an id on both
    sides (or twice in one) would silently merge two documents into one
    feature row and double-count it through the label join. Fail fast."""
    pos, neg = labeled
    with pytest.raises(ValueError, match="more than once"):
        train_quality_classifier(pos, neg.unionByName(pos.limit(1)))
    with pytest.raises(ValueError, match="more than once"):
        train_quality_classifier(pos.unionByName(pos.limit(1)), neg)


def test_dec15i_accepts_numpy2_scalar_repr():
    """Under numpy 2, ``repr(np.float64(0.5))`` is ``'np.float64(0.5)'``;
    the gradient quantizer must give the same integer as for ``0.5``."""
    from readur_spark.operators.quality_classifier import _dec15i

    class Numpy2Float(float):
        def __repr__(self):
            return f"np.float64({float(self)!r})"

    assert repr(Numpy2Float(0.5)) == "np.float64(0.5)"
    assert _dec15i(Numpy2Float(0.5)) == _dec15i(0.5) == 5 * 10**14
    assert _dec15i(Numpy2Float(-1 / 3)) == _dec15i(-1 / 3)
