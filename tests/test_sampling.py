"""Deterministic split / weighted-sampling operators."""

import pytest
from pyspark.sql import functions as F

from readur_spark.operators import sampling
from readur_spark.operators.sampling import (
    hash_uniform_col,
    sample_by_weight,
    split_assign,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_split_fractions_and_stability(spark, docs):
    out = split_assign(docs, {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    n = sum(counts.values())
    assert n == docs.count()
    assert 0.7 < counts["train"] / n < 0.9  # 500 docs: loose binomial bounds
    # stability under corpus growth: a doc's split never changes when the
    # corpus is subset or extended
    sub = split_assign(docs.limit(100), {"train": 0.8, "val": 0.1, "test": 0.1})
    full_map = {r["doc_id"]: r["split"] for r in out.collect()}
    for r in sub.collect():
        assert full_map[r["doc_id"]] == r["split"]


def test_split_fractions_must_sum_to_one(spark, docs):
    with pytest.raises(ValueError):
        split_assign(docs, {"a": 0.5, "b": 0.4})


def test_splits_are_disjoint_and_exhaustive(spark, docs):
    out = split_assign(docs)
    assert out.count() == docs.count()
    assert out.filter(F.col("split").isNull()).count() == 0


def test_sample_rate_and_determinism(spark, docs, monkeypatch):
    s1 = {r["doc_id"] for r in sample_by_weight(docs, rate=0.5).collect()}
    s2 = {r["doc_id"] for r in sample_by_weight(docs, rate=0.5).collect()}
    assert s1 == s2  # deterministic, unlike DataFrame.sample
    n = docs.count()
    assert 0.4 < len(s1) / n < 0.6
    # a different salt draws an independent sample
    monkeypatch.setattr(sampling, "SAMPLE_SALT", "other")
    s3 = {r["doc_id"] for r in sample_by_weight(docs, rate=0.5).collect()}
    assert s3 != s1


def test_sample_weight_scales_acceptance(spark):
    rows = [(i, "x", 1.0 if i % 2 == 0 else 0.0) for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, text string, weight double")
    kept = sample_by_weight(df, rate=0.5, weight_col="weight").collect()
    assert all(r["weight"] == 1.0 for r in kept)  # zero-weight never kept
    assert 150 < len(kept) < 350  # ≈ 500 × 0.5


def test_uniform_is_uniform(spark, docs):
    stats = docs.select(hash_uniform_col(F.col("doc_id"), "u-test").alias("u")).agg(
        F.min("u"), F.max("u"), F.avg("u")
    ).collect()[0]
    assert 0.0 <= stats[0] and stats[1] < 1.0
    assert 0.4 < stats[2] < 0.6


def test_mix_sources_reweights_and_is_deterministic(spark):
    from readur_spark.operators.sampling import mix_sources

    rows = [(i, ["a", "b", "c"][i % 3]) for i in range(30_000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = mix_sources(df, {"a": 0.6, "b": 0.3, "c": 0.1})
    got = {r["source"]: r["count"] for r in out.groupBy("source").count().collect()}
    n = sum(got.values())
    # M = 10000/0.6 ≈ 16667; shares within binomial tolerance
    assert abs(n - 16667) < 400
    assert abs(got["a"] / n - 0.6) < 0.02
    assert abs(got["b"] / n - 0.3) < 0.02
    assert abs(got["c"] / n - 0.1) < 0.02
    # deterministic across calls; sources outside the target are dropped
    again = {tuple(r) for r in mix_sources(df, {"a": 0.6, "b": 0.3, "c": 0.1}).collect()}
    assert {tuple(r) for r in out.collect()} == again
    only_ab = mix_sources(df, {"a": 0.5, "b": 0.5})
    assert only_ab.filter("source = 'c'").count() == 0


def test_mix_sources_rejects_missing_source(spark):
    from readur_spark.operators.sampling import mix_sources

    df = spark.createDataFrame([(1, "a")], "doc_id long, source string")
    with pytest.raises(ValueError):
        mix_sources(df, {"a": 0.5, "zzz": 0.5})


def test_global_shuffle_is_exact_permutation(spark):
    import hashlib

    from readur_spark.operators.sampling import global_shuffle

    n = 5000
    df = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    out = {
        r["doc_id"]: r["shuffle_pos"]
        for r in global_shuffle(df, num_buckets=64).collect()
    }
    # exact 0..n-1 permutation
    assert sorted(out.values()) == list(range(n))
    # equals the naive global sort by (md5(id || ':shuffle-v1'), id)
    naive = sorted(
        range(n),
        key=lambda i: (
            hashlib.md5(f"{i}:shuffle-v1".encode()).hexdigest(),
            i,
        ),
    )
    assert all(out[doc] == pos for pos, doc in enumerate(naive))
    # looks shuffled, not sorted
    assert [out[i] for i in range(10)] != list(range(10))


def test_global_shuffle_partitioning_invariant_and_salted(spark, monkeypatch):
    from readur_spark.operators.sampling import global_shuffle

    df = spark.createDataFrame([(i,) for i in range(2000)], "doc_id long")
    a = {tuple(r) for r in global_shuffle(df.repartition(3)).collect()}
    b = {tuple(r) for r in global_shuffle(df.repartition(17)).collect()}
    assert a == b
    # a different salt is a different (but still exact) permutation
    monkeypatch.setattr(sampling, "SHUFFLE_SALT", "epoch-2")
    c = {r["doc_id"]: r["shuffle_pos"] for r in global_shuffle(df).collect()}
    assert sorted(c.values()) == list(range(2000))
    assert c != {k: v for k, v in a}


def test_global_shuffle_plan_has_no_single_partition_exchange(spark):
    from readur_spark.operators.sampling import global_shuffle

    df = spark.createDataFrame([(i,) for i in range(100)], "doc_id long")
    plan = global_shuffle(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan, plan


def test_global_shuffle_empty_frame(spark):
    from readur_spark.operators.sampling import global_shuffle

    df = spark.createDataFrame([], "doc_id long")
    assert global_shuffle(df).collect() == []


def test_curriculum_positions(spark):
    """Positions ascend through quality bands; within-band order is the
    salted shuffle; each position appears exactly once."""

    from readur_spark.operators.sampling import curriculum_positions

    rows = [(i, (i * 37 % 100) / 100.0) for i in range(200)]
    docs = spark.createDataFrame(rows, "doc_id long, quality double")
    got = {
        r["doc_id"]: r["curriculum_pos"]
        for r in curriculum_positions(docs, phases=4).collect()
    }
    assert sorted(got.values()) == list(range(200))
    # band boundaries respected: every doc in a lower band precedes
    # every doc in a higher band
    import hashlib as _hl

    def band(q):
        return max(0, min(3, int(q * 4)))

    def key(i, q):
        h = _hl.md5(f"{i}:curriculum-v1".encode()).hexdigest()
        return (band(q), h, i)

    want_order = sorted(rows, key=lambda r: key(*r))
    assert [i for i, _q in want_order] == [
        i for i, _p in sorted(got.items(), key=lambda kv: kv[1])
    ]


def test_curriculum_positions_null_quality_raises(spark):
    """greatest/least skip NULLs, so an unguarded NULL quality would
    silently land in the TOP band — an unscored doc must instead fail
    loudly (advisor finding, r6)."""
    import pytest

    from readur_spark.operators.sampling import curriculum_positions

    docs = spark.createDataFrame(
        [(0, 0.5), (1, None), (2, 0.9)], "doc_id long, quality double"
    )
    with pytest.raises(Exception, match="NULL in quality column"):
        curriculum_positions(docs, phases=4).collect()


def test_mix_sources_temperature(spark):
    """T=1 keeps the natural mix (rates all 1 -> identity); higher T
    flattens: the head source is downsampled toward the tail's share,
    and the kept mix is closer to uniform than the input."""
    from readur_spark.operators.sampling import mix_sources_temperature

    rows = [(i, "big" if i < 900 else "small") for i in range(1000)]
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    t1 = mix_sources_temperature(docs, temperature=1.0)
    assert t1.count() == 1000  # natural distribution = no-op
    t4 = mix_sources_temperature(docs, temperature=4.0).groupBy(
        "source"
    ).count()
    got = {r["source"]: r["count"] for r in t4.collect()}
    # small keeps everything (downsample-only); big shrinks toward
    # p_small^(1/4)/p_big^(1/4) parity
    assert got["small"] == 100
    want_big = 100 * (0.9 ** 0.25) / (0.1 ** 0.25)
    assert abs(got["big"] - want_big) / want_big < 0.15  # Bernoulli noise
    import pytest as _pt

    with _pt.raises(ValueError):
        mix_sources_temperature(docs, temperature=0.0)


def test_mix_sources_temperature_null_source_raises(spark):
    """A NULL source can never match the rate join — it would vanish
    silently even at T=1, breaking the natural-distribution no-op
    contract. Fail loudly instead (review finding)."""
    from readur_spark.operators.sampling import mix_sources_temperature

    docs = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "b")], "doc_id long, source string"
    )
    import pytest as _pt

    with _pt.raises(ValueError, match="NULL in source column"):
        mix_sources_temperature(docs, temperature=2.0)
