"""Similarity search: brute force, SRP-LSH, IVF."""

import pytest
from pyspark.sql import functions as F

from readur_spark.operators.similarity import (
    ann_topk_lsh,
    cosine_topk,
    hyperplane_lsh_buckets,
    ivf_assign,
    ivf_topk,
)

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def query_vec(emb):
    return [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]


def test_brute_force_topk_self_first(emb, query_vec):
    top = cosine_topk(emb, query_vec, k=10).collect()
    assert len(top) == 10
    assert top[0]["vec_id"] == 0 and top[0]["cosine"] == 1.0
    scores = [r["cosine"] for r in top]
    assert scores == sorted(scores, reverse=True)


def test_lsh_results_subset_of_corpus_ranking(emb, query_vec):
    approx = ann_topk_lsh(emb, query_vec, k=10, num_planes=4)
    rows = approx.collect()
    assert 0 < len(rows) <= 10
    # scored exactly within the bucket → descending, self-match included
    # (the query vector's own bucket contains it)
    assert rows[0]["vec_id"] == 0


def test_lsh_buckets_deterministic(emb):
    a = {r["vec_id"]: r["bucket"] for r in hyperplane_lsh_buckets(emb, num_planes=8).collect()}
    b = {r["vec_id"]: r["bucket"] for r in hyperplane_lsh_buckets(emb, num_planes=8).collect()}
    assert a == b
    assert len(set(a.values())) > 1


def test_ivf_assignment_and_recall(emb, query_vec):
    assigned, centroids = ivf_assign(emb, n_centroids=8, seed=42)
    clusters = assigned.select("cluster").distinct().count()
    assert 1 < clusters <= 8
    assert len(centroids) == 8

    exact = {r["vec_id"] for r in cosine_topk(emb, query_vec, k=10).collect()}
    approx = {r["vec_id"] for r in ivf_topk(emb, query_vec, k=10, n_centroids=8, n_probe=4).collect()}
    assert 0 in approx  # self-match always found (its own cluster is probed)
    assert len(exact & approx) / 10 >= 0.5  # reasonable recall at n_probe=4/8


def test_ivf_full_probe_equals_exact(emb, query_vec):
    exact = [(r["vec_id"], r["cosine"]) for r in cosine_topk(emb, query_vec, k=10).collect()]
    full = [
        (r["vec_id"], r["cosine"])
        for r in ivf_topk(emb, query_vec, k=10, n_centroids=8, n_probe=8).collect()
    ]
    assert full == exact  # probing every cluster = brute force


def test_ivf_large_k_pandas_path_matches_literal_path(spark, emb, query_vec):
    """Above max_literal_centroids the assignment switches to the
    broadcast-matmul pandas UDF; assignments must match the Catalyst
    literal-argmin form exactly."""
    from readur_spark.operators.similarity import ivf_assign

    lit_df, lit_c = ivf_assign(emb, n_centroids=8, seed=42, max_literal_centroids=64)
    udf_df, udf_c = ivf_assign(emb, n_centroids=8, seed=42, max_literal_centroids=2)
    assert lit_c == udf_c
    a = {r["vec_id"]: r["cluster"] for r in lit_df.select("vec_id", "cluster").collect()}
    b = {r["vec_id"]: r["cluster"] for r in udf_df.select("vec_id", "cluster").collect()}
    assert a == b


def test_quantize_int8_roundtrip(spark, emb):
    from readur_spark.operators.similarity import dequantize_int8, quantize_int8

    deq = dequantize_int8(quantize_int8(emb))
    rows = deq.select("embedding", "embedding_deq", "embedding_q8_scale").collect()
    for r in rows:
        scale = r["embedding_q8_scale"]
        for orig, back in zip(r["embedding"], r["embedding_deq"]):
            assert abs(float(orig) - back) <= scale / 2 + 1e-12


def test_semdedup_collapses_epsilon_balls_keeps_first(spark):
    """SemDeDup: near-identical embeddings collapse to the lowest id in
    their ε-ball; orthogonal vectors all survive; a negated vector (cos
    = -1) survives too."""
    import numpy as np

    from readur_spark.operators.similarity import semdedup

    base = np.zeros(8); base[0] = 1.0
    near = base + 0.01  # cosine ~0.999
    orth = np.zeros(8); orth[1] = 1.0
    neg = -base
    rows = [
        (1, [float(x) for x in base]),
        (2, [float(x) for x in near]),
        (3, [float(x) for x in orth]),
        (4, [float(x) for x in neg]),
        (5, [float(x) for x in near * 2.0]),  # scaled: same direction
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kept = {
        r["vec_id"]
        for r in semdedup(df, threshold=0.95, n_clusters=2).collect()
    }
    assert 1 in kept and 3 in kept and 4 in kept
    assert 2 not in kept and 5 not in kept  # ε-ball collapsed to id 1


def test_semdedup_matches_sequential_replica(spark):
    import sys

    sys.path.insert(0, "/root/repo")
    from readur_spark.operators.similarity import semdedup
    from tools.expected import semdedup_expected

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    got = sorted(
        (r["vec_id"],)
        for r in semdedup(emb, threshold=0.3, n_clusters=8).collect()
    )
    exp = semdedup_expected(
        "/root/testdata/sf0.001", threshold=0.3, n_clusters=8
    )
    assert got == exp
    assert 0 < len(got) < emb.count()  # really pruned something


def _vecs_df(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_semdedup_oversized_duplicate_cluster_resplit_matches_unsplit(spark):
    """r4 verdict #2: a giant exact-duplicate ball k-means cannot separate
    must be re-split (salted sub-k-means, then forced hash split at the
    depth cap), and the survivor pass must collapse boundary-straddling
    duplicates so the final kept set EQUALS the unsplit answer."""
    import numpy as np

    from readur_spark.operators.similarity import semdedup

    rng = np.random.RandomState(7)
    base = np.zeros(8)
    base[0] = 1.0
    rows = [
        # 900 same-direction vectors (cosine exactly 1 pairwise)
        (i, [float(x) for x in base * (1.0 + 0.001 * (i % 7))])
        for i in range(900)
    ] + [
        # 60 well-separated distinct directions
        (1000 + j, [float(x) for x in rng.standard_normal(8) * 3.0])
        for j in range(60)
    ]
    df = _vecs_df(spark, rows)
    guarded = semdedup(
        df, threshold=0.95, n_clusters=1,
        target_cluster_size=100, max_cluster_size=200, max_split_depth=2,
    ).collect()
    unsplit = semdedup(
        df, threshold=0.95, n_clusters=1,
        target_cluster_size=10**9, max_cluster_size=10**9,
    ).collect()
    assert {r["vec_id"] for r in guarded} == {r["vec_id"] for r in unsplit}
    # the duplicate family collapsed to its global minimum id
    kept_dups = [r["vec_id"] for r in guarded if r["vec_id"] < 1000]
    assert kept_dups == [0]
    # survivors refit the cap, so nothing stays flagged
    assert all(not r["oversized_split"] for r in guarded)


def test_semdedup_residual_diverse_megacluster_is_flagged_not_dropped(spark):
    """A genuinely diverse oversized cluster (no duplicates to shrink it)
    keeps all rows and SURFACES them with oversized_split=true — the
    guard never silently caps or drops."""
    import numpy as np

    from readur_spark.operators.similarity import semdedup

    rng = np.random.RandomState(11)
    rows = [
        (i, [float(x) for x in rng.standard_normal(32)]) for i in range(600)
    ]
    df = _vecs_df(spark, rows)
    out = semdedup(
        df, threshold=0.95, n_clusters=1,
        target_cluster_size=100, max_cluster_size=150, max_split_depth=1,
    ).collect()
    # random gaussian directions in R^32 essentially never exceed 0.95
    # cosine: every row survives, and every row is flagged residual
    assert len(out) == 600
    assert all(r["oversized_split"] for r in out)


def test_semdedup_auto_n_clusters(spark):
    """n_clusters=None derives ceil(count/target) from one count() and
    matches the equivalent explicit setting exactly."""
    import numpy as np

    from readur_spark.operators.similarity import semdedup

    rng = np.random.RandomState(3)
    rows = [
        (i, [float(x) for x in rng.standard_normal(8)]) for i in range(100)
    ]
    df = _vecs_df(spark, rows)
    auto = semdedup(df, threshold=0.9, target_cluster_size=10).collect()
    explicit = semdedup(df, threshold=0.9, n_clusters=10).collect()
    assert {r["vec_id"] for r in auto} == {r["vec_id"] for r in explicit}


def test_semdedup_empty_input_returns_empty(spark):
    """curate()'s embeddings semi-join against survivors can come up
    empty — semdedup must short-circuit (ivf_assign's centroid sampler
    would np.vstack an empty sample) and still append the guard column."""
    from readur_spark.operators.similarity import semdedup

    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<double>"
    )
    for kwargs in ({}, {"n_clusters": 4}):
        out = semdedup(empty, threshold=0.9, **kwargs)
        assert out.columns == ["vec_id", "embedding", "oversized_split"]
        assert out.count() == 0
