"""HyperBall neighborhood function + harmonic centrality: the
distributed run is pinned EXACTLY (not within tolerance) against the
pure-Python replay — md5 registers make the sketches deterministic —
and the estimates are sanity-checked against exact BFS."""

import math

import pytest

EDGES = [
    ("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("a", "c"),
    ("x", "y"),  # island
]
NODES = ["a", "b", "c", "d", "e", "x", "y"]


def _exact_balls(edges, nodes):
    adj = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
    out = {}
    for v in nodes:
        seen = {v}
        frontier = {v}
        while frontier:
            frontier = {
                u for f in frontier for u in adj.get(f, ()) if u not in seen
            }
            seen |= frontier
        out[v] = seen
    return out


def test_hyperball_matches_replay_exactly_wide_registers(spark):
    """p=8 (m=256) routes the union kernel through the per-row fold
    branch (the m<=64 sort+group-reduce branch is covered by the p=6
    test below) — both must match the pure-Python replay bit-exactly."""
    from readur_spark.operators.neighborhood import (
        hyperball,
        hyperball_replay,
    )

    df = spark.createDataFrame(EDGES, "src string, dst string")
    got = {
        r["node"]: (r["reach_est"], r["harmonic"], r["t_converged"])
        for r in hyperball(df, p=8, max_t=16).collect()
    }
    want = hyperball_replay(EDGES, p=8, max_t=16)
    assert set(got) == set(want)
    for v in want:
        assert got[v][0] == pytest.approx(want[v][0], abs=1e-9)
        assert got[v][1] == pytest.approx(want[v][1], abs=1e-9)
        assert got[v][2] == want[v][2]


def test_hyperball_matches_replay_exactly(spark):
    from readur_spark.operators.neighborhood import (
        hyperball,
        hyperball_replay,
    )

    df = spark.createDataFrame(EDGES, "src string, dst string")
    stats = {}
    got = {
        r["node"]: (r["reach_est"], r["harmonic"], r["t_converged"])
        for r in hyperball(df, p=6, max_t=16, stats=stats).collect()
    }
    want = hyperball_replay(EDGES, p=6, max_t=16)
    assert set(got) == set(want)
    for v in want:
        assert got[v][0] == pytest.approx(want[v][0], abs=1e-9)
        assert got[v][1] == pytest.approx(want[v][1], abs=1e-9)
        assert got[v][2] == want[v][2]
    # register fixpoint reached well inside the cap
    assert stats["converged"] is True
    assert stats["rounds_run"] <= 5
    # neighborhood function is monotone and flat at the fixpoint
    nf = stats["neighborhood_function"]
    assert all(b >= a - 1e-9 for a, b in zip(nf, nf[1:]))
    assert nf[-1] == pytest.approx(nf[-2], abs=1e-9)


def test_hyperball_estimates_near_exact_reachability(spark):
    """With m=4096 registers and 7 nodes the sketches sit deep in the
    linear-counting regime — estimates land within a few percent of the
    exact ball sizes, and the island is cleanly separated."""
    from readur_spark.operators.neighborhood import hyperball

    df = spark.createDataFrame(EDGES, "src string, dst string")
    got = {
        r["node"]: r["reach_est"]
        for r in hyperball(df, p=12, max_t=16).collect()
    }
    exact = {v: len(s) for v, s in _exact_balls(EDGES, NODES).items()}
    for v, n in exact.items():
        assert abs(got[v] - n) / n < 0.05, (v, got[v], n)


def test_hyperball_harmonic_ranks_hub_first(spark):
    """On a star a->{b,c,d,e} the hub reaches everything at distance 1:
    its out-harmonic must dominate, and the leaves' must be 0."""
    from readur_spark.operators.neighborhood import hyperball

    star = [("hub", x) for x in ("b", "c", "d", "e")]
    df = spark.createDataFrame(star, "src string, dst string")
    got = {
        r["node"]: r["harmonic"]
        for r in hyperball(df, p=10, max_t=4).collect()
    }
    assert got["hub"] == max(got.values())
    for leaf in ("b", "c", "d", "e"):
        assert got[leaf] == 0.0
    # hub harmonic approximates |leaves| / 1
    assert got["hub"] == pytest.approx(4.0, rel=0.1)


def test_hyperball_validation_and_empty(spark):
    from readur_spark.operators.neighborhood import hyperball

    df = spark.createDataFrame(EDGES, "src string, dst string")
    with pytest.raises(ValueError):
        hyperball(df, p=3)
    with pytest.raises(ValueError):
        hyperball(df, p=13)
    with pytest.raises(ValueError):
        hyperball(df, max_t=-1)
    empty = spark.createDataFrame([], "src string, dst string")
    assert hyperball(empty, p=6, max_t=3).collect() == []


def test_hyperball_num_partitions_is_result_invariant(spark):
    """The per-task-state knob (r7 advisor finding) changes only the
    physical layout: results stay bit-identical to the default, for a
    width both below and above the corpus's key count."""
    from readur_spark.operators.neighborhood import hyperball

    df = spark.createDataFrame(EDGES, "src string, dst string")

    def run(**kw):
        return sorted(
            (r["node"], r["reach_est"], r["harmonic"], r["t_converged"])
            for r in hyperball(df, p=6, max_t=16, **kw).collect()
        )

    base = run()
    assert run(num_partitions=2) == base
    assert run(num_partitions=64) == base
    with pytest.raises(ValueError, match="num_partitions"):
        hyperball(df, p=6, num_partitions=0)


def test_hyperball_releases_checkpoints(spark):
    from readur_spark.operators.neighborhood import hyperball

    sc = spark.sparkContext
    before = sc._jsc.getPersistentRDDs().size()
    df = spark.createDataFrame(EDGES, "src string, dst string")
    hyperball(df, p=6, max_t=16).count()
    after = sc._jsc.getPersistentRDDs().size()
    assert after - before <= 1  # only the returned frame


def test_hll_register_and_estimate_shared_kernel():
    """The register function is the single definition both sides use;
    spot-pin its determinism and the estimator's linear-counting branch."""
    from readur_spark.operators.neighborhood import (
        hll_estimate,
        hll_register,
    )

    i1, r1 = hll_register("example.com", 8)
    assert (i1, r1) == hll_register("example.com", 8)
    assert 0 <= i1 < 256 and 1 <= r1 <= 57
    # distinct values spread registers: estimate of a 100-element set
    # with m=1024 lands within 10%
    m = 1 << 10
    regs = bytearray(m)
    for k in range(100):
        i, r = hll_register(f"v{k}", 10)
        regs[i] = max(regs[i], r)
    est = hll_estimate(bytes(regs), 10)
    assert abs(est - 100) / 100 < 0.10
    assert math.isfinite(est)
