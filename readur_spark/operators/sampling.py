"""Deterministic corpus splitting and sampling.

Training pipelines need splits and samples that are (a) reproducible
across runs and engines, (b) stable under corpus growth (a doc's
assignment never changes when other docs are added), and (c) free of
coordination — which rules out ``DataFrame.randomSplit`` (partition-order
dependent) and ``sample`` (seed + partitioning dependent). Everything here
derives a uniform number in [0,1) from a salted md5 of the document id —
one codegen'd expression, no shuffle, no state, and bit-for-bit
reproducible in any engine with md5 (the DuckDB oracles mirror it).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: denominator for the md5-derived uniform: 8 hex chars = 32 bits
_DENOM = float(1 << 32)

#: the salts of sample_by_weight's Bernoulli draw and global_shuffle's
#: permutation
SAMPLE_SALT = "sample-v1"
SHUFFLE_SALT = "shuffle-v1"


def hash_uniform_col(id_col: Column, salt: str) -> Column:
    """Deterministic uniform in [0,1): first 32 bits of
    md5(id || ':' || salt) / 2^32. Change the salt to draw an independent
    uniform for a different decision (split vs sample vs shard)."""
    h = F.md5(F.concat(id_col.cast("string"), F.lit(":" + salt)))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("double") / F.lit(_DENOM)


def split_assign(
    docs: DataFrame, fractions: dict[str, float] | None = None
) -> DataFrame:
    """Add a ``split`` column assigning each doc to a named split with the
    given fractions (must sum to 1). Assignment is a pure function of the
    salted id: stable under corpus growth and engine-portable."""
    fractions = fractions or {"train": 0.98, "val": 0.01, "test": 0.01}
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {total}")
    u = hash_uniform_col(F.col("doc_id"), "split-v1")
    expr = None
    acc = 0.0
    items = list(fractions.items())
    for name, frac in items[:-1]:
        acc += frac
        cond = u < F.lit(acc)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = items[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(F.lit(last))
    return docs.withColumn("split", expr)


def mix_sources(
    docs: DataFrame,
    target_fractions: dict[str, float],
    counts: dict[str, int] | None = None,
) -> DataFrame:
    """Domain mixing by downsample-only reweighting (the static corpus-
    mixing shape of The Pile / DoReMi deployment): resample so the kept
    corpus approximates ``target_fractions`` over ``source``.

    The output size is the maximum feasible without upsampling:
    M = min_s N_s / T_s, and each source keeps rate_s = M·T_s / N_s of its
    docs via the salted-uniform Bernoulli — deterministic, stable under
    reruns, one tiny counts aggregate plus a broadcast of |sources| rates
    (no shuffle of the corpus). Sources not in ``target_fractions`` are
    dropped (target share 0). ``counts``: optional precomputed
    {source: n} per-source counts — skips the aggregate when the caller
    already holds them (mix_sources_temperature does)."""
    total_t = sum(target_fractions.values())
    if total_t <= 0:
        raise ValueError("target fractions must sum to a positive value")
    targets = {s: f / total_t for s, f in target_fractions.items()}
    if counts is None:
        counts = {
            r["s"]: r["n"]
            for r in docs.groupBy(F.col("source").alias("s"))
            .agg(F.count("*").alias("n"))
            .collect()
        }
    missing = [s for s in targets if counts.get(s, 0) == 0]
    if missing:
        raise ValueError(f"target sources absent from the corpus: {missing}")
    m = min(counts[s] / t for s, t in targets.items() if t > 0)
    rates = [(s, min(1.0, m * t / counts[s])) for s, t in targets.items()]
    spark = docs.sparkSession
    rate_df = F.broadcast(
        spark.createDataFrame(rates, "source string, _keep_rate double")
    )
    u = hash_uniform_col(F.col("doc_id"), "mix-v1")
    return (
        docs.join(rate_df, "source")
        .filter(u < F.col("_keep_rate"))
        .drop("_keep_rate")
    )


def mix_sources_temperature(
    docs: DataFrame,
    temperature: float,
) -> DataFrame:
    """Temperature-scaled domain mixing (the multilingual/multi-source
    recipe of mT5 / PaLM): target share of source s ∝ p_s^(1/T) where
    p_s is its empirical share. T=1 keeps the natural distribution;
    T→∞ approaches uniform (boosting small sources' RELATIVE share);
    T<1 sharpens toward the head. Downsample-only like
    :func:`mix_sources` — the targets are computed from the observed
    counts (ONE aggregate, shared with the delegated call) and handed
    to the same salted-Bernoulli machinery, so the corpus never
    shuffles and reruns are deterministic.

    NULL sources raise: a NULL can never match the rate join, so it
    would be dropped silently — at T=1 that breaks the documented
    "natural distribution is a no-op" contract. Fill or filter the
    source column first (same policy as curriculum_positions on NULL
    quality)."""
    if temperature <= 0:
        raise ValueError(f"temperature must be > 0, got {temperature}")
    counts = {
        r["s"]: r["n"]
        for r in docs.groupBy(F.col("source").alias("s"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    if None in counts:
        raise ValueError(
            "mix_sources_temperature: NULL in source column "
            f"'source' ({counts[None]} rows) — fill or drop "
            "unsourced docs first"
        )
    if not counts:
        return docs
    total = sum(counts.values())
    targets = {
        s: (n / total) ** (1.0 / temperature) for s, n in counts.items()
    }
    return mix_sources(docs, targets, counts=counts)


def sample_by_weight(
    docs: DataFrame,
    rate: float,
    weight_col: str | None = None,
) -> DataFrame:
    """Deterministic Bernoulli sample: keep a doc iff its salted uniform is
    below ``rate × weight`` (weight defaults to 1; the product is clamped
    to [0,1], so a weight ≥ 1/rate keeps the doc always). The standard
    quality-weighted downsampling shape — higher-quality docs survive at a
    higher rate, and the decision is per-doc with no shuffle."""
    u = hash_uniform_col(F.col("doc_id"), SAMPLE_SALT)
    p = F.lit(rate) * (F.col(weight_col) if weight_col else F.lit(1.0))
    return docs.filter(u < F.least(F.greatest(p, F.lit(0.0)), F.lit(1.0)))


def global_shuffle(
    docs: DataFrame,
    num_buckets: int = 1024,
) -> DataFrame:
    """Deterministic GLOBAL shuffle with explicit positions: append
    ``shuffle_pos`` holding each row's 0-based rank in the order
    ``(md5(id || ':' || SHUFFLE_SALT), id)`` — the training-data ordering
    step (every epoch pipeline shuffles its packed sequences). The
    permutation is a pure function of the id: reproducible across runs,
    engines, and partitionings, and stable enough to resume mid-epoch.

    Scale shape (mirrors pack_sequences' two-phase prefix scan): a naive
    ``row_number() OVER (ORDER BY key)`` funnels the corpus through ONE
    partition. Here the first 16 key bits bucket rows MONOTONICALLY in
    key order, per-bucket counts (≤``num_buckets`` rows) prefix-sum on
    the driver and broadcast back, and ranks are bucket base + local
    row_number — the window partitions by bucket, so no Exchange
    SinglePartition appears anywhere in the plan (pinned by
    tests/test_plan_quality.py)."""
    from readur_spark.operators.packing import bucketed_stream_offsets

    num_buckets = max(1, min(int(num_buckets), 1 << 16))
    h = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":" + SHUFFLE_SALT)))
    # the shared bucketed prefix scan (packing.bucketed_stream_offsets)
    # with weight 1: gstart == the 0-based global rank. The key is the
    # md5's leading 16 bits as a number — lexicographic order of
    # fixed-width lowercase hex equals numeric order of its prefix, so
    # ordering by (__key, __h, id) IS ordering by (__h, id), and the
    # helper's contiguous key-range buckets are exactly the monotone
    # hash-prefix buckets this function used to build by hand.
    keyed = docs.withColumn("__h", h).withColumn(
        "__key", F.conv(F.substring("__h", 1, 4), 16, 10).cast("long")
    ).withColumn("__n", F.lit(1).cast("long"))
    offs = bucketed_stream_offsets(
        keyed,
        ("__h", "doc_id"),
        num_buckets,
        key_col="__key",
        n_col="__n",
        out_col="shuffle_pos",
    )
    if offs is None:
        return docs.withColumn("shuffle_pos", F.lit(None).cast("long")).filter(
            F.lit(False)
        )
    return offs.drop("__h", "__key", "__n")


def curriculum_positions(docs: DataFrame, phases: int = 10) -> DataFrame:
    """Deterministic curriculum ordering: every document gets its
    0-based position in the training order that ascends through
    ``phases`` quality bands (floor(quality*phases), clamped) with a
    salted-md5 shuffle WITHIN each band — the curriculum-learning
    layout (start on low bands or high, the caller picks by reading
    the order forward or backward).

    Scale shape: band and hash pack into ONE numeric key
    (band·2^48 + first 48 md5 bits — phases ≤ 2^5 keeps the key well
    inside 2^53), so the global rank is the same shared bucketed
    prefix scan as global_shuffle / pack_sequences: no Exchange
    SinglePartition, one metadata-scale collect."""
    if not 1 <= phases <= 32:
        raise ValueError(f"phases must be in [1, 32], got {phases}")
    from readur_spark.operators.packing import bucketed_stream_offsets

    h = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":curriculum-v1")))
    # greatest/least SKIP nulls, so an unguarded NULL quality would
    # silently land in the TOP band (greatest(0, least(p-1, NULL)) =
    # p-1). An unscored doc in a curriculum is an upstream gap — raise
    # instead of inventing a band (codegen'd branch, no action needed).
    q_checked = F.when(
        F.col("quality").isNull(),
        F.raise_error(
            F.lit(
                "curriculum_positions: NULL in quality column "
                "'quality' — score or drop unscored docs first"
            )
        ).cast("double"),
    ).otherwise(F.col("quality").cast("double"))
    band = F.greatest(
        F.lit(0),
        F.least(
            F.lit(phases - 1),
            F.floor(q_checked * phases).cast("int"),
        ),
    )
    u48 = F.conv(F.substring("__h", 1, 12), 16, 10).cast("long")
    keyed = (
        docs.withColumn("__h", h)
        .withColumn(
            "__key", band.cast("long") * F.lit(1 << 48) + u48
        )
        .withColumn("__n", F.lit(1).cast("long"))
    )
    offs = bucketed_stream_offsets(
        keyed,
        ("__h", "doc_id"),
        key_col="__key",
        n_col="__n",
        out_col="curriculum_pos",
    )
    if offs is None:
        return docs.withColumn("curriculum_pos", F.lit(None).cast("long")).filter(
            F.lit(False)
        )
    return offs.drop("__h", "__key", "__n")
