"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023).

The modern pretraining-data selection step: score every raw-corpus
document by how much more likely its hashed n-gram bag is under a TARGET
distribution (the domain you want more of) than under the RAW
distribution, then resample the corpus with probability proportional to
that importance weight. Unlike a trained classifier there is nothing to
fit — both distributions are closed-form count tables — which is why it
scales to trillions of tokens.

Spark-first shape, no Python in any plan:

* features: word n-grams hashed into ``num_buckets`` via the repo's
  engine-portable md5 bucket (first 32 bits of md5(gram||salt) mod B) —
  the same construction the DuckDB oracles replay exactly;
* the two distributions are ONE aggregation each over the hashed
  features (map-side combining; B rows out — kilobytes, broadcastable);
* per-doc log-weights: features LEFT-join the B-row log-ratio table
  (broadcast) and roll up per doc — the raw corpus shuffles once on the
  doc id and never on anything bigger;
* resampling: Gumbel top-k from the SAME salted-uniform machinery as
  split/sample (key = log_w + Gumbel(hash_uniform(id))) — a weighted
  sample without replacement that is a pure function of (id, salt),
  deterministic across re-runs and engines.

Smoothing: add-``ALPHA`` on both distributions over the same B buckets,
so empty target buckets penalize instead of zeroing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from readur_spark.operators.sampling import hash_uniform_col

ALPHA = 1.0  # add-alpha smoothing of both bucket distributions
# dsir_resample's large-k path: rows its approxQuantile bracket aims to hold
BOUNDARY_BAND = 500_000

#: feature-hash salt — versioned so a changed hash can never silently mix
#: with weights computed under the old one
DSIR_SALT = "dsir-v1"


def _bucket_col(gram: Column, num_buckets: int) -> Column:
    """Engine-portable feature hash: first 32 bits of md5(gram||salt),
    mod B (same construction as sampling.hash_uniform_col)."""
    h = F.md5(F.concat(gram, F.lit(":" + DSIR_SALT)))
    return (
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % F.lit(num_buckets)
    ).alias("bucket")


def hashed_ngram_features(
    docs: DataFrame,
    n: int = 2,
    num_buckets: int = 10_000,
) -> DataFrame:
    """(id, bucket, cnt): hashed word-n-gram counts per document. Linear
    per doc (sliced-zip n-grams, one explode); multiset counts — DSIR's
    bag-of-features, not a set."""
    from readur_spark.operators.lm import words_col

    # Materialize the token array ONCE behind a Generate barrier
    # (explode of a 1-element array): Catalyst's projection collapse
    # otherwise inlines the split(lower(text)) expression into every
    # slice/size reference — the plan showed the tokenizer evaluated
    # 4-8× per row (guide §1/§2.3: shuffle and compute fewer bytes).
    # Generate is not collapsed, so downstream slices reference the
    # materialized attribute. Output is bit-identical (measured, and
    # the DuckDB oracles replay the same values).
    based = docs.select(
        F.col("doc_id").alias("id"),
        F.explode(F.array(words_col(F.col("text")))).alias("w"),
    )
    w = F.col("w")
    size = F.size(w)
    parts = [
        F.slice(w, i + 1, size - (n - 1)).alias(f"g{i}") for i in range(n)
    ]
    gram = F.concat_ws(" ", *[F.col(f"z.g{i}") for i in range(n)])
    return (
        based.select("id", F.arrays_zip(*parts).alias("zs"))
        .where(size >= n)
        .select("id", F.explode("zs").alias("z"))
        .select("id", _bucket_col(gram, num_buckets))
        .groupBy("id", "bucket")
        .agg(F.count("*").alias("cnt"))
    )


def dsir_weights(
    raw: DataFrame,
    target: DataFrame,
    n: int = 2,
    num_buckets: int = 10_000,
) -> DataFrame:
    """(doc_id, n_features, log_w) for every raw document with ≥1 feature:
    ``log_w`` = Σ_b cnt_b · ln(p_target(b) / p_raw(b)) with add-``ALPHA``
    smoothed bucket distributions — the log importance weight of the doc's
    hashed n-gram bag. Higher = more target-like."""
    from readur_spark.operators.dedup import _materialize_release

    # persisted: the feature table feeds the totals collect, the raw
    # bucket counts, AND the final per-doc rollup — without the persist
    # the dominant tokenize+hash+aggregate pass over the corpus runs
    # twice per call (once for the scalar collect, once at execution)
    feats = hashed_ngram_features(raw, n, num_buckets).persist()
    tgt = (
        hashed_ngram_features(target, n, num_buckets)
        .groupBy("bucket")
        .agg(F.sum("cnt").alias("ct"))
    ).persist()
    # rawc persisted too (≤ num_buckets rows): the totals collect below
    # materializes feats AND rawc in ONE corpus pass, and the ratio
    # broadcast build then reads the B-row cache instead of re-running
    # the bucket aggregation over the corpus-sized feature cache (the
    # plan showed that aggregation executing twice — guide §2.4)
    rawc = feats.groupBy("bucket").agg(F.sum("cnt").alias("cr")).persist()
    tot = rawc.agg(
        F.sum("cr").alias("tr")
    ).collect()[0]
    tt_row = tgt.agg(F.sum("ct").alias("tt")).collect()[0]
    t_raw = float(tot["tr"] or 0)
    t_tgt = float(tt_row["tt"] or 0)
    b = float(num_buckets)
    ratio = (
        rawc.join(tgt, "bucket", "left")
        .select(
            "bucket",
            (
                F.log(
                    (F.coalesce(F.col("ct"), F.lit(0)) + F.lit(ALPHA))
                    / F.lit(t_tgt + ALPHA * b)
                )
                - F.log((F.col("cr") + F.lit(ALPHA)) / F.lit(t_raw + ALPHA * b))
            ).alias("log_ratio"),
        )
    )
    result = (
        feats.join(F.broadcast(ratio), "bucket")
        .groupBy(F.col("id").alias("doc_id"))
        .agg(
            F.sum("cnt").alias("n_features"),
            F.sum(F.col("cnt") * F.col("log_ratio")).alias("log_w"),
        )
    )
    return _materialize_release(result, feats, tgt, rawc)


def dsir_resample(
    raw: DataFrame,
    target: DataFrame,
    k: int,
    temperature: float = 1.0,
    driver_topk_max: int = 100_000,
    **kwargs,
) -> DataFrame:
    """Top-``k`` weighted sample without replacement via the Gumbel-top-k
    trick: key = log_w/temperature + Gumbel(u) with u the deterministic
    salted-md5 uniform — so the selected set is a pure function of
    (corpus, salt) and re-run-stable. ``temperature`` > 1 flattens toward
    uniform; small positive values approach deterministic top-k by
    weight (``temperature`` must be > 0 — at exactly 0 the key division
    would silently produce ±Inf ties and select by id instead).

    Selection is size-dispatched (r4 verdict #3 — DSIR's real use picks
    10^8–10^9 documents, a set no single point should hold):

    * ``k <= driver_topk_max`` — TakeOrdered top-k (shuffle-free, one
      bounded k-row limit).
    * larger ``k`` — threshold selection: ``approxQuantile`` brackets the
      k-th largest gumbel key with a rank error chosen so the bracket
      band holds ~``BOUNDARY_BAND`` rows; everything strictly above the
      upper bracket is selected by a DISTRIBUTED FILTER (exact count,
      one scalar to the driver), and the remaining ``k - count`` slots
      are filled from the bounded band in exact (key desc, id asc)
      order. The selected set is IDENTICAL to the TakeOrdered answer
      (equality-tested at small scale); no k-row limit appears anywhere
      in the plan — tests/test_dsir.py asserts the plan shape.
    """
    if temperature <= 0:
        raise ValueError(
            f"temperature must be > 0, got {temperature} "
            "(use a small value like 0.01 for near-deterministic top-k)"
        )
    weights = dsir_weights(raw, target, **kwargs)
    u = hash_uniform_col(F.col("doc_id"), "dsir-resample-v1")
    # clamp u away from {0,1}: log(-log(u)) is infinite at the edges
    safe_u = F.least(
        F.greatest(u, F.lit(1e-12)), F.lit(1.0 - 1e-12)
    )
    gumbel = -F.log(-F.log(safe_u))
    # weights is executor-checkpointed by dsir_weights, so every pass
    # below re-reads stored blocks, never the corpus tokenize
    keyed = weights.select(
        "doc_id",
        (F.col("log_w") / F.lit(float(temperature)) + gumbel).alias(
            "gumbel_key"
        ),
    )
    if k <= driver_topk_max:
        picked = (
            keyed.orderBy(F.desc("gumbel_key"), F.asc("doc_id"))
            .limit(k)
            .select("doc_id")
        )
        return raw.join(picked, "doc_id", "left_semi")

    n = keyed.count()
    if k >= n:
        return raw.join(keyed.select("doc_id"), "doc_id", "left_semi")
    # rank error sized so the [lo_q, hi_q] bracket spans ~BOUNDARY_BAND
    # rows; approxQuantile guarantees rank error <= err * n
    err = max(1e-6, min(0.01, BOUNDARY_BAND / (4.0 * n)))
    q = 1.0 - k / n
    hi_q = min(1.0, q + 2.0 * err)
    lo_q = max(0.0, q - 2.0 * err)
    lo, hi = keyed.stat.approxQuantile("gumbel_key", [lo_q, hi_q], err)

    def _counts(lo_v: float, hi_v: float) -> tuple[int, int]:
        # ONE pass for both bracket counts (above-hi and in-band) —
        # these were two sequential jobs over the same checkpointed
        # table (guide §2.4: don't re-scan to count twice)
        row = keyed.agg(
            F.coalesce(
                F.sum((F.col("gumbel_key") > hi_v).cast("long")), F.lit(0)
            ).alias("c_hi"),
            F.coalesce(
                F.sum(
                    (
                        (F.col("gumbel_key") <= hi_v)
                        & (F.col("gumbel_key") > lo_v)
                    ).cast("long")
                ),
                F.lit(0),
            ).alias("c_band"),
        ).first()
        return int(row["c_hi"]), int(row["c_band"])

    c_hi, band_cnt = _counts(lo, hi)
    widen = 0
    while c_hi > k and widen < 3:
        # sketch guarantee violated (shouldn't happen at the documented
        # err): push the upper bracket further up and recount
        widen += 1
        hi_q = min(1.0, hi_q + 2.0 * err)
        hi = keyed.stat.approxQuantile("gumbel_key", [hi_q], err)[0]
        c_hi, band_cnt = _counts(lo, hi)
    if c_hi > k:
        raise RuntimeError(
            "dsir_resample: approxQuantile bracket failed to cover the "
            f"k-th key after widening (k={k}, c_hi={c_hi}); rerun with a "
            "larger BOUNDARY_BAND"
        )
    need = k - c_hi
    sure = keyed.filter(F.col("gumbel_key") > hi).select("doc_id")
    band = keyed.filter(
        (F.col("gumbel_key") <= hi) & (F.col("gumbel_key") > lo)
    )
    widen = 0
    while c_hi + band_cnt < k and widen < 3:
        # lower bracket cut too high (violated guarantee): widen the band
        # DOWNWARD by bounded quantile steps — never "take the whole tail",
        # which would reintroduce a near-k-row sort
        widen += 1
        lo_q = max(0.0, lo_q - 4.0 * err)
        lo = (
            float("-inf")
            if lo_q <= 0.0
            else keyed.stat.approxQuantile("gumbel_key", [lo_q], err)[0]
        )
        band = keyed.filter(
            (F.col("gumbel_key") <= hi) & (F.col("gumbel_key") > lo)
        )
        _, band_cnt = _counts(lo, hi)
    # symmetric guard (round-5 review): under the sketch guarantee both
    # `need` and the band stay O(BOUNDARY_BAND); a wild overshoot of `hi`
    # upward would otherwise silently funnel ~k rows through the limit
    if c_hi + band_cnt < k or max(need, band_cnt) > 8 * BOUNDARY_BAND:
        raise RuntimeError(
            "dsir_resample: approxQuantile bracket degenerate "
            f"(k={k}, c_hi={c_hi}, need={need}, band={band_cnt}); rerun "
            "with a larger BOUNDARY_BAND"
        )
    boundary = (
        band.orderBy(F.desc("gumbel_key"), F.asc("doc_id"))
        .limit(need)
        .select("doc_id")
    )
    picked = sure.unionByName(boundary)
    return raw.join(picked, "doc_id", "left_semi")
