"""Learned document-quality classifier — the GPT-3 / CCNet recipe.

The public curation pipelines that go beyond rule filters train a cheap
linear classifier to score "does this look like the high-quality
reference corpus?": GPT-3 trained a logistic-regression filter with
hashed features of WebText-vs-CommonCrawl (Brown et al. 2020, App. A);
CCNet ships a fastText linear classifier for the same job (Wenzek 2020).
This module is that step, Spark-first and bit-deterministic so the
driver's DuckDB/Python oracle can replay training exactly.

Shape:

* **features** — hashed unigram counts (`dsir.hashed_ngram_features`
  with n=1: md5-bucket construction, engine-portable), length-normalized
  per document (count / total — the fastText mean-pooling analog).
* **training** — full-batch logistic regression, fixed iteration count,
  learning rate, and L2 (no data-dependent stopping: determinism).
  Size-dispatched: labeled sets up to ``driver_train_max`` docs stream
  their bounded feature rows to the driver once and run the loop
  in-process (curated filter-training sets are 10^4–10^5 docs; each
  iteration is then microseconds); larger sets run each iteration as ONE
  Arrow-batched pass — a single pandas UDF computes the per-document
  probability, error, and loss and emits every gradient addend (plus
  bias/loss sentinel buckets) in one array, so one explode + one
  groupBy(bucket) finishes the iteration. Gradient addends are cast to
  DECIMAL(30,15) before the shuffle sum so partitioning cannot perturb
  the result; the d+2 summed values come to the driver (bounded by
  num_buckets) and the weight update is plain Python. Both paths
  implement identical arithmetic and are equality-tested — the dispatch
  never changes the model.
* **scoring** — one projection per document against the broadcast
  weights; no shuffle, no joins. At 10^12 docs this is scan-speed.

Determinism contract (what the oracle replays): probabilities come from
the numerically-stable sigmoid (``exp(acc)/(1+exp(acc))`` for negative
``acc`` — no overflow at any weight scale) of a float64 fold over
buckets in ASCENDING order; for the gradient/loss they are clamped to
``[1e-12, 1 - 1e-12]`` so a saturated document never produces log(0)
(both paths, same clamp); addends quantize to DECIMAL(30,15) HALF_UP
and sum exactly; updates ``w -= lr * (g/n + l2*w)`` in Python floats.

Why not spark.ml LogisticRegression: LBFGS's line search makes results
depend on partitioning/threading — unverifiable by a value oracle. The
fixed-schedule GD here is deterministic to the last bit, and for the
~10^3-bucket filters these pipelines use, converges comfortably.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from readur_spark.operators.dsir import hashed_ngram_features

#: probability clamp for log/gradient terms — keeps a fully-saturated
#: document finite instead of log(0) (identical in every path + replica)
P_EPS = 1e-12

#: distributed-training chunking: documents per task for the gradient
#: pass. Each doc costs microseconds of Python, so small corpora are
#: latency-bound — re-chunk so a task amortizes task/Arrow overhead over
#: at least this many docs (never above the input's own partition count,
#: so big corpora keep their parallelism). Partitioning cannot change
#: the result: addends are quantized per document and summed exactly.
_TRAIN_ROWS_PER_TASK = 4096

_Q15 = Decimal("1e-15")


def _dec15i(x: float) -> int:
    """``x`` quantized to DECIMAL(30,15) HALF_UP from its shortest decimal
    repr, as an exact integer count of 1e-15 units. ``float(x)`` first: a
    numpy scalar's repr is ``np.float64(...)`` under numpy 2, which
    ``Decimal`` rejects."""
    return int(
        Decimal(repr(float(x))).quantize(_Q15, rounding=ROUND_HALF_UP).scaleb(15)
    )


def _sigmoid(acc: float) -> float:
    """Numerically-stable logistic — THE formula every path and the
    oracle replica share (the two algebraic forms round differently, so
    mixing them would break bit parity)."""
    if acc >= 0.0:
        return 1.0 / (1.0 + math.exp(-acc))
    e = math.exp(acc)
    return e / (1.0 + e)


def _doc_features(
    docs: DataFrame, num_buckets: int, id_col: str, text_col: str
) -> DataFrame:
    """(id, fs array<struct<bucket,cnt>> sorted by bucket, total) — the
    per-document feature rows. Sorting fixes the fold order so the
    float64 dot product is reproducible."""
    feats = hashed_ngram_features(
        docs, n=1, num_buckets=num_buckets, id_col=id_col, text_col=text_col
    )
    return feats.groupBy("id").agg(
        F.array_sort(
            F.collect_list(F.struct("bucket", "cnt"))
        ).alias("fs"),
        F.sum("cnt").alias("total"),
    )


def doc_features(
    docs: DataFrame,
    num_buckets: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Public feature-table builder for callers that train AND score over
    the same corpus: compute it once, ``persist()`` it, and pass it to
    both :func:`train_quality_classifier` and :func:`score_quality` via
    their ``features=`` parameter so the corpus is tokenized+hashed once
    instead of once per consumer. The caller owns the persist lifecycle.
    MUST be built with the same ``num_buckets`` the model uses."""
    return _flat_cols(_doc_features(docs, num_buckets, id_col, text_col))


def _flat_cols(fs_df: DataFrame) -> DataFrame:
    """Derive primitive-array twins of ``fs`` (computed once per persisted
    row, not once per iteration): ``bs`` buckets, ``cs`` counts-as-double,
    ``vals`` cnt/total — so each training iteration ships flat
    list<int>/list<double> Arrow columns to Python (fast numpy rows)
    instead of list<struct> (per-row dict materialization), and the
    gradient addends can be expanded JVM-side. ``vals[i]`` equals the
    Python ``cnt / t`` of the reference loop bit-for-bit (one float64
    division of exactly-represented operands in either engine)."""
    return (
        fs_df.withColumn(
            "bs", F.transform("fs", lambda x: x["bucket"].cast("int"))
        )
        .withColumn("cs", F.transform("fs", lambda x: x["cnt"].cast("double")))
        .withColumn(
            "vals",
            F.transform("fs", lambda x: x["cnt"].cast("double") / F.col("total")),
        )
    )


def _score_udf(weights: list[float], bias: float):
    w = np.asarray(weights, dtype=np.float64)
    b = float(bias)

    @F.pandas_udf("double")
    def score(bs: pd.Series, vals: pd.Series) -> pd.Series:
        out = []
        for bks, vs in zip(bs, vals):
            acc = b
            for bk, v in zip(bks, vs):  # ascending bucket order — fixed fold
                acc += v * w[bk]
            out.append(_sigmoid(acc))
        return pd.Series(out)

    return score


def _grad_partials_fn(weights: list[float], bias: float, num_buckets: int):
    """One distributed iteration as a ``mapInPandas`` partial aggregation:
    each task folds its whole partition into ≤ ``num_buckets``+2 rows of
    (bucket, partial decimal gradient) — no explode, no shuffle, map-side
    total aggregation (guide §2.3/§2.4). Arithmetic is byte-identical to
    the reference loop: same float64 ascending-bucket fold, same stable
    sigmoid + clamp, and each addend ``err * c / total`` is quantized to
    DECIMAL(30,15) HALF_UP from its shortest decimal repr (what Spark's
    double→decimal cast does) then summed EXACTLY as integers in 1e-15
    units — so partitioning/batching cannot perturb the result. Buckets
    -1/-2 carry the bias gradient and the loss, as before."""
    w = np.asarray(weights, dtype=np.float64)
    b = float(bias)

    def grad_partials(batches):
        sums: dict[int, int] = {}
        for pdf in batches:
            for bks, vs, cs, tot, yy in zip(
                pdf["bs"], pdf["vals"], pdf["cs"], pdf["total"], pdf["__y__"]
            ):
                acc = b
                for bk, v in zip(bks, vs):  # ascending buckets — fixed fold
                    acc += v * w[bk]
                p = min(max(_sigmoid(acc), P_EPS), 1.0 - P_EPS)
                err = p - yy
                t = float(tot)
                memo: dict[float, int] = {}
                for bk, c in zip(bks.tolist(), cs.tolist()):
                    mi = memo.get(c)
                    if mi is None:
                        memo[c] = mi = _dec15i(err * c / t)
                    sums[bk] = sums.get(bk, 0) + mi
                sums[-1] = sums.get(-1, 0) + _dec15i(err)
                sums[-2] = sums.get(-2, 0) + _dec15i(
                    -(yy * math.log(p) + (1.0 - yy) * math.log(1.0 - p))
                )
        yield pd.DataFrame(
            {
                "bucket": pd.array(list(sums), dtype="int32"),
                "g": [Decimal(v).scaleb(-15) for v in sums.values()],
            }
        )

    return grad_partials


def train_quality_classifier(
    positive: DataFrame,
    negative: DataFrame,
    num_buckets: int = 1024,
    iters: int = 30,
    lr: float = 2.0,
    l2: float = 1e-4,
    id_col: str = "doc_id",
    text_col: str = "text",
    driver_train_max: int = 20_000,
    features: DataFrame | None = None,
) -> dict:
    """Train the filter: ``positive`` = reference-quality docs,
    ``negative`` = raw/web sample. Returns
    ``{"weights": [...], "bias": float, "num_buckets": int, "losses": [...]}``
    — plain Python, broadcastable, serializable.

    ``driver_train_max`` bounds the driver-path memory: 20k docs of
    ordinary web text carry ~10^7 (bucket, cnt) pairs ≈ low hundreds of
    MB materialized through ``toLocalIterator`` (one partition in flight,
    rows converted to plain tuples as they stream). Above the bound the
    distributed loop runs instead — same model either way."""
    labeled = positive.select(
        F.col(id_col).alias(id_col), F.col(text_col).alias(text_col),
        F.lit(1.0).alias("__y__"),
    ).unionByName(
        negative.select(
            F.col(id_col).alias(id_col), F.col(text_col).alias(text_col),
            F.lit(0.0).alias("__y__"),
        )
    )
    # Guard: _doc_features groups the UNION by id, so a doc_id appearing
    # in both sides (or twice in one) would silently merge two documents'
    # features into one row and the label join would then emit that
    # corrupted row once per label — double-counted gradient. Fail fast
    # instead; the check is one metadata-scale aggregate.
    dup = (
        labeled.groupBy(id_col)
        .count()
        .filter(F.col("count") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        raise ValueError(
            f"train_quality_classifier: {id_col}={dup[0][id_col]!r} appears "
            "more than once across positive+negative — ids must be unique "
            "and the two sides disjoint"
        )
    fs = (
        _flat_cols(_doc_features(labeled, num_buckets, id_col, text_col))
        if features is None
        else features
    )
    data = (
        fs.join(labeled.select(F.col(id_col).alias("id"), "__y__"), "id")
        .select("id", "fs", "total", "bs", "cs", "vals", "__y__")
        .persist()
    )
    try:
        n = data.count()
        if n == 0:
            return {
                "weights": [0.0] * num_buckets, "bias": 0.0,
                "num_buckets": num_buckets, "losses": [],
            }
        if n <= driver_train_max:
            # Arrow-batched transfer of the FLAT arrays (bs/cs) — one
            # parallel job instead of toLocalIterator's partition-at-a-
            # time row stream (measured 5.1 s → 0.3 s at 5k docs). The
            # driver working set stays bounded by ``driver_train_max``
            # docs of (int, double) pairs — the same bound as before.
            pdf = data.select("bs", "cs", "total", "__y__").toPandas()
            local = [
                (
                    [(int(b), int(c)) for b, c in zip(bs, cs)],
                    float(t),
                    float(y),
                )
                for bs, cs, t, y in zip(
                    pdf["bs"], pdf["cs"], pdf["total"], pdf["__y__"]
                )
            ]
            return _train_local(local, num_buckets, iters, lr, l2)

        # Iteration input: only the columns the gradient pass reads,
        # re-chunked so each task carries enough documents to amortize
        # task/Arrow overhead (a 5k-doc table in 64 shuffle partitions
        # spent more on scheduling than on math — guide §2.6). coalesce
        # is narrow; partitioning CANNOT change the result (addends are
        # quantized per-document and summed exactly).
        # coalesce never increases partition count, so no need to read
        # the input's partitioning (df.rdd costs ~1 s of driver-side
        # plan resolution under AQE — measured)
        parts = max(1, -(-n // _TRAIN_ROWS_PER_TASK))
        it_in = data.select("bs", "cs", "vals", "total", "__y__").coalesce(
            parts
        )
        schema = "bucket int, g decimal(30,15)"
        w = [0.0] * num_buckets
        bias = 0.0
        losses: list[float] = []
        for _ in range(iters):
            partials = it_in.mapInPandas(
                _grad_partials_fn(w, bias, num_buckets), schema
            )
            if parts * (num_buckets + 2) > 1_048_576:
                # bound the driver collect at wide configurations: one
                # tiny shuffle reduces tasks×buckets rows to ≤ buckets+2
                partials = partials.groupBy("bucket").agg(
                    F.sum("g").alias("g")
                )
            rows = partials.collect()
            gsum: dict[int, Decimal] = {}
            for r in rows:
                bkt = int(r["bucket"])
                gv = r["g"]
                if gv is not None:
                    gsum[bkt] = gsum.get(bkt, Decimal(0)) + gv
            gb = float(gsum.get(-1, Decimal(0)))
            loss_tot = float(gsum.get(-2, Decimal(0)))
            grad = [0.0] * num_buckets
            for bkt, gv in gsum.items():
                if bkt >= 0:
                    grad[bkt] = float(gv)
            losses.append(round(loss_tot / n, 9))
            w = [
                wi - lr * (gi / n + l2 * wi) for wi, gi in zip(w, grad)
            ]
            bias -= lr * (gb / n)
        return {
            "weights": w, "bias": bias,
            "num_buckets": num_buckets, "losses": losses,
        }
    finally:
        data.unpersist()


def _train_local(data, num_buckets: int, iters: int, lr: float, l2: float) -> dict:
    """Driver-side twin of the distributed loop — byte-for-byte the same
    arithmetic (stable sigmoid, [P_EPS, 1-P_EPS] clamp, float64
    ascending-bucket folds, DECIMAL(30,15) HALF_UP quantized gradient
    addends summed exactly, Python float updates).

    Implementation notes (r9 optimization — values unchanged, pinned by
    test_matches_sequential_replica_both_paths against the independent
    pure-Python replica):

    * per-doc feature values ``c / total`` are precomputed once (the same
      float64 division the reference loop performs every iteration);
    * the dot-product fold multiplies elementwise via numpy (bitwise the
      scalar mult) and then folds the products sequentially in ascending
      bucket order — the identical addition sequence;
    * the quantized gradient addend ``dec15(err * c / total)`` depends
      only on (err, total, c), and within one document err/total are
      fixed — so it is quantized once per DISTINCT count (unigram counts
      are overwhelmingly 1-3) instead of once per feature;
    * addends are accumulated as exact integers in 1e-15 units (a
      Decimal with scale 15 IS such an integer); the final
      ``float(Decimal(sum).scaleb(-15))`` is the same correctly-rounded
      conversion as ``float()`` of the old Decimal running sum.
    """
    # one-time preprocessing: flat arrays + distinct counts per doc
    prepped = []
    for fs, total, y in data:
        bs = np.array([b for b, _ in fs], dtype=np.intp)
        cs = [c for _, c in fs]
        vs = np.array([c / total for c in cs], dtype=np.float64)
        prepped.append((bs, cs, vs, sorted(set(cs)), total, y))

    w = np.zeros(num_buckets, dtype=np.float64)
    bias = 0.0
    n = len(data)
    losses: list[float] = []
    for _ in range(iters):
        grad = [0] * num_buckets  # exact 1e-15 units
        gb = 0
        loss = 0
        for bs, cs, vs, distinct, total, y in prepped:
            acc = bias
            # elementwise product is the same float64 mult as the scalar
            # loop; the fold below adds them in the same ascending order
            for x in (vs * w[bs]).tolist():
                acc += x
            p = min(max(_sigmoid(acc), P_EPS), 1.0 - P_EPS)
            err = p - y
            memo = {c: _dec15i(err * c / total) for c in distinct}
            for b, c in zip(bs.tolist(), cs):
                grad[b] += memo[c]
            gb += _dec15i(err)
            loss += _dec15i(-(y * math.log(p) + (1.0 - y) * math.log(1.0 - p)))
        losses.append(round(float(Decimal(loss).scaleb(-15)) / n, 9))
        w_list = [
            wi - lr * (float(Decimal(gi).scaleb(-15)) / n + l2 * wi)
            for wi, gi in zip(w.tolist(), grad)
        ]
        w = np.array(w_list, dtype=np.float64)
        bias -= lr * (float(Decimal(gb).scaleb(-15)) / n)
    return {
        "weights": w.tolist(), "bias": bias,
        "num_buckets": num_buckets, "losses": losses,
    }


def score_quality(
    docs: DataFrame,
    model: dict,
    id_col: str = "doc_id",
    text_col: str = "text",
    features: DataFrame | None = None,
) -> DataFrame:
    """(id_col, quality_prob) for every document with ≥1 token — the
    corpus-wide linear pass. Docs whose tokens all miss (empty text)
    produce no row; gate those on length filters. ``features``: a
    prebuilt :func:`doc_features` table for exactly these docs (caller-
    persisted) so train+score share one featurize pass."""
    fs = (
        _flat_cols(
            _doc_features(docs, int(model["num_buckets"]), id_col, text_col)
        )
        if features is None
        else features
    )
    p = _score_udf(model["weights"], model["bias"])(
        F.col("bs"), F.col("vals")
    )
    return fs.select(
        F.col("id").alias(id_col), F.round(p, 6).alias("quality_prob")
    )


def quality_filter(
    docs: DataFrame,
    model: dict,
    min_prob: float = 0.5,
    id_col: str = "doc_id",
    **kwargs,
) -> DataFrame:
    """Keep documents the classifier scores at/above ``min_prob``
    (unscored short docs survive by absence from the drop set — same
    convention as perplexity_filter)."""
    scores = score_quality(docs, model, id_col=id_col, **kwargs)
    dropped = scores.filter(F.col("quality_prob") < min_prob).select(id_col)
    return docs.join(dropped, id_col, "left_anti")
