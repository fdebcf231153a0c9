"""N-gram language-model quality filtering (CCNet-style).

The standard web-corpus curation step the reference's search/quality
surface stops short of: train a cheap n-gram LM on a reference corpus,
score every candidate document's perplexity under it, and filter/bucket by
the score (CCNet trains KenLM on Wikipedia and keeps the low-perplexity
head; Gopher/C4 use the same shape). Reference analog: readur's
quality/confidence gating of extracted text (src/ocr/quality.rs) — this is
the corpus-level generalization used by LLM data pipelines.

Spark-first design — everything is counts and joins, no UDFs:

* **training** is two map-side-combining aggregations over exploded
  bigrams (pair counts, context counts) plus one distinct-count for the
  vocabulary size. The model IS a pair of DataFrames — at 100 TB the
  pair table shards across the cluster like any fact table; nothing is
  collected to the driver except the single vocab-size scalar.
* **scoring** explodes each candidate document's bigrams (a zip of two
  array slices — linear in doc length, mega-doc safe) and LEFT-joins the
  count tables on uniform token keys; add-k smoothing turns misses into
  the unseen-mass estimate. One groupBy(doc) rolls up mean negative log
  probability and perplexity.
* when the reference corpus is small relative to the candidates (the
  CCNet setup: Wikipedia vs Common Crawl), pass ``broadcast_model=True``
  and both joins broadcast — the corpus-side shuffle disappears.

Smoothing: add-k over the TRAINING vocabulary, P(w|p) = (c(p,w) + k) /
(c(p) + k·V); a fully unseen context degrades to 1/V. Out-of-vocabulary
words share the unseen mass (no separate <unk> estimate) — standard for
a filtering LM, where only the ranking matters.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ADD_K = 0.5  # bigram add-k smoothing
BACKOFF_ALPHA = 0.4  # Stupid-Backoff penalty per level (Brants et al. 2007)


def words_col(c: Column) -> Column:
    """Lowercase alphanumeric tokens — the same tokenization as the
    shingle/dedup family so models and dedup agree on what a word is."""
    return F.filter(F.split(F.lower(c), "[^a-z0-9]+"), lambda x: x != "")


def _adjacent_zip(ws, order: int, names: tuple[str, ...]):
    """zip of ``order`` staggered slices of a words-array column — ONE
    shared definition of n-gram adjacency for training and scoring
    (struct fields named ``names``). Linear per doc: ``order`` slices,
    no join."""
    n = F.size(ws)
    return F.arrays_zip(
        *[
            F.slice(ws, i + 1, n - (order - 1)).alias(names[i])
            for i in range(order)
        ]
    )


def _bigrams(docs: DataFrame) -> DataFrame:
    """(id, prev, word) — one row per adjacent token pair; documents with
    fewer than two tokens produce no rows."""
    w = words_col(F.col("text"))
    return (
        docs.select(
            F.col("doc_id").alias("id"),
            _adjacent_zip(w, 2, ("prev", "word")).alias("pairs"),
        )
        .where(F.size(w) >= 2)
        .select("id", F.explode("pairs").alias("p"))
        .select("id", F.col("p.prev").alias("prev"), F.col("p.word").alias("word"))
    )


@dataclass
class BigramLM:
    """A trained bigram model: distributed count tables + scalars. The
    DataFrames stay cluster-side; persist them when scoring repeatedly."""

    pair_counts: DataFrame  # (prev, word, c)
    ctx_counts: DataFrame  # (prev, cc)
    vocab_size: int
    add_k: float


def train_bigram_lm(docs: DataFrame) -> BigramLM:
    """Count-based bigram LM over the reference corpus, add-``ADD_K``
    smoothed."""
    from readur_spark.operators.dedup import _materialize_release

    # ONE tokenize pass (r4 verdict #5): the corpus splits into word
    # arrays exactly once, persisted; pair counts AND the vocab size both
    # read the cached arrays. The pair table is checkpointed eagerly
    # (truncating its lineage off the cache) so the cache can be released
    # before returning — the model tables never re-tokenize.
    toks = docs.select(words_col(F.col("text")).alias("ws")).persist()
    big = (
        toks.where(F.size("ws") >= 2)
        .select(
            F.explode(
                _adjacent_zip(F.col("ws"), 2, ("prev", "word"))
            ).alias("p")
        )
        .select(F.col("p.prev").alias("prev"), F.col("p.word").alias("word"))
    )
    pair_counts = _materialize_release(
        big.groupBy("prev", "word").agg(F.count("*").alias("c"))
    )
    vocab_size = (
        toks.select(F.explode("ws").alias("w"))
        .agg(F.countDistinct("w").alias("v"))
        .collect()[0]["v"]
    )
    toks.unpersist()
    # context totals derive from the pair table — a cheap rollup of the
    # checkpointed counts, no corpus access
    ctx_counts = pair_counts.groupBy("prev").agg(F.sum("c").alias("cc"))
    return BigramLM(pair_counts, ctx_counts, int(vocab_size), ADD_K)


def perplexity_score(
    docs: DataFrame,
    lm: BigramLM,
    broadcast_model: bool = False,
) -> DataFrame:
    """(doc_id, n_bigrams, avg_nll, perplexity) per candidate document
    with at least one bigram. ``avg_nll`` is the mean negative natural log
    probability; ``perplexity = exp(avg_nll)``. Low perplexity = looks
    like the reference corpus (CCNet keeps the head of this ranking).

    ``broadcast_model=True`` broadcasts both count tables (the
    trained-on-Wikipedia case) so the candidate corpus never shuffles."""
    pc = lm.pair_counts
    cc = lm.ctx_counts
    if broadcast_model:
        pc, cc = F.broadcast(pc), F.broadcast(cc)
    k, v = float(lm.add_k), float(lm.vocab_size)
    big = _bigrams(docs)
    scored = (
        big.join(pc, ["prev", "word"], "left")
        .join(cc, ["prev"], "left")
        .select(
            "id",
            F.log(
                (F.coalesce(F.col("c"), F.lit(0)) + F.lit(k))
                / (F.coalesce(F.col("cc"), F.lit(0)) + F.lit(k * v))
            ).alias("lp"),
        )
    )
    return scored.groupBy(F.col("id").alias("doc_id")).agg(
        F.count("*").alias("n_bigrams"),
        (-F.avg("lp")).alias("avg_nll"),
        F.exp(-F.avg("lp")).alias("perplexity"),
    )


def perplexity_filter(
    docs: DataFrame,
    lm: BigramLM,
    max_perplexity: float,
    **kwargs,
) -> DataFrame:
    """Keep documents scoring at or below the perplexity ceiling (plus
    documents too short to score — <2 tokens carry no LM evidence; gate
    those on length filters, not this one)."""
    # single anti-join formulation: drop only the documents that scored
    # ABOVE the ceiling; unscored (<2-token) docs survive by absence from
    # the drop set — one pass over docs instead of the semi+anti+union
    scores = perplexity_score(docs, lm, **kwargs)
    dropped = scores.filter(F.col("perplexity") > max_perplexity).select("doc_id")
    return docs.join(dropped, "doc_id", "left_anti")


def _trigrams(docs: DataFrame) -> DataFrame:
    """(id, w1, w2, w3) — one row per adjacent token triple (linear:
    three array slices zipped via the shared _adjacent_zip, one explode)."""
    w = words_col(F.col("text"))
    return (
        docs.select(
            F.col("doc_id").alias("id"),
            _adjacent_zip(w, 3, ("w1", "w2", "w3")).alias("t"),
        )
        .where(F.size(w) >= 3)
        .select("id", F.explode("t").alias("t"))
        .select(
            "id",
            F.col("t.w1").alias("w1"),
            F.col("t.w2").alias("w2"),
            F.col("t.w3").alias("w3"),
        )
    )


@dataclass
class BackoffLM:
    """Trigram Stupid-Backoff model (Brants et al. 2007 — the web-scale
    LM scoring recipe: no discounting to tune, counts all the way down,
    a fixed backoff penalty per level). Three distributed count tables +
    two scalars; the tables shard like fact tables at any corpus size."""

    tri: DataFrame  # (w1, w2, w3, c3)
    bi: DataFrame  # (w1, w2, c2)
    uni: DataFrame  # (w, c1)
    total_tokens: int
    alpha: float


def train_backoff_lm(docs: DataFrame) -> BackoffLM:
    """Count the three n-gram orders (each one explode + map-side-combining
    groupBy); the model backs off by ``BACKOFF_ALPHA`` per level."""
    from readur_spark.operators.dedup import _materialize_release

    # ONE tokenize pass (r4 verdict #5): word arrays persisted once; the
    # three n-gram orders aggregate the cached arrays, each count table
    # checkpointed eagerly so the cache releases without any model table
    # re-tokenizing the corpus on later actions.
    toks = docs.select(words_col(F.col("text")).alias("ws")).persist()
    tri = _materialize_release(
        toks.where(F.size("ws") >= 3)
        .select(
            F.explode(
                _adjacent_zip(F.col("ws"), 3, ("w1", "w2", "w3"))
            ).alias("t")
        )
        .groupBy(
            F.col("t.w1").alias("w1"),
            F.col("t.w2").alias("w2"),
            F.col("t.w3").alias("w3"),
        )
        .agg(F.count("*").alias("c3"))
    )
    bi = _materialize_release(
        toks.where(F.size("ws") >= 2)
        .select(
            F.explode(_adjacent_zip(F.col("ws"), 2, ("w1", "w2"))).alias("p")
        )
        .groupBy(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .agg(F.count("*").alias("c2"))
    )
    uni = _materialize_release(
        toks.select(F.explode("ws").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c1"))
    )
    toks.unpersist()
    total = uni.agg(F.sum("c1").alias("t")).collect()[0]["t"]
    return BackoffLM(tri, bi, uni, int(total or 0), BACKOFF_ALPHA)


def backoff_score(
    docs: DataFrame,
    lm: BackoffLM,
    broadcast_model: bool = False,
) -> DataFrame:
    """(doc_id, n_trigrams, avg_nll, perplexity) under Stupid Backoff:

        S(w3 | w1 w2) = c(w1w2w3)/c(w1w2)           if the trigram is seen
                      = a * c(w2w3)/c(w2)           else if the bigram is
                      = a^2 * c(w3)/N               else if the word is
                      = a^2 * 0.5/N                 else (OOV)

    Five LEFT joins on uniform token keys (trigram, context bigram,
    backoff bigram, two unigrams) then one per-doc rollup — scoring stays
    entirely relational. ``broadcast_model=True`` broadcasts all three
    count tables (reference-corpus-sized models), so the candidate corpus
    never shuffles before its own rollup. Documents with <3 tokens carry
    no trigram evidence and produce no row."""
    a = float(lm.alpha)
    n_tot = float(max(lm.total_tokens, 1))

    def maybe_b(df):
        return F.broadcast(df) if broadcast_model else df

    tri = maybe_b(lm.tri)
    bi_ctx = maybe_b(
        lm.bi.select(F.col("w1"), F.col("w2"), F.col("c2").alias("c2_ctx"))
    )
    bi_back = maybe_b(
        lm.bi.select(
            F.col("w1").alias("w2"), F.col("w2").alias("w3"),
            F.col("c2").alias("c2_back"),
        )
    )
    uni_ctx = maybe_b(lm.uni.select(F.col("w").alias("w2"), F.col("c1").alias("c1_ctx")))
    uni_w = maybe_b(lm.uni.select(F.col("w").alias("w3"), F.col("c1").alias("c1_w")))

    g = _trigrams(docs)
    joined = (
        g.join(tri, ["w1", "w2", "w3"], "left")
        .join(bi_ctx, ["w1", "w2"], "left")
        .join(bi_back, ["w2", "w3"], "left")
        .join(uni_ctx, ["w2"], "left")
        .join(uni_w, ["w3"], "left")
    )
    score = (
        F.when(
            F.col("c3").isNotNull() & (F.col("c2_ctx") > 0),
            F.col("c3") / F.col("c2_ctx"),
        )
        .when(
            F.col("c2_back").isNotNull() & (F.col("c1_ctx") > 0),
            F.lit(a) * F.col("c2_back") / F.col("c1_ctx"),
        )
        .otherwise(
            F.lit(a * a)
            * F.coalesce(F.col("c1_w").cast("double"), F.lit(0.5))
            / F.lit(n_tot)
        )
    )
    scored = joined.select("id", F.log(score).alias("lp"))
    return scored.groupBy(F.col("id").alias("doc_id")).agg(
        F.count("*").alias("n_trigrams"),
        (-F.avg("lp")).alias("avg_nll"),
        F.exp(-F.avg("lp")).alias("perplexity"),
    )
