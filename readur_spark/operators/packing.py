"""Sequence packing for LLM training pipelines.

The standard GPT-style data layout concatenates the corpus token stream in
a fixed document order and cuts it every ``seq_len`` tokens; documents
crossing a boundary are SPLIT across consecutive sequences (no padding, no
token dropped). The operator computes, for every document, which training
sequences it lands in and which within-document token range goes to each —
the manifest a loader needs to materialize packed batches.

Scale design — the global running offset is the crux. A naive
``sum() OVER (ORDER BY doc_id)`` window has no PARTITION BY, so Spark
plans an Exchange SinglePartition: the whole corpus through one task. This
implementation uses the classic two-phase distributed prefix scan instead:

1. bucket documents into contiguous id ranges with a PURE FUNCTION of the
   id (``(id - min_id) // step`` — deterministic across job re-runs, which
   ``spark_partition_id()`` over ``repartitionByRange`` is NOT: range
   boundaries are re-sampled per job) and sum token counts per bucket;
2. collect the per-bucket sums (ONE ROW per bucket — metadata scale),
   prefix-sum them on the driver, broadcast the bases back;
3. each bucket computes exact global offsets as bucket base + local
   running sum (window PARTITIONED by bucket — parallel, no
   single-partition exchange, asserted in tests/test_plan_quality.py);
4. boundary crossings explode into one row per (document, sequence)
   overlap via ``sequence(first_seq, last_seq)`` — pure Catalyst.

Token counts use the BPE-ish pre-tokenizer regex from
functions/textstats.token_count_col, so the oracle reproduces them in SQL.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from readur_spark.functions.textstats import token_count_col


def bucketed_stream_offsets(
    base: DataFrame,
    order_cols: tuple[str, ...] = ("id",),
    num_buckets: int | None = None,
    key_col: str = "key",
    n_col: str = "n",
    out_col: str = "gstart",
) -> DataFrame | None:
    """The shared two-phase distributed prefix scan (pack_sequences,
    interleave.build_interleaved_sequences): given a frame with a
    NUMERIC ``key`` column and a positive ``n`` weight column, append
    ``gstart`` = the global running-sum offset of each row in ascending
    ``(key, *order_cols)`` order — without any Exchange SinglePartition.

    Phases: bucket rows into contiguous key ranges with a pure function
    of the key (re-run-stable, unlike spark_partition_id over
    repartitionByRange); collect ONE row per bucket of weight sums;
    prefix-sum on the driver; broadcast the bases; window PARTITIONED by
    bucket for the exact local running sum. Keys spanning ≥2^53 bucket
    in double precision — floor((key-lo)/step) stays MONOTONE in key
    under rounding, which is all cross-bucket prefix correctness needs.

    Returns None when ``base`` is empty (callers return their own empty
    schema). Any extra columns on ``base`` ride along untouched; the
    scan's internal columns are ``__``-prefixed and dropped before
    return, so only ``out_col`` is added."""
    spark = base.sparkSession
    if num_buckets is None:
        num_buckets = spark.sparkContext.defaultParallelism
    mm = base.agg(
        F.min(key_col).alias("lo"), F.max(key_col).alias("hi")
    ).collect()[0]
    if mm["lo"] is None:
        return None
    lo, hi = int(mm["lo"]), int(mm["hi"])
    step = max(1, math.ceil((hi - lo + 1) / num_buckets))
    if hi - lo < 2**53:
        pid = ((F.col(key_col) - F.lit(lo)) / F.lit(step)).cast("int")
    else:
        pid = F.floor(
            (F.col(key_col).cast("double") - F.lit(float(lo)))
            / F.lit(float(step))
        ).cast("int")
    bucketed = base.withColumn("__pid", pid)
    sums = {
        r["__pid"]: r["s"]
        for r in bucketed.groupBy("__pid").agg(F.sum(n_col).alias("s")).collect()
    }
    bases = []
    acc = 0
    for p in sorted(sums):
        bases.append((int(p), int(acc)))
        acc += int(sums[p])
    base_df = F.broadcast(
        spark.createDataFrame(bases, "__pid int, __base long")
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(key_col, *order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        bucketed.join(base_df, "__pid")
        .withColumn("__lend", F.sum(n_col).over(w))
        .withColumn(
            out_col, F.col("__base") + F.col("__lend") - F.col(n_col)
        )
        .drop("__pid", "__base", "__lend")
    )


def pack_sequences(
    docs: DataFrame,
    seq_len: int = 2048,
    id_col: str = "doc_id",
    text_col: str = "text",
    token_counter=None,
    order_col: str | None = None,
) -> DataFrame:
    """Packing manifest: (seq_id, doc_id, tok_start, tok_end, n_tokens)
    with ``tok_start``/``tok_end`` the half-open within-document token
    range assigned to training sequence ``seq_id``. Deterministic:

    * **numeric ids** — stream order is ascending ``id_col``, and the
      bucketing is contiguous id ranges (pure arithmetic on the id, so
      re-runs bucket identically). A skewed id distribution skews bucket
      sizes; there is one bucket per unit of cluster parallelism, so the
      window stays balanced for the dense-id common case.
    * **string (or other non-numeric) ids** — the prefix scan needs
      arithmetic range bucketing, so the stream order becomes ascending
      ``(xxhash64(id), id)``: still a deterministic, re-run-stable total
      order (any fixed order is a valid packing order), and hash keys are
      uniform so the buckets are balanced by construction. The hash→bucket
      map is monotone in the hash, so cross-bucket prefix sums stay exact.

    ``token_counter`` overrides the default regex token count with any
    Column -> Column counter — in particular
    :func:`readur_spark.operators.bpe.bpe_count_udf` for trainer-faithful
    BPE token counts (the manifest then measures exactly what a loader
    materializing BPE-tokenized sequences will see). The counter runs in
    the same fused scan stage; everything downstream is unchanged.

    ``order_col`` overrides the packing STREAM ORDER: documents are
    concatenated in ascending ``(order_col, id_col)`` instead of id
    order — the curriculum × packing composition (feed
    ``curriculum_positions``' ``curriculum_pos`` here and sequences are
    cut over the curriculum-ordered token stream, which is the order a
    trainer actually reads). Must be an integral column; it becomes the
    prefix-scan bucket key directly, so a dense position column (the
    curriculum contract: 0..N-1) buckets perfectly uniformly.
    """
    import pyspark.sql.types as T

    spark = docs.sparkSession
    if token_counter is None:
        token_counter = token_count_col
    numeric_id = isinstance(docs.schema[id_col].dataType, T.NumericType)
    id_type = docs.schema[id_col].dataType.simpleString()
    if order_col is not None:
        if not isinstance(docs.schema[order_col].dataType, T.IntegralType):
            raise TypeError(
                f"order_col {order_col!r} must be an integral column, got "
                f"{docs.schema[order_col].dataType.simpleString()} — the "
                "prefix scan buckets by arithmetic on the key"
            )
        key = F.col(order_col)
    else:
        key = F.col(id_col) if numeric_id else F.xxhash64(id_col)
    base = docs.select(
        F.col(id_col).alias("id"),
        key.alias("key"),
        token_counter(F.col(text_col)).cast("long").alias("n"),
    ).filter(F.col("n") > 0)
    # persist the slim (id, key, n) projection: the three consumers below
    # (min/max, bucket sums, the manifest itself) would otherwise each
    # re-run the full upstream — for a BPE token_counter that is three
    # Arrow UDF passes, and even the built-in regex counter re-tokenizes
    # the corpus (and re-executes any expensive upstream such as
    # chunk_texts' Python chunker — measured 3x the whole pipeline in
    # chunk_pack_roundtrip) per consumer. Three longs per doc is always
    # cheaper to cache than to recompute. The cache is RELEASED before
    # returning (CacheManager holds caches until explicit unpersist —
    # review r5) by eagerly checkpointing the manifest, which is itself
    # slim (5 longs per doc-seq overlap, smaller than the text it
    # indexes).
    base = base.persist()
    # phases 1-3: the shared bucketed prefix scan (one collect per
    # bucket, broadcast bases, per-bucket window — no Exchange
    # SinglePartition anywhere in this plan)
    offs = bucketed_stream_offsets(base, ("id",))
    if offs is None:
        base.unpersist()
        return spark.createDataFrame(
            [],
            f"seq_id long, {id_col} {id_type}, tok_start long, tok_end long, "
            "n_tokens long",
        )
    # phase 4: explode boundary crossings
    first_seq = F.floor(F.col("gstart") / seq_len)
    last_seq = F.floor((F.col("gstart") + F.col("n") - 1) / seq_len)
    exploded = offs.select(
        F.col("id").alias(id_col),
        "n",
        "gstart",
        F.explode(F.sequence(first_seq, last_seq)).alias("seq_id"),
    )
    seg_start = F.greatest(F.col("gstart"), F.col("seq_id") * seq_len)
    seg_end = F.least(F.col("gstart") + F.col("n"), (F.col("seq_id") + 1) * seq_len)
    manifest = exploded.select(
        "seq_id",
        id_col,
        (seg_start - F.col("gstart")).alias("tok_start"),
        (seg_end - F.col("gstart")).alias("tok_end"),
        (seg_end - seg_start).alias("n_tokens"),
    )
    from readur_spark.operators.dedup import _materialize_release

    return _materialize_release(manifest, base)


def packing_stats(manifest: DataFrame, seq_len: int) -> DataFrame:
    """Per-sequence fill report: (seq_id, n_docs, n_tokens, fill_ratio).
    Every sequence except the last must be exactly full — the invariant
    the packer guarantees (no padding, no dropped tokens)."""
    return (
        manifest.groupBy("seq_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
        .withColumn("fill_ratio", F.round(F.col("n_tokens") / seq_len, 6))
    )


def materialize_sequences(
    docs: DataFrame,
    manifest: DataFrame,
    encoder,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Turn a packing manifest into the ACTUAL training sequences —
    (seq_id, ids array<int>, n_tokens) — the loader-side step the
    manifest exists for, run engine-side so a trainer reads finished
    fixed-length token arrays.

    ``encoder`` is a Column -> Column function producing array<int>
    token ids (:func:`readur_spark.operators.bpe.bpe_encode_udf`).

    Plan: encode each document once (Arrow-batched, no shuffle), join
    the manifest on the doc id (both sides shuffle on the uniform id
    key), slice each document's token range per manifest row, then ONE
    groupBy(seq_id) assembling pieces in stream order — the same
    (key, id) order the packer cut the stream in, so concatenation is
    exact. No driver materialization anywhere; sequences land
    distributed, ready to write partitioned by seq range."""
    import pyspark.sql.types as T

    numeric_id = isinstance(docs.schema[id_col].dataType, T.NumericType)
    key = F.col(id_col) if numeric_id else F.xxhash64(id_col)
    enc = docs.select(
        F.col(id_col),
        key.alias("__key__"),
        encoder(F.col(text_col)).alias("__ids__"),
    )
    pieces = manifest.join(enc, id_col).select(
        "seq_id",
        F.struct(
            F.col("__key__").alias("k"),
            F.col(id_col).cast("string").alias("id"),
            F.slice(
                "__ids__",
                (F.col("tok_start") + 1).cast("int"),
                F.col("n_tokens").cast("int"),
            ).alias("piece"),
        ).alias("part"),
    )
    return (
        pieces.groupBy("seq_id")
        .agg(F.flatten(
            F.transform(
                F.array_sort(F.collect_list("part")), lambda s: s["piece"]
            )
        ).alias("ids"))
        .select("seq_id", "ids", F.size("ids").cast("long").alias("n_tokens"))
    )
