"""Interleaved multimodal sequence packing for LLM training pipelines.

Multimodal LMs (Flamingo, MMC4/OBELICS-style corpora) train on sequences
that interleave text tokens with media placeholders in original document
order: each image/audio span occupies a fixed block of ``k`` positions
(its patch/codec embedding budget) inside the token stream.  This module
turns the north-rule interleaved document table — ``(doc_id,
spans: array<struct<kind, text, media_ref, offset>>)``, the exact unit
readur's extraction emits (reference: `src/ocr/enhanced.rs` span
assembly; the (kind, text, media_ref, order) invariant in
`src/ingestion/document_ingestion.rs`) — into the packing manifest a
multimodal loader needs: which training sequence each span lands in,
which within-span token range goes there, and where in the sequence it
starts.

Semantics (GPT-style stream cut, made multimodal):

* the corpus is one global stream: documents in ascending id order,
  spans in document order within each document;
* a text span contributes its token count (regex pre-tokenizer by
  default, trainer-faithful BPE via ``token_counter``); a media span
  contributes a fixed per-kind token cost (``media_token_cost``);
* the stream is cut every ``seq_len`` tokens.  Spans crossing a cut are
  split — text splits are what loaders do anyway, and a media row whose
  block is cut carries ``straddles=true`` so the loader can apply its
  policy (drop the image, re-pad, or attend across the boundary) without
  this operator hiding the event.

Scale design — identical two-phase distributed prefix scan as
:mod:`readur_spark.operators.packing` (bucket by a pure function of the
document id → one metadata-scale collect of per-bucket sums → driver
prefix → broadcast bases → per-bucket window), except the scanned stream
is the exploded span table ordered by ``(key, id, span_idx)``.  Bucketing
stays on the document id alone, so a document's spans never split across
buckets and the bucket map stays monotone in the stream order — the
cross-bucket prefix sums are exact.  No Exchange SinglePartition
anywhere (asserted in tests/test_plan_quality.py).
"""

from __future__ import annotations


from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from readur_spark.functions.textstats import token_count_col

#: default per-kind media token budgets (positions a media span occupies
#: in the packed stream): ViT-style 8x8 patch grid for images, a coarse
#: codec-frame budget for audio/video.  ``media`` is the UNIFIED kind
#: the extraction pipeline emits (operators/extract.py span assembly) —
#: without a budget for it, composing extract_spans →
#: build_interleaved_sequences with defaults silently dropped every
#: media span from the stream (found by the REP=100 interleave funnel,
#: r7).  Override per call.
DEFAULT_MEDIA_COSTS = {"image": 64, "audio": 128, "video": 256, "media": 64}


def explode_spans(
    docs: DataFrame, id_col: str = "doc_id", spans_col: str = "spans"
) -> DataFrame:
    """Flatten the interleaved table to one row per span —
    ``(id, span_idx, kind, text, media_ref)`` — preserving document
    order via ``posexplode`` (pure Catalyst, no shuffle)."""
    return docs.select(
        F.col(id_col),
        F.posexplode(spans_col).alias("span_idx", "_span"),
    ).select(
        id_col,
        "span_idx",
        F.col("_span.kind").alias("kind"),
        F.col("_span.text").alias("text"),
        F.col("_span.media_ref").alias("media_ref"),
    )


def _cost_col(media_token_cost, token_counter, text_kinds):
    """token cost of one span: text-bearing kinds -> counted tokens,
    media -> the per-kind budget (int argument = every media kind costs
    that; kinds in neither set get NULL and are dropped upstream)."""
    if isinstance(media_token_cost, int):
        media = F.lit(media_token_cost)
    else:
        media = F.lit(None).cast("long")
        for kind, cost in sorted(media_token_cost.items()):
            media = F.when(F.col("kind") == kind, F.lit(cost)).otherwise(media)
    return (
        F.when(
            F.col("kind").isin(*text_kinds),
            token_counter(F.coalesce(F.col("text"), F.lit(""))),
        )
        .otherwise(media)
        .cast("long")
    )


def build_interleaved_sequences(
    docs: DataFrame,
    seq_len: int = 2048,
    id_col: str = "doc_id",
    spans_col: str = "spans",
    media_token_cost: int | dict[str, int] | None = None,
    token_counter=None,
    text_kinds: tuple[str, ...] = ("text",),
) -> DataFrame:
    """Packing manifest for interleaved multimodal sequences:
    ``(seq_id, doc_id, span_idx, kind, media_ref, tok_start, tok_end,
    n_tokens, seq_pos, straddles)`` with ``tok_start``/``tok_end`` the
    half-open within-SPAN token range assigned to ``seq_id``,
    ``seq_pos`` the segment's start position inside the sequence, and
    ``straddles`` true when the span was cut (its full block spans a
    sequence boundary).

    Deterministic: numeric ids stream in ascending ``(id, span_idx)``;
    string ids in ascending ``(xxhash64(id), id, span_idx)`` (any fixed
    total order is a valid packing order; hash keys bucket uniformly).
    Spans with zero cost (empty/NULL text, media kinds mapped to no
    budget) are dropped from the stream, mirroring
    :func:`readur_spark.operators.packing.pack_sequences`.
    """
    import pyspark.sql.types as T

    spark = docs.sparkSession
    if token_counter is None:
        token_counter = token_count_col
    if media_token_cost is None:
        media_token_cost = dict(DEFAULT_MEDIA_COSTS)
    numeric_id = isinstance(docs.schema[id_col].dataType, T.NumericType)
    id_type = docs.schema[id_col].dataType.simpleString()
    spans = explode_spans(docs, id_col=id_col, spans_col=spans_col)
    key = F.col(id_col) if numeric_id else F.xxhash64(id_col)
    base = spans.select(
        F.col(id_col).alias("id"),
        key.alias("key"),
        "span_idx",
        "kind",
        "media_ref",
        _cost_col(media_token_cost, token_counter, text_kinds).alias("n"),
    ).filter(F.col("n") > 0)
    # persist the slim span-cost projection: the prefix scan's three
    # consumers (min/max, bucket sums, the manifest) would otherwise
    # each re-run the upstream span explode + token counting — three
    # Arrow passes for a BPE counter, three tokenize passes even for
    # the built-in regex counter. Released via the eager-checkpoint
    # pattern below.
    base = base.persist()
    # the shared bucketed prefix scan (packing.bucketed_stream_offsets):
    # bucketing on the DOC key alone keeps a document's spans in one
    # bucket; the within-bucket order extends to (key, id, span_idx)
    from readur_spark.operators.packing import bucketed_stream_offsets

    offs = bucketed_stream_offsets(base, ("id", "span_idx"))
    empty_schema = (
        f"seq_id long, {id_col} {id_type}, span_idx int, kind string, "
        "media_ref string, tok_start long, tok_end long, n_tokens long, "
        "seq_pos long, straddles boolean"
    )
    if offs is None:
        base.unpersist()
        return spark.createDataFrame([], empty_schema)
    first_seq = F.floor(F.col("gstart") / seq_len)
    last_seq = F.floor((F.col("gstart") + F.col("n") - 1) / seq_len)
    exploded = offs.select(
        F.col("id").alias(id_col),
        "span_idx",
        "kind",
        "media_ref",
        "n",
        "gstart",
        (first_seq != last_seq).alias("straddles"),
        F.explode(F.sequence(first_seq, last_seq)).alias("seq_id"),
    )
    seg_start = F.greatest(F.col("gstart"), F.col("seq_id") * seq_len)
    seg_end = F.least(F.col("gstart") + F.col("n"), (F.col("seq_id") + 1) * seq_len)
    manifest = exploded.select(
        "seq_id",
        id_col,
        "span_idx",
        "kind",
        "media_ref",
        (seg_start - F.col("gstart")).alias("tok_start"),
        (seg_end - F.col("gstart")).alias("tok_end"),
        (seg_end - seg_start).alias("n_tokens"),
        (seg_start - F.col("seq_id") * seq_len).alias("seq_pos"),
        "straddles",
    )
    from readur_spark.operators.dedup import _materialize_release

    return _materialize_release(manifest, base)


def interleave_stats(
    manifest: DataFrame, seq_len: int, text_kinds: tuple[str, ...] = ("text",)
) -> DataFrame:
    """Per-sequence fill report a multimodal loader sizes batches with:
    ``(seq_id, n_docs, n_spans, n_text_tokens, n_media_tokens, n_media,
    n_cut_media, fill)``.  ``n_cut_media`` counts media segments whose
    block was split by a boundary — the rows a drop-straddlers policy
    would discard."""
    is_text = F.col("kind").isin(*text_kinds)
    return manifest.groupBy("seq_id").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count("*").alias("n_spans"),
        F.sum(F.when(is_text, F.col("n_tokens")).otherwise(0)).alias(
            "n_text_tokens"
        ),
        F.sum(F.when(~is_text, F.col("n_tokens")).otherwise(0)).alias(
            "n_media_tokens"
        ),
        F.sum(F.when(~is_text, 1).otherwise(0)).alias("n_media"),
        F.sum(F.when(~is_text & F.col("straddles"), 1).otherwise(0)).alias(
            "n_cut_media"
        ),
        (F.sum("n_tokens") / F.lit(float(seq_len))).alias("fill"),
    )


def materialize_interleaved(
    docs: DataFrame,
    manifest: DataFrame,
    encoder,
    id_col: str = "doc_id",
    spans_col: str = "spans",
    text_kinds: tuple[str, ...] = ("text",),
) -> DataFrame:
    """Turn an interleave manifest into the ACTUAL multimodal training
    sequences: ``(seq_id, elements, n_tokens)`` where ``elements`` is
    the in-sequence-order array of
    ``struct(pos, kind, media_ref, ids, n_tokens)`` — token-id slices
    for text segments, media placeholders (``ids`` NULL, ``n_tokens``
    positions to reserve) for media blocks.  The loader-side step the
    manifest exists for, run engine-side.

    ``encoder`` is a Column -> Column function producing ``array<int>``
    token ids for text spans and MUST agree with the ``token_counter``
    the manifest was built with (same contract as
    :func:`readur_spark.operators.packing.materialize_sequences`).

    Plan: encode each span once (Arrow-batched when the encoder is a
    pandas UDF, no shuffle), join the manifest on the uniform
    ``(id, span_idx)`` key, slice each span's within-span token range,
    then ONE ``groupBy(seq_id)`` assembling elements by ``seq_pos`` via
    ``array_sort`` — order comes from the data, not shuffle arrival.
    No driver materialization; sequences land distributed."""
    is_text = F.col("kind").isin(*text_kinds)
    enc = explode_spans(docs, id_col=id_col, spans_col=spans_col).select(
        id_col,
        "span_idx",
        F.when(
            is_text, encoder(F.coalesce(F.col("text"), F.lit("")))
        ).alias("__ids__"),
    )
    pieces = manifest.join(enc, [id_col, "span_idx"]).select(
        "seq_id",
        F.struct(
            F.col("seq_pos").cast("long").alias("pos"),
            F.col("kind"),
            F.col("media_ref"),
            F.when(
                is_text,
                F.slice(
                    "__ids__",
                    (F.col("tok_start") + 1).cast("int"),
                    (F.col("tok_end") - F.col("tok_start")).cast("int"),
                ),
            ).alias("ids"),
            (F.col("tok_end") - F.col("tok_start"))
            .cast("int")
            .alias("n_tokens"),
        ).alias("el"),
    )
    return (
        pieces.groupBy("seq_id")
        .agg(F.array_sort(F.collect_list("el")).alias("elements"))
        .select(
            "seq_id",
            "elements",
            F.aggregate(
                "elements",
                F.lit(0).cast("long"),
                lambda a, el: a + el["n_tokens"],
            ).alias("n_tokens"),
        )
    )
