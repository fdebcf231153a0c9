"""The flagship extraction operator: interleaved docs → ordered spans.

Spark shape
-----------
One ``mapInPandas`` stage over a skew-defused partitioning of the input:

* **Partitioning** (``plan_partitions``): one rule. When the input's file
  scan yields fewer splits than ``num_partitions``, hash-repartition on
  ``xxhash64(doc_id)`` so the documents, mega-docs included, spread
  evenly by id; otherwise keep the input's partitions and skip the payload
  shuffle. Cached and checkpointed inputs are already planned and are
  kept. The split count comes from Spark's own scan plan, without running
  a job (``operators.partitioning``). A single giant row is one task's
  work either way; AQE cannot split a row.
* **Extraction**: ``map_documents``, the one Python boundary for every
  per-document operator here and in ``binary_extract`` and
  ``multimodal``. It ships only the columns the kernel reads (plus
  passthrough), runs the pure-Python kernel (readur-parity semantics, see
  ``kernels.extractor``) once per document of each Arrow batch, and
  builds the output batch column-wise. No per-row Spark serde — batch
  in, batch out over Arrow.

At cluster scale the same plan holds: the scan is columnar (only ``doc_id``
+ ``spans`` are read), the only shuffle is the planned repartition, and
the UDF stage is embarrassingly parallel at ``num_partitions`` granularity
(set it to 2–3× total executor cores). Each Python task has a fixed cost of
about 0.045 s of worker CPU: an identity ``mapInArrow`` over 20k
``doc_id``s at 4, 8 and 32 tasks on ``local[4]``, with the package's guard
against per-task zip re-reads in place (0.25 s without it). The kernel
costs about 70 µs of CPU per flagship document (the minimum over repeated
in-process passes on its 5,000 documents), so a task of 10^4 documents
spends under 7% of its time on that fixed cost.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from readur_spark.kernels.extractor import extract_document
from readur_spark.operators.partitioning import ensure_partitions

#: The ordered span sequence every extraction operator emits.
SPANS_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("kind", T.StringType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("media_ref", T.StringType(), True),
            T.StructField("order", T.IntegerType(), True),
        ]
    )
)

EXTRACTED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", SPANS_TYPE, True),
        T.StructField("confidence", T.FloatType(), True),
        T.StructField("word_count", T.IntegerType(), True),
        T.StructField("status", T.StringType(), True),
        T.StructField("failure_reason", T.StringType(), True),
        T.StructField("preprocessing_applied", T.ArrayType(T.StringType()), True),
        T.StructField("processing_time_ms", T.LongType(), True),
    ]
)


def plan_partitions(docs_df: DataFrame, num_partitions: int) -> DataFrame:
    """Skew-defused partitioning: one hash repartition on
    ``xxhash64(doc_id)`` (the north rule's salt-by-doc_id) when the input's
    file scan yields fewer than ``num_partitions`` splits. Document costs
    are long-tailed, but hashing 10^12 docs over ~10^5 partitions averages
    the tail out. Inputs that already carry the parallelism (byte-bounded
    scan splits, cached or checkpointed data) skip the payload shuffle;
    the decision is :func:`~readur_spark.operators.partitioning.ensure_partitions`."""
    return ensure_partitions(docs_df, num_partitions, F.xxhash64("doc_id"))


def map_documents(
    df: DataFrame,
    inputs: Sequence[str],
    kernel: Callable[..., dict],
    schema: T.StructType,
    passthrough: Sequence[str] = (),
) -> DataFrame:
    """The one Python boundary for per-document operators: one row in, one
    row out, over Arrow batches (``mapInPandas``).

    Only the ``inputs`` and ``passthrough`` columns cross the boundary.
    Per row, ``kernel(*values of inputs)`` returns a dict of output
    fields; a ``schema`` field it leaves out is null, and
    ``processing_time_ms``, when ``schema`` has it, is the kernel call's
    wall time. A ``passthrough`` column is copied verbatim: in place when
    ``schema`` names it, else appended with its input type. Output is
    built column-wise, one list per field, never as row dicts.
    """
    names = schema.fieldNames()
    schema = T.StructType(
        schema.fields + [df.schema[c] for c in passthrough if c not in names]
    )
    computed = [
        n for n in names if n not in passthrough and n != "processing_time_ms"
    ]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {name: [] for name in schema.fieldNames()}
            fill = [(out[name].append, name) for name in computed]
            ms = out.get("processing_time_ms")
            for values in zip(*(pdf[c] for c in inputs)):
                t0 = time.perf_counter()
                res = kernel(*values)
                if ms is not None:
                    ms.append(int((time.perf_counter() - t0) * 1000))
                for append, name in fill:
                    append(res.get(name))
            for c in passthrough:
                out[c] = pdf[c].tolist()
            yield pd.DataFrame(out)

    # in the input's column order, so a frame that has only these columns
    # crosses unprojected
    shipped = {*inputs, *passthrough}
    return df.select(*(c for c in df.columns if c in shipped)).mapInPandas(
        run, schema
    )


def extract_spans(
    docs_df: DataFrame,
    repair_hyphens: bool = True,
    num_partitions: int | None = None,
    passthrough_cols: list[str] | None = None,
) -> DataFrame:
    """Run the extraction pipeline over an interleaved-docs DataFrame.

    ``num_partitions``: when set, ``plan_partitions`` first. Sizing
    guidance: 2–3× total cores, so the stage keeps every core busy through
    skew and elasticity. A Python task's fixed cost is about 0.045 s of
    worker CPU (module docstring), the kernel's time for about 650
    documents, so size tasks well above that: 10^4 documents or more.
    When ``None`` the input partitioning is kept (caller already planned).

    ``passthrough_cols``: input columns copied verbatim onto the output
    (e.g. a precomputed ``partition_id`` for checkpoint lineage).
    """
    if num_partitions:
        docs_df = plan_partitions(docs_df, num_partitions)

    def kernel(spans):
        # Arrow delivers array<struct> elements as plain dicts with the
        # span field names — hand them to the kernel without re-copying
        return extract_document(
            spans if spans is not None else [], repair_hyphens=repair_hyphens
        )

    passthrough = ["doc_id", *(passthrough_cols or [])]
    return map_documents(docs_df, ["spans"], kernel, EXTRACTED_SCHEMA, passthrough)


# chunk_texts: longer docs take the linear relational path
ARRAY_PATH_MAX_WORDS = 10_000


def chunk_texts(
    docs_df: DataFrame,
    chunk_words: int = 128,
    overlap_words: int = 32,
) -> DataFrame:
    """Training-data chunking: split each document into word-bounded
    chunks of ``chunk_words`` with ``overlap_words`` overlap (stride =
    chunk_words − overlap_words), emitting (id, chunk_no, chunk_text,
    n_words).

    Size-dispatched for the mega-doc tail: docs up to
    ``ARRAY_PATH_MAX_WORDS`` take the zero-shuffle array path (split +
    sequence + slice + explode — a scan-speed codegen'd projection). The
    array path is NOT safe unbounded: the transform lambda re-evaluates
    the embedded split() per chunk (interpreted HOFs have no CSE), which
    is quadratic-by-chunks — a 200k-word doc effectively hangs. Docs above
    the bound route through the relational path instead: posexplode words
    once, assign each word to its covering chunk indices, groupBy
    (doc, chunk) and reassemble in position order — linear, one shuffle,
    and only the ~1% mega tail pays it.

    Boundary semantics (identical on both paths, mirrored exactly in the
    DuckDB oracle):
    * empty/whitespace docs produce no chunks;
    * the last chunk is the final ≤chunk_words window — a doc shorter than
      chunk_words yields exactly one chunk;
    * trailing windows fully contained in the previous chunk are not
      emitted (stride walks past the end at most once).
    """
    assert 0 <= overlap_words < chunk_words
    stride = chunk_words - overlap_words
    words = F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda w: w != "")
    n = F.size(words)

    # ---- array path (zero shuffle), docs with n ≤ bound -----------------
    extra = F.greatest(n - F.lit(chunk_words), F.lit(0))
    n_chunks = F.when(n == 0, F.lit(0)).otherwise(
        F.lit(1) + F.ceil(extra / F.lit(stride)).cast("int")
    )
    chunk = F.explode(
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.struct(
                i.cast("int").alias("chunk_no"),
                F.array_join(
                    F.slice(words, i * stride + 1, chunk_words), " "
                ).alias("chunk_text"),
                F.least(n - i * stride, F.lit(chunk_words)).cast("int").alias("n_words"),
            ),
        )
    ).alias("c")
    small = (
        docs_df.filter((n > 0) & (n <= ARRAY_PATH_MAX_WORDS))
        .select(F.col("doc_id"), chunk)
        .select(
            "doc_id",
            F.col("c.chunk_no").alias("chunk_no"),
            F.col("c.chunk_text").alias("chunk_text"),
            F.col("c.n_words").alias("n_words"),
        )
    )

    # ---- relational path (linear), the mega tail -------------------------
    big_rows = docs_df.filter(n > ARRAY_PATH_MAX_WORDS).select(
        F.col("doc_id").alias("_id"), F.posexplode(words).alias("pos", "w")
    )
    counts = big_rows.groupBy("_id").agg(F.count("*").alias("_n"))
    nn = F.col("_n")
    n_chunks_big = F.lit(1) + F.ceil(
        F.greatest(nn - F.lit(chunk_words), F.lit(0)) / F.lit(stride)
    ).cast("int")
    # word at pos p belongs to chunk i iff i*stride ≤ p < i*stride+chunk_words
    i_lo = F.greatest(
        F.ceil((F.col("pos") - F.lit(chunk_words) + 1) / F.lit(stride)).cast("int"),
        F.lit(0),
    )
    i_hi = F.least(
        F.floor(F.col("pos") / F.lit(stride)).cast("int"), n_chunks_big - 1
    )
    assigned = (
        big_rows.join(counts, "_id")
        .select(
            "_id",
            "pos",
            "w",
            F.explode(F.sequence(i_lo, i_hi)).alias("chunk_no"),
        )
    )
    big = assigned.groupBy("_id", "chunk_no").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "w"))), lambda x: x["w"]
            ),
            " ",
        ).alias("chunk_text"),
        F.count("*").cast("int").alias("n_words"),
    ).select(
        F.col("_id").alias("doc_id"),
        F.col("chunk_no").cast("int").alias("chunk_no"),
        "chunk_text",
        "n_words",
    )
    return small.unionByName(big)


def chunk_texts_by_tokens(
    docs_df: DataFrame,
    tokenizer,
    chunk_tokens: int = 512,
    overlap_tokens: int = 0,
) -> DataFrame:
    """Token-boundary chunking: split each document into windows of
    ``chunk_tokens`` BPE tokens with ``overlap_tokens`` overlap, emitting
    (id, chunk_no, chunk_text, n_tokens) where ``chunk_text`` is the
    exact DECODE of the window's token ids. Every window cut is SNAPPED
    to a pre-token boundary (kernels.bpe.token_windows) — byte-level BPE
    tokens need not align to character boundaries, so a raw fixed-stride
    cut could split a multi-byte UTF-8 character (silent U+FFFD) or a
    contraction/letter-digit pre-token (re-tokenization drift). With
    snapped cuts a trainer re-encoding any chunk gets back precisely its
    token slice; windows therefore hold *at most* ``chunk_tokens``
    tokens and overlap *at most* ``overlap_tokens``. Inside a single
    pre-token longer than ``chunk_tokens`` (a mega-run) the cut falls
    back to a character boundary: decode stays exact, re-encode may
    re-merge differently. This is the trainer-faithful sibling of
    :func:`chunk_texts` (word windows): every real pipeline sizes
    context windows in tokens, not words.

    Empty docs produce no chunks; the last chunk is the final tail
    window. Embarrassingly parallel (merges never cross pre-token
    boundaries): one Arrow-batched mapInPandas, no shuffle.
    ``tokenizer`` is a kernels.bpe.BpeTokenizer; its merge table ships
    in the closure, the per-process instance is cached."""
    import pandas as pd

    from readur_spark.kernels.bpe import token_windows
    from readur_spark.operators.bpe import process_tokenizer

    assert 0 <= overlap_tokens < chunk_tokens
    merges = tokenizer.merges
    holder: dict = {}
    id_type = docs_df.schema["doc_id"].dataType.simpleString()

    def run(batches):
        tok = process_tokenizer(merges, holder)
        vocab = tok.token_bytes()
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                ids, starts = tok.encode_with_starts(text or "")
                if not ids:
                    continue
                windows = token_windows(
                    ids, starts, vocab, chunk_tokens, overlap_tokens
                )
                for chunk_no, (pos, end) in enumerate(windows):
                    rows.append(
                        {
                            "doc_id": doc_id,
                            "chunk_no": chunk_no,
                            "chunk_text": tok.decode(ids[pos:end]),
                            "n_tokens": end - pos,
                        }
                    )
            yield pd.DataFrame(
                rows, columns=["doc_id", "chunk_no", "chunk_text", "n_tokens"]
            )

    return docs_df.select("doc_id", "text").mapInPandas(
        run,
        f"doc_id {id_type}, chunk_no int, chunk_text string, n_tokens long",
    )
