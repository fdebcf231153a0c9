"""Query/search-side operators (readur's Postgres-delegated query surface,
SURVEY.md §2.9) re-expressed as Catalyst-native DataFrame pipelines.

The reference pushes all of this to Postgres
(/root/reference/src/db/documents/search.rs); here every operator is a
declarative DataFrame plan so Catalyst does predicate pushdown, column
pruning, and broadcast selection. Functions take the ``documents`` table
``(doc_id, text, lang, source, n_chars)`` and return aliased result frames
whose column names match the DuckDB oracles in ``__spark_entry__.py``.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _term_predicate(text: Column, term: str) -> Column:
    """Word-boundary term match over lowered text — the batch analog of
    plainto_tsquery term matching (search.rs:103-109)."""
    return F.lower(text).rlike(r"\b" + term.lower() + r"\b")


def fts_simple(docs: DataFrame, query: str) -> DataFrame:
    """F1: all terms must match (plainto_tsquery AND-folds terms,
    search.rs:103-109)."""
    pred = None
    for term in query.split():
        p = _term_predicate(F.col("text"), term)
        pred = p if pred is None else (pred & p)
    return docs.filter(pred).select("doc_id", "lang", "source", "n_chars")


def fts_phrase(docs: DataFrame, phrase: str) -> DataFrame:
    """F2: contiguous phrase match (phraseto_tsquery, search.rs:110-116)."""
    return docs.filter(F.lower(F.col("text")).contains(phrase.lower())).select(
        "doc_id", "lang", "source", "n_chars"
    )


def fts_boolean(docs: DataFrame, must: list[str], should: list[str], must_not: list[str]) -> DataFrame:
    """F3: boolean search (to_tsquery AND/OR/NOT, search.rs:117-123)."""
    pred = F.lit(True)
    for t in must:
        pred = pred & _term_predicate(F.col("text"), t)
    if should:
        any_pred = F.lit(False)
        for t in should:
            any_pred = any_pred | _term_predicate(F.col("text"), t)
        pred = pred & any_pred
    for t in must_not:
        pred = pred & ~_term_predicate(F.col("text"), t)
    return docs.filter(pred).select("doc_id", "lang", "source", "n_chars")


def _trigrams(s: str) -> list[str]:
    s = s.lower()
    return sorted({s[i : i + 3] for i in range(len(s) - 2)}) if len(s) >= 3 else [s.lower()]


def fuzzy_search(
    docs: DataFrame,
    query: str,
    threshold: float = 0.3,
    array_path_max_chars: int = 10_000,
) -> DataFrame:
    """F4: trigram-set Jaccard similarity > threshold (the pg_trgm
    ``similarity(text, q) > 0.3`` shape, search.rs:124-128).

    Size-dispatched like the chunker: docs up to ``array_path_max_chars``
    take the zero-shuffle codegen path (trigrams via
    ``transform(sequence(...)) + substr``). That path is quadratic in the
    text length — ``substr(i, 3)`` must scan to char i, and the lambda
    re-lowercases the text per trigram — so mega documents route through a
    relational path: split to characters, posexplode once, trigram via
    window ``lead``, and aggregate the set intersection per doc. Identical
    similarity on both paths (tested)."""
    q = _trigrams(query)
    q_arr = F.array(*[F.lit(t) for t in q])
    lowered = F.lower(F.col("text"))
    tri = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(lowered) - 2, F.lit(1))),
            lambda i: lowered.substr(i, F.lit(3)),
        )
    )
    inter = F.size(F.array_intersect(tri, q_arr))
    union = F.size(tri) + F.lit(len(q)) - inter
    sim = F.round(inter / union, 6)
    # the when() guard is load-bearing: Catalyst may REORDER the length
    # filter after the similarity filter, and the quadratic trigram
    # expression must never evaluate on a mega row — when() short-circuits
    # per row regardless of predicate order
    sim_guarded = F.when(F.length("text") <= array_path_max_chars, sim)
    small = (
        docs.filter(F.length("text") <= array_path_max_chars)
        .withColumn("similarity", sim_guarded)
        .filter(F.col("similarity") > threshold)
        .select("doc_id", "similarity", "n_chars")
    )

    from pyspark.sql.window import Window

    big = docs.filter(F.length("text") > array_path_max_chars)
    chars = big.select(
        "doc_id", F.posexplode(F.split(lowered, "")).alias("pos", "ch")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    tri_rows = chars.select(
        "doc_id",
        F.when(
            F.lead("ch", 2).over(w).isNotNull(),
            F.concat("ch", F.lead("ch", 1).over(w), F.lead("ch", 2).over(w)),
        ).alias("tri"),
    ).where(F.col("tri").isNotNull())
    per_doc = tri_rows.groupBy("doc_id").agg(
        F.countDistinct("tri").alias("n_tri"),
        F.countDistinct(F.when(F.col("tri").isin(q), F.col("tri"))).alias("inter"),
    )
    big_sim = (
        per_doc.join(big.select("doc_id", "n_chars"), "doc_id")
        .withColumn(
            "similarity",
            F.round(
                F.col("inter") / (F.col("n_tri") + F.lit(len(q)) - F.col("inter")), 6
            ),
        )
        .filter(F.col("similarity") > threshold)
        .select("doc_id", "similarity", "n_chars")
    )
    return small.unionByName(big_sim)


def search_ranked(docs: DataFrame, term: str, limit: int = 25) -> DataFrame:
    """F5+F8: tf-style rank (occurrence count of the term), ORDER BY rank
    DESC with doc_id tie-break, LIMIT — the ts_rank / pagination shape
    (search.rs:69-94,149-153). Deterministic total order so LIMIT is a
    well-defined set for the oracle comparison."""
    ranked = docs.withColumn(
        "search_rank", F.regexp_count(F.lower(F.col("text")), F.lit(term.lower()))
    ).filter(F.col("search_rank") > 0)
    return (
        ranked.orderBy(F.desc("search_rank"), F.asc("doc_id"))
        .select("doc_id", "search_rank", "n_chars")
        .limit(limit)
    )


def paginate(docs: DataFrame, limit: int, offset: int) -> DataFrame:
    """F8: LIMIT/OFFSET over a deterministic order (created_at in the
    reference; doc_id here).

    Plan shape: ``orderBy + offset + limit`` compiles to a single
    ``TakeOrderedAndProject(limit=offset+limit, offset=offset)`` — Spark's
    distributed top-k. Each task keeps only its local top ``offset+limit``
    rows and the driver merges those tiny heaps; nothing ever sorts the
    full table through one task (the previous row_number() window form
    forced an Exchange SinglePartition — a global single-task sort that
    dies at web scale; asserted against in tests/test_plan_quality.py)."""
    return (
        docs.select("doc_id", "lang", "source", "n_chars")
        .orderBy(F.asc("doc_id"))
        .offset(offset)
        .limit(limit)
    )


def count_matching(docs: DataFrame, term: str) -> DataFrame:
    """F9: COUNT(*) under the same predicate set (search.rs:263-322)."""
    return docs.filter(_term_predicate(F.col("text"), term)).agg(
        F.count("*").alias("n_matching")
    )


def facet_counts(docs: DataFrame, col: str) -> DataFrame:
    """F11: facet counts (management.rs:153-190)."""
    return docs.groupBy(col).agg(F.count("*").alias("n_docs"))


def filter_by_values(docs: DataFrame, col: str, values: list[str]) -> DataFrame:
    """F7: ``col = ANY(list)`` filter (search.rs:141-147)."""
    return docs.filter(F.col(col).isin(values)).select(
        "doc_id", "lang", "source", "n_chars"
    )


def filter_by_labels(
    docs: DataFrame, document_labels: DataFrame, labels: DataFrame, names: list[str]
) -> DataFrame:
    """F6: label/tag filter — the reference's
    ``documents.id IN (SELECT dl.document_id FROM document_labels dl JOIN
    labels l ON dl.label_id = l.id WHERE l.name = ANY($tags))``
    (search.rs:132-139), as a broadcast-dim + left-semi plan: the tiny
    ``labels`` dimension is broadcast into ``document_labels`` (no shuffle
    on the big side for that join), then docs left-semi the matching doc
    ids. At web scale both remaining sides shuffle on doc_id — the minimal
    shape for an IN-subquery."""
    wanted = labels.filter(F.col("name").isin(names)).select("label_id")
    doc_ids = document_labels.join(F.broadcast(wanted), "label_id").select("doc_id")
    return docs.join(doc_ids, "doc_id", "left_semi").select(
        "doc_id", "lang", "source", "n_chars"
    )


def tag_facets(document_labels: DataFrame, labels: DataFrame) -> DataFrame:
    """F11 tag facets — ``SELECT l.name, COUNT(DISTINCT dl.document_id)
    FROM labels l LEFT JOIN document_labels dl ON l.id = dl.label_id
    GROUP BY l.name`` (management.rs:169-190). Labels with no documents
    report 0 (countDistinct ignores the left-join nulls)."""
    return (
        labels.alias("l")
        .join(document_labels.alias("dl"), F.col("l.label_id") == F.col("dl.label_id"), "left")
        .groupBy(F.col("l.name").alias("name"))
        .agg(F.countDistinct(F.col("dl.doc_id")).alias("n_docs"))
    )


def search_ranked_ts(docs: DataFrame, query: str, limit: int = 25) -> DataFrame:
    """F5 with ts_rank fidelity: Postgres ``ts_rank`` (search.rs:69-94)
    dampens raw term frequency logarithmically and (normalization bit 1)
    divides by 1 + log(document length). The batch mirror:

        rank = Σ_terms (1 + ln(tf_t)) / (1 + ln(word_count)),  tf_t > 0

    rounded to 6dp for engine-portable comparison. Matches ts_rank's
    qualitative ordering (diminishing returns per extra occurrence, long
    documents penalized) without Postgres's positional weighting, which
    needs lexeme positions the batch engine doesn't index."""
    lowered = F.lower(F.col("text"))
    wc = F.greatest(
        F.size(F.filter(F.split(F.trim(lowered), r"\s+"), lambda t: t != "")), F.lit(1)
    )
    rank = F.lit(0.0)
    for term in query.split():
        # user terms are literals, not patterns — escape regex
        # metacharacters ('c++', '(test') the way plainto_tsquery
        # sanitizes input (re.escape output is Java-Pattern-safe:
        # backslash before punctuation is always a literal there)
        tf = F.regexp_count(lowered, F.lit(re.escape(term.lower())))
        rank = rank + F.when(tf > 0, (F.lit(1.0) + F.log(tf)) / (F.lit(1.0) + F.log(wc))).otherwise(
            F.lit(0.0)
        )
    ranked = (
        docs.withColumn("search_rank", F.round(rank, 6))
        .filter(F.col("search_rank") > 0)
        .select("doc_id", "search_rank", "n_chars")
    )
    return ranked.orderBy(F.desc("search_rank"), F.asc("doc_id")).limit(limit)


def filter_by_role(
    docs: DataFrame, user_id: int, role: str, owner_col: str = "owner_id"
) -> DataFrame:
    """F12: role-based visibility (helpers.rs:55-67) — admins see
    everything (no predicate), users only rows whose ``owner_col`` matches.
    The user predicate reaches the parquet scan as a pushed filter when
    ``owner_col`` is a physical column."""
    if role == "admin":
        return docs
    return docs.filter(F.col(owner_col) == user_id)


def snippets(docs: DataFrame, term: str, snippet_length: int = 200) -> DataFrame:
    """F10: first-match snippet window (search.rs:190-260 generates ≤5
    snippets ≤3/term with word-boundary snapping; the batch form keeps the
    first match per doc, a fixed-width window — fully Catalyst-native)."""
    lowered = F.lower(F.col("text"))
    pos = F.locate(term.lower(), lowered)  # 1-based; 0 = no match
    start = F.greatest(pos - F.lit(snippet_length // 4), F.lit(1))
    return (
        docs.filter(pos > 0)
        .select(
            "doc_id",
            F.substring(F.col("text"), start, F.lit(snippet_length)).alias("snippet"),
            (pos - 1).alias("match_offset"),
        )
    )


def snippets_full(docs: DataFrame, query: str, snippet_length: int = 200) -> DataFrame:
    """F10 with full reference semantics (word-boundary snapping, highlight
    ranges, ≤3-while-scanning / ≤5-total caps — search.rs:190-260) via the
    parity kernel in an Arrow-batched stage. One output row per snippet."""
    import pandas as pd

    from readur_spark.kernels.snippets import generate_snippets

    def run(batches):
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                for s in generate_snippets(text or "", query, snippet_length):
                    rows.append({"doc_id": doc_id, **s})
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "text", "start_offset", "end_offset",
                    "highlight_start", "highlight_end",
                ],
            )

    return docs.select("doc_id", "text").mapInPandas(
        run,
        "doc_id long, text string, start_offset int, end_offset int, "
        "highlight_start int, highlight_end int",
    )


def list_documents(
    docs: DataFrame,
    lang: str | None = None,
    source: str | None = None,
    min_chars: int | None = None,
) -> DataFrame:
    """F13: list + filter + sort (management.rs:242-315)."""
    out = docs
    if lang is not None:
        out = out.filter(F.col("lang") == lang)
    if source is not None:
        out = out.filter(F.col("source") == source)
    if min_chars is not None:
        out = out.filter(F.col("n_chars") >= min_chars)
    return out.select("doc_id", "lang", "source", "n_chars").orderBy("doc_id")


def doc_stats(docs: DataFrame) -> DataFrame:
    """Q9 analog: per-source stats (queue.rs:890-1061 aggregates)."""
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


def tfidf_top_terms(
    docs: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 2,
) -> DataFrame:
    """Corpus-wide TF-IDF keyword extraction: the top-``k`` most
    distinctive terms per document — the relevance statistic F5's per-query
    tf ranking lacks (idf needs the WHOLE corpus; Postgres ts_rank proxies
    it with static weights, src/db/documents/search.rs:69-94).

    tf = term count in doc; idf = ln((N+1)/(df+1)) + 1 (smoothed,
    sklearn's convention); terms in fewer than ``min_df`` docs are dropped
    (hapaxes are typos/ids more often than keywords). Ties break on the
    term string so the top-k set is deterministic.

    Scale: one token explode → two map-side-combining aggregations (per-doc
    tf, corpus df) → join on the uniform term key → per-doc window top-k.
    The N scalar comes from a count of the docs frame (one cheap job);
    no driver-side state otherwise."""
    from pyspark.sql.window import Window

    from readur_spark.operators.dedup import _token_rows

    from readur_spark.operators.dedup import _materialize_release

    n_docs = docs.count()
    toks = _token_rows(docs, id_col, text_col)
    # persisted: the (doc, term, tf) table feeds BOTH the corpus df
    # aggregation and the scoring join — without the persist the token
    # explode + per-doc aggregation over the whole corpus executes twice
    # (measured as the two dominant stages of this operator). Released
    # via the eager checkpoint of the k-per-doc result below.
    tf = toks.groupBy("id", "tk").agg(F.count("*").alias("tf")).persist()
    df = tf.groupBy("tk").agg(F.count("*").alias("df")).filter(
        F.col("df") >= min_df
    )
    idf = F.log((F.lit(float(n_docs) + 1.0)) / (F.col("df") + 1.0)) + 1.0
    scored = tf.join(df, "tk").select(
        "id", "tk", F.round(F.col("tf") * idf, 6).alias("tfidf")
    )
    w = Window.partitionBy("id").orderBy(F.desc("tfidf"), F.asc("tk"))
    result = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            F.col("id").alias(id_col),
            F.col("tk").alias("term"),
            "tfidf",
            F.col("rnk").cast("int").alias("rnk"),
        )
    )
    return _materialize_release(result, tf)
