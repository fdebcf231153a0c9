"""Physical-plan quality gates: these assert the *plan*, not the output —
a correct result from a bad plan (full scan for a 2-column projection, a
shuffle join against a 25-row dim) is a scale bug the row-level tests
can't see."""

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_filter_pushed_to_parquet(spark, docs):
    from readur_spark.operators.search import filter_by_values

    plan = plan_of(filter_by_values(docs, "lang", ["es", "fr"]))
    assert "PushedFilters" in plan and "In(lang" in plan, plan


def test_column_pruning(spark, docs):
    plan = plan_of(docs.select("doc_id", "lang"))
    # the parquet ReadSchema must not include the heavy text column
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "text" not in read_schema, read_schema


def test_min_chars_pushdown(spark, docs):
    from readur_spark.operators.search import list_documents

    plan = plan_of(list_documents(docs, lang="en", min_chars=200))
    assert "GreaterThanOrEqual(n_chars,200)" in plan or "n_chars" in plan.split(
        "PushedFilters:"
    )[1].splitlines()[0], plan


def test_star_join_broadcasts_dims(spark):
    from readur_spark.operators.relational import revenue_by_nation

    orders = spark.read.parquet(f"{SF}/orders.parquet")
    customer = spark.read.parquet(f"{SF}/customer.parquet")
    nation = spark.read.parquet(f"{SF}/nation.parquet")
    region = spark.read.parquet(f"{SF}/region.parquet")
    plan = plan_of(revenue_by_nation(customer, orders, nation, region))
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "SortMergeJoin" not in plan, plan


def test_topk_uses_take_ordered(spark):
    from readur_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = plan_of(cosine_topk(emb, [0.1] * 64, k=10))
    # distributed top-k, not a global sort + limit
    assert "TakeOrderedAndProject" in plan, plan


def test_partial_aggregation_before_shuffle(spark):
    from readur_spark.operators.relational import pricing_summary

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    plan = plan_of(pricing_summary(li))
    # hash aggregate appears twice: partial (map-side) + final
    assert plan.count("HashAggregate") >= 2, plan
    assert "PushedFilters" in plan and "l_shipdate" in plan, plan


def test_normalization_chain_is_whole_stage_codegen(spark, docs):
    from readur_spark.functions.textstats import normalize_text_col

    plan = plan_of(docs.select("doc_id", normalize_text_col(F.col("text")).alias("n")))
    # codegen'd operators are star-prefixed ("*(1) Project ...") in the
    # executedPlan string; "WholeStageCodegen" only appears in formatted mode
    assert "*(" in plan, plan
    # and no python/pandas UDF anywhere in the normalization path
    assert "PythonUDF" not in plan and "ArrowEvalPython" not in plan, plan


def test_semi_and_anti_join_shapes(spark):
    from readur_spark.operators.relational import (
        customers_with_high_value_orders,
        customers_without_orders,
    )

    customer = spark.read.parquet(f"{SF}/customer.parquet")
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    anti = plan_of(customers_without_orders(customer, orders))
    semi = plan_of(customers_with_high_value_orders(customer, orders, 450_000.0))
    assert "LeftAnti" in anti, anti
    assert "LeftSemi" in semi, semi


def test_paginate_is_distributed_topk(spark, docs):
    """F8 pagination must compile to TakeOrderedAndProject (per-task top
    offset+limit heaps merged on the driver), never a single-task global
    sort (Exchange SinglePartition) — the latter materializes the whole
    table through one task and dies at web scale."""
    from readur_spark.operators.search import paginate

    plan = plan_of(paginate(docs, limit=20, offset=10))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange SinglePartition" not in plan, plan


def test_corpus_wide_queries_have_no_single_partition_exchange(spark, docs):
    """Queries returning O(corpus) rows must never funnel through one
    partition. (Global scalar aggregates like count_matching legitimately
    end in a 1-row final agg and are excluded.)"""
    from readur_spark.operators import dedup
    from readur_spark.operators.search import (
        filter_by_values,
        fts_simple,
        list_documents,
        paginate,
        snippets,
    )

    frames = {
        "fts_simple": fts_simple(docs, "spark window"),
        "filter": filter_by_values(docs, "lang", ["es", "fr"]),
        "snippets": snippets(docs, "spark"),
        "list_documents": list_documents(docs, lang="en", min_chars=200),
        "paginate": paginate(docs, limit=20, offset=10),
        "dedup_keep_first": dedup.dedup_keep_first(docs),
    }
    for name, df in frames.items():
        plan = plan_of(df)
        assert "Exchange SinglePartition" not in plan, f"{name}:\n{plan}"


def test_label_filter_broadcasts_dim_and_semi_joins(spark, docs):
    """F6 must broadcast the tiny labels dim and left-semi into docs —
    never shuffle docs against labels (search.rs:132-139 IN-subquery)."""
    from readur_spark.operators.search import filter_by_labels
    from readur_spark.sources.tables import document_labels_table, labels_table

    plan = plan_of(
        filter_by_labels(
            docs, document_labels_table(spark, SF), labels_table(spark), ["contract"]
        )
    )
    assert "LeftSemi" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_ts_rank_stays_jvm_side(spark, docs):
    from readur_spark.operators.search import search_ranked_ts

    plan = plan_of(search_ranked_ts(docs, "spark merge"))
    assert "PythonUDF" not in plan and "ArrowEvalPython" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_decontaminate_broadcasts_eval_side(spark, docs):
    """The held-out set is small by construction: its fingerprints AND its
    texts must arrive as broadcasts — the corpus side never shuffles for
    the join."""
    from readur_spark.operators.dedup import decontaminate

    heldout = docs.filter(F.col("doc_id") % 5 == 0)
    plan = plan_of(
        decontaminate(docs, heldout, min_len=50, exclude_same_id=True)
    )
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "Exchange SinglePartition" not in plan, plan


def test_repetition_metrics_no_single_partition(spark, docs):
    from readur_spark.operators.repetition import repetition_metrics

    plan = plan_of(repetition_metrics(docs))
    assert "Exchange SinglePartition" not in plan, plan
    # every groupBy family partial-aggregates before its shuffle
    assert "partial_count" in plan or "partial" in plan.lower(), plan


def test_sampling_ops_no_shuffle(spark, docs):
    """split/sample are pure row-local expressions: no Exchange at all."""
    from readur_spark.operators.sampling import sample_by_weight, split_assign

    for df in (split_assign(docs), sample_by_weight(docs, rate=0.5)):
        plan = plan_of(df)
        assert "Exchange" not in plan, plan
        # "*(1)" is the whole-stage-codegen marker in executedPlan strings
        assert plan.lstrip().startswith("*("), plan


def test_fuzzy_search_mega_doc_linear(spark, docs):
    """fuzzy_search's array path is quadratic in text length (substr char
    indexing); the size dispatch + when() guard (Catalyst may reorder the
    length predicate after the similarity predicate!) must keep a 1.5M-char
    doc in the seconds range with identical similarity on both paths."""
    import time

    from readur_spark.operators.search import (
        ARRAY_PATH_MAX_CHARS,
        _trigrams,
        fuzzy_search,
    )

    q = set(_trigrams("spark merge"))

    def reference(text):
        t = set(_trigrams(text))
        inter = len(t & q)
        return inter / (len(t) + len(q) - inter)

    # a doc one char past the bound takes the relational path; the corpus
    # docs are all shorter and take the array path
    edge = ("spark merge window batch " * 401)[: ARRAY_PATH_MAX_CHARS + 1]
    edge_df = spark.createDataFrame(
        [(-1, edge, len(edge))], "doc_id long, text string, n_chars long"
    )
    both = docs.select("doc_id", "text", "n_chars").unionByName(edge_df)
    got = {
        r["doc_id"]: r["similarity"]
        for r in fuzzy_search(both, "spark merge", threshold=0.05).collect()
    }
    want = {
        r["doc_id"]: reference(r["text"])
        for r in both.select("doc_id", "text").collect()
        if reference(r["text"]) > 0.05
    }
    assert -1 in want and len(want) > 1
    assert got.keys() == want.keys()
    assert all(got[i] == pytest.approx(want[i], abs=1e-6) for i in want)
    mega = "spark merge window batch " * 60_000
    mdocs = spark.createDataFrame(
        [(1, mega, len(mega))], "doc_id long, text string, n_chars long"
    )
    t0 = time.time()
    got = fuzzy_search(mdocs, "spark merge", threshold=0.05).collect()
    took = time.time() - t0
    assert len(got) == 1 and got[0]["similarity"] > 0.05
    assert took < 90, took


def test_dedup_lines_plan_shape(spark, docs):
    """dedup_lines: uniform-key shuffles only — no single-partition funnel,
    no cartesian, no Python stage (pure Catalyst rebuild)."""
    from readur_spark.operators.dedup import dedup_lines

    plan = plan_of(dedup_lines(docs, max_line_df=10))
    assert "Exchange SinglePartition" not in plan, plan
    assert "Cartesian" not in plan, plan
    for py_stage in ("BatchEvalPython", "MapInPandas", "FlatMapGroupsInPandas"):
        assert py_stage not in plan, plan


def test_lm_scoring_plan_no_python_no_cartesian(spark, docs):
    from readur_spark.operators.lm import perplexity_score, train_bigram_lm

    lm = train_bigram_lm(docs.filter(F.col("doc_id") % 10 == 0))
    plan = plan_of(perplexity_score(docs, lm))
    assert "Exchange SinglePartition" not in plan, plan
    assert "Cartesian" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_interleave_pack_no_single_partition(spark):
    """The span-stream prefix scan windows PARTITION BY bucket and the
    bases arrive broadcast — no Exchange SinglePartition (the failure
    mode of a naive global ORDER BY window over the span stream).

    Since r9 the operator eagerly checkpoints its manifest (releasing
    the persisted base), so the RETURNED frame's plan is lineage-
    truncated; the invariant is asserted on the prefix-scan component
    the operator executes — the same plan that ran inside the
    checkpoint."""
    from pyspark.sql import functions as F

    from readur_spark.corpus import docs_dataframe
    from readur_spark.operators.interleave import (
        _cost_col,
        explode_spans,
    )
    from readur_spark.operators.packing import bucketed_stream_offsets
    from readur_spark.functions.textstats import token_count_col

    docs = docs_dataframe(spark, 40, seed=3)
    spans = explode_spans(docs, id_col="doc_id", spans_col="spans")
    base = spans.select(
        F.col("doc_id").alias("id"),
        F.xxhash64("doc_id").alias("key"),
        "span_idx",
        "kind",
        "media_ref",
        _cost_col({"media": 64}, token_count_col, ("text", "html")).alias(
            "n"
        ),
    ).filter(F.col("n") > 0)
    offs = bucketed_stream_offsets(base, ("id", "span_idx"))
    plan = plan_of(offs)
    assert "Exchange SinglePartition" not in plan, plan
    assert "BroadcastExchange" in plan, plan
