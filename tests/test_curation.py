"""End-to-end curation funnel: stage monotonicity, dedup efficacy,
deterministic output, both input shapes."""

import pytest
from pyspark.sql import functions as F

from readur_spark.plans.curation import curate, curate_to_parquet

SF = "/root/testdata/sf0.001"
STOPS = ("the", "a", "table", "value", "row", "key")


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_funnel_monotone_and_deduped(spark, docs):
    chunks, m = curate(
        docs, require_gopher=True, gopher_stopwords=STOPS, chunk_words=40,
        overlap_words=8,
    )
    assert m["input_docs"] >= m["after_quality_filter"] >= m["after_exact_dedup"]
    assert m["after_exact_dedup"] >= m["after_near_dedup"] > 0
    assert m["chunks"] >= m["after_near_dedup"]  # every survivor chunks
    # near-dup pass must actually remove the planted near-duplicates
    assert m["after_near_dedup"] < m["after_exact_dedup"]
    got = chunks.select("doc_id", "chunk_no", "chunk_text", "lang", "quality")
    assert got.filter(F.col("chunk_text") == "").count() == 0


def test_interleaved_input_shape(spark):
    from readur_spark.sources.tables import interleaved_docs

    inter = interleaved_docs(spark, SF, with_html=False)
    chunks, m = curate(
        inter, require_gopher=False, chunk_words=40, overlap_words=8
    )
    assert m["input_docs"] > 0 and m["chunks"] > 0


def test_curate_deterministic(spark, docs):
    a = curate(docs, require_gopher=True, gopher_stopwords=STOPS)[1]
    b = curate(docs, require_gopher=True, gopher_stopwords=STOPS)[1]
    assert a == b


def test_curate_to_parquet_partitioned_by_lang(spark, docs, tmp_path):
    out = str(tmp_path / "chunks")
    m = curate_to_parquet(
        spark, docs, out, require_gopher=False, chunk_words=40, overlap_words=8
    )
    back = spark.read.parquet(out)
    assert back.count() == m["chunks"]
    # partition pruning on lang reaches the scan
    plan = (
        back.filter(F.col("lang") == "en")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "lang" in plan.split("PartitionFilters")[1][:200]


def test_curate_optional_stages(spark):
    """Round-3 funnel extensions: decontamination (eval leak dropped),
    repetition filter (boilerplate doc dropped), split column appended —
    all off by default (the base funnel is unchanged)."""
    from readur_spark.plans.curation import curate

    eval_q = (
        "what is the capital of france and why does it matter to "
        "geography students everywhere in the world today"
    )
    def body(seed):
        # genuinely varied prose: no repeated n-grams, no repeated lines
        return " ".join(f"w{seed}x{j} t{seed + j}" for j in range(40))

    rows = [
        (1, f"leaky doc {eval_q} more text {body(1)}"),
        (2, f"{body(2)} entirely clean content one"),
        (3, f"{body(3)} entirely clean content two"),
        (4, "same line\n" * 30 + body(4)),  # repetition offender
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    heldout = spark.createDataFrame([(100, eval_q)], "doc_id long, text string")
    chunks, metrics = curate(
        docs,
        require_gopher=False,
        require_rep_pass=True,
        heldout_df=heldout,
        split_fractions={"train": 0.8, "val": 0.2},
        near_dup_threshold=0.9,
    )
    assert metrics["input_docs"] == 4
    assert metrics["after_decontamination"] == 3  # doc 1 dropped
    assert metrics["after_quality_filter"] == 2  # doc 4 dropped (rep)
    got = chunks.collect()
    assert got and all(r["split"] in ("train", "val") for r in got)
    assert {r["doc_id"] for r in got} <= {2, 3}


def test_curate_round4_stages(spark):
    """Line dedup, LM filter, and PII scrub compose into the funnel: the
    boilerplate footer vanishes before analysis, the LM drops the
    out-of-domain doc, and chunks carry scrubbed text."""
    from readur_spark.plans.curation import curate

    footer = "subscribe to our newsletter footer boilerplate"
    fluent = (
        "the quick brown fox jumps over the lazy dog and runs onward "
        "through the quiet field toward the distant river bank again"
    )
    rows = [
        (1, f"{fluent} write to alice@example.com today\n{footer}"),
        (2, f"{fluent} and the fox rests near the river\n{footer}"),
        (3, f"{fluent} while the dog watches the field\n{footer}"),
        (4, "zq xv qk jw zz entropy gibberish vx qj zk wq vv kq\n" + footer),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    ref = spark.createDataFrame(
        [(100 + i, fluent) for i in range(5)], "doc_id long, text string"
    )
    chunks, metrics = curate(
        docs,
        require_gopher=False,
        line_dedup_max_df=2,
        lm_ref_df=ref,
        max_perplexity=12.0,
        scrub_pii=True,
        near_dup_threshold=0.95,
        chunk_words=50,
        overlap_words=0,
    )
    assert metrics["boilerplate_lines_removed_docs"] == 4
    assert metrics["after_lm_filter"] < metrics["after_quality_filter"]
    texts = " ".join(r["chunk_text"] for r in chunks.collect())
    assert footer not in texts
    assert "alice@example.com" not in texts and "<EMAIL>" in texts
    assert 4 not in {r["doc_id"] for r in chunks.collect()}


def test_curate_semantic_dedup_stage(spark):
    """SemDeDup stage: two docs whose embeddings share a cosine ε-ball
    collapse to the lower doc_id; dissimilar docs survive."""
    from readur_spark.plans.curation import curate

    texts = {
        1: "alpha document body with plenty of distinct words inside",
        2: "totally different beta content with its own distinct words",
        3: "gamma text also entirely unlike the other two documents",
    }
    docs = spark.createDataFrame(
        [(k, v) for k, v in texts.items()], "doc_id long, text string"
    )
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.999, 0.01, 0.0, 0.0]),  # same direction as doc 1
            (3, [0.0, 1.0, 0.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    chunks, metrics = curate(
        docs,
        require_gopher=False,
        embeddings_df=emb,
        semantic_threshold=0.95,
        semantic_clusters=2,
        near_dup_threshold=0.95,
        chunk_words=50,
        overlap_words=0,
    )
    assert metrics["after_near_dedup"] == 3
    assert metrics["after_semantic_dedup"] == 2
    assert {r["doc_id"] for r in chunks.collect()} == {1, 3}


def test_semantic_stage_only_considers_survivors_and_missing_embeddings_survive(
    spark,
):
    """Review findings: (a) a doc removed upstream must not be elected the
    epsilon-ball exemplar — its surviving paraphrase stays; (b) curated
    docs with no embedding row survive and are counted separately."""
    from readur_spark.plans.curation import curate

    eval_q = (
        "the exact evaluation question that leaks into training data here "
        "with plenty of verbatim overlap to be caught"
    )
    texts = {
        1: f"contaminated paraphrase doc {eval_q}",  # removed by decon
        2: "surviving paraphrase with its own words and enough content",
        3: "unrelated control document with completely different text",
        4: "document that has no embedding row at all but is clean",
    }
    docs = spark.createDataFrame(
        [(k, v) for k, v in texts.items()], "doc_id long, text string"
    )
    heldout = spark.createDataFrame([(99, eval_q)], "doc_id long, text string")
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),   # paraphrase pair with doc 2...
            (2, [0.999, 0.01, 0.0, 0.0]),  # ...but doc 1 dies upstream
            (3, [0.0, 1.0, 0.0, 0.0]),
            # doc 4 intentionally absent
        ],
        "vec_id long, embedding array<double>",
    )
    chunks, metrics = curate(
        docs,
        require_gopher=False,
        heldout_df=heldout,
        embeddings_df=emb,
        semantic_threshold=0.95,
        semantic_clusters=2,
        near_dup_threshold=0.95,
        chunk_words=50,
        overlap_words=0,
    )
    assert metrics["after_decontamination"] == 3  # doc 1 removed
    assert metrics["semantic_no_embedding_docs"] == 1  # doc 4
    # doc 2 SURVIVES: doc 1 (removed upstream) cannot shadow it
    assert {r["doc_id"] for r in chunks.collect()} == {2, 3, 4}


def test_curate_releases_stage_checkpoints(spark):
    """Repeated curate() calls must not accumulate checkpoint storage:
    only the returned frame's blocks may remain per call."""
    from readur_spark.plans.curation import curate

    docs = spark.createDataFrame(
        [(i, f"document {i} with several words of content here") for i in range(20)],
        "doc_id long, text string",
    )
    sc = spark.sparkContext

    def n_persistent():
        # quiesce the async ContextCleaner first: blocks released by
        # EARLIER tests being freed mid-measurement would otherwise skew
        # the deltas (observed flaking when the similarity suite ran
        # before this test in the same session). One gc+sleep is not
        # enough on a long session — a cleanup landing BETWEEN two
        # measurements once produced deltas like 8 -> 2 -> 7 (full-suite
        # flake) — so sample until two consecutive reads agree.
        import time

        prev = None
        for _ in range(10):
            sc._jvm.System.gc()
            time.sleep(0.8)
            cur = sc._jsc.getPersistentRDDs().size()
            if cur == prev:
                return cur
            prev = cur
        return cur

    base = n_persistent()
    curate(docs, require_gopher=False, near_dup_threshold=0.95)
    after1 = n_persistent()
    curate(docs, require_gopher=False, near_dup_threshold=0.95)
    after2 = n_persistent()
    # each call may keep its `curated` checkpoint (+ small operator-internal
    # residue); growth per call must be bounded, not one-per-stage
    assert after2 - after1 <= 3, (base, after1, after2)
    assert after2 - base <= 10, (base, after1, after2)


def test_release_checkpoint_frees_blocks_and_warns_on_foreign_plan(spark, caplog):
    """_release_checkpoint must actually free a checkpointed frame's
    storage, and must WARN (not silently no-op) when handed a frame whose
    analyzed plan is not a LogicalRDD (ADVICE r4 observability)."""
    import logging

    import readur_spark.plans.curation as cur

    sc = spark.sparkContext

    def n_persistent():
        return sc._jsc.getPersistentRDDs().size()

    df = spark.range(100).selectExpr("id", "id * 2 AS v")
    base = n_persistent()
    ck = df.localCheckpoint(eager=True)
    assert n_persistent() == base + 1
    cur._release_checkpoint(ck)
    assert n_persistent() == base

    # a non-checkpointed frame analyzes to Range/Project, not LogicalRDD:
    # the release must decline loudly exactly once
    cur._release_warned = False
    with caplog.at_level(logging.WARNING, logger="readur_spark.plans.curation"):
        cur._release_checkpoint(df)
        cur._release_checkpoint(df)  # second call: warning already issued
    warnings = [r for r in caplog.records if "checkpoint release" in r.message]
    assert len(warnings) == 1
    assert "LogicalRDD" in warnings[0].message
    cur._release_warned = False  # leave global state clean for other tests


def test_funnel_token_mode_chunks_decode_exact(spark, docs):
    """curate(chunk_tokenizer=...) swaps word windows for token-boundary
    windows: every chunk's text must re-encode to exactly its n_tokens
    (the snapped-cut contract), windows respect the chunk_tokens cap on
    this pre-token-dense corpus, and coverage stays gapless per doc."""
    from readur_spark.operators.bpe import train_bpe_distributed

    tok = train_bpe_distributed(docs, num_merges=200)
    chunks, m = curate(
        docs,
        require_gopher=True,
        gopher_stopwords=STOPS,
        chunk_tokenizer=tok,
        chunk_tokens=64,
        overlap_tokens=8,
    )
    rows = chunks.select(
        "doc_id", "chunk_no", "chunk_text", "n_tokens"
    ).collect()
    assert rows and m["chunks"] == len(rows)
    per_doc: dict = {}
    for r in rows:
        per_doc.setdefault(r["doc_id"], []).append(r)
        enc = tok.encode(r["chunk_text"])
        assert len(enc) == r["n_tokens"] <= 64, r["doc_id"]
    for doc_id, rs in per_doc.items():
        ns = sorted(r["chunk_no"] for r in rs)
        assert ns == list(range(len(ns))), doc_id  # contiguous chunk_nos


def test_curate_url_stage(spark):
    """Crawl-frontier stage: blocked domains drop first, canonical-URL
    duplicates collapse keep-first, and only then does the text funnel
    run — metrics expose the frontier delta."""
    base = "The quick brown fox jumps over the lazy dog near the river bank. " * 8
    rows = [
        # two urls that canonicalize identically (tracking param + port)
        (1, "https://keep.com:443/p?utm_source=a", base + "one"),
        (2, "https://KEEP.com/p", base + "one dup"),
        # a blocked domain
        (3, "https://spam.bad/x", base + "two"),
        # distinct survivor (different text, or near-dup would collapse
        # it with doc 1 downstream)
        (4, "https://keep.com/q",
         "Completely different second document content about sailing "
         "ships and maritime navigation across the winter ocean. " * 8),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, url string, text string")
    chunks, m = curate(
        docs,
        require_gopher=False,
        chunk_words=40,
        overlap_words=8,
        url_col="url",
        domain_blocklist=["SPAM.bad"],
    )
    # 4 docs -> blocklist drops doc 3 -> canonical dedup collapses 1&2
    # (keep-first: doc 1) -> 2 enter the text funnel
    assert m["after_url_stage"] == 2
    assert m["input_docs"] == 2
    ids = {r["doc_id"] for r in chunks.select("doc_id").distinct().collect()}
    assert ids == {1, 4}


def test_curate_rank_table_stage_matches_manual_prefilter(spark):
    """rank_table composition (r7 verdict next-round #3): the funnel
    with the rank stage ON equals manually pre-filtering the corpus to
    above-threshold domains and running the funnel without it — for
    BOTH keep-rules. Metrics expose the rank delta."""
    base = "The quick brown fox jumps over the lazy dog near the river bank. " * 8
    rows = [
        (1, "https://good.com/a", base + "one"),
        (2, "https://good.com/b",
         "Completely different second document content about sailing "
         "ships and maritime navigation across the winter ocean. " * 8),
        (3, "https://mid.com/c",
         "A third page on gardening with tomatoes and long rows of "
         "beans under the late summer sun in the valley field. " * 8),
        (4, "https://farm.spam/d",
         "A fourth page describing mountain trails and the slow climb "
         "toward the granite summit before the autumn snows arrive. " * 8),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, url string, text string")
    # pagerank-shaped (node, rank) table: good above uniform (1/3),
    # mid at uniform, farm.spam below
    rank = spark.createDataFrame(
        [("good.com", 0.55), ("mid.com", 1 / 3), ("farm.spam", 0.1167)],
        "node string, rank double",
    )
    kw = dict(require_gopher=False, chunk_words=40, overlap_words=8)

    chunks, m = curate(
        docs, url_col="url", rank_table=rank, min_rank_ratio=1.0, **kw
    )
    ids = {r["doc_id"] for r in chunks.select("doc_id").distinct().collect()}
    assert ids == {1, 2, 3}  # mid.com sits exactly AT uniform: kept (>=)
    assert m["after_url_stage"] == 4
    assert m["after_rank_stage"] == 3

    # composition: manual pre-filter to the same domains == stage on
    manual, _ = curate(
        docs.filter(~F.col("url").contains("farm.spam")),
        url_col="url",
        **kw,
    )
    assert sorted(
        tuple(r) for r in chunks.select("doc_id", "chunk_text").collect()
    ) == sorted(
        tuple(r) for r in manual.select("doc_id", "chunk_text").collect()
    )

    # quantile rule: keep top half (q=0.5 over ranks .55/.333/.1167
    # -> threshold .333, farm.spam drops)
    chunks_q, mq = curate(
        docs, url_col="url", rank_table=rank, rank_keep_quantile=0.5, **kw
    )
    ids_q = {
        r["doc_id"] for r in chunks_q.select("doc_id").distinct().collect()
    }
    assert ids_q == {1, 2, 3}
    assert mq["after_rank_stage"] == 3

    # harmonic-shaped table (different score column name)
    chunks_h, _ = curate(
        docs,
        url_col="url",
        rank_table=spark.createDataFrame(
            [("good.com", 12.0), ("mid.com", 4.0), ("farm.spam", 9.0)],
            "node string, harmonic double",
        ),
        rank_col="harmonic",
        rank_keep_quantile=0.5,
        **kw,
    )
    ids_h = {
        r["doc_id"] for r in chunks_h.select("doc_id").distinct().collect()
    }
    assert ids_h == {1, 2, 4}  # top-2 scores: good.com 12, farm.spam 9

    # validation

    with pytest.raises(ValueError, match="url_col"):
        curate(docs, rank_table=rank, min_rank_ratio=1.0, **kw)
    with pytest.raises(ValueError, match="exactly one"):
        curate(docs, url_col="url", rank_table=rank, **kw)
    with pytest.raises(ValueError, match="exactly one"):
        curate(
            docs,
            url_col="url",
            rank_table=rank,
            min_rank_ratio=1.0,
            rank_keep_quantile=0.5,
            **kw,
        )
    # malformed rank tables must raise LOUDLY, not silently empty the
    # corpus (r8 review finding: an empty table / NULL percentile made
    # the semi-join keep nothing)
    with pytest.raises(ValueError, match="empty"):
        curate(
            docs,
            url_col="url",
            rank_table=rank.filter(F.lit(False)),
            min_rank_ratio=1.0,
            **kw,
        )
    junk = spark.createDataFrame(
        [("good.com", "0.5"), ("mid.com", "not-a-number")],
        "node string, rank string",
    )
    with pytest.raises(ValueError, match="non-numeric"):
        curate(
            docs, url_col="url", rank_table=junk,
            rank_keep_quantile=0.5, **kw,
        )
    nullr = spark.createDataFrame(
        [("good.com", 0.5), ("mid.com", None)],
        "node string, rank double",
    )
    with pytest.raises(ValueError, match="NULL"):
        curate(
            docs, url_col="url", rank_table=nullr,
            min_rank_ratio=1.0, **kw,
        )


def test_curate_rank_table_duplicate_nodes_keep_documented_threshold(spark):
    """r8 advisor finding: the min_rank_ratio threshold divides by the
    number of DISTINCT domains, so a rank table with duplicate (or
    case-aliased) node rows must behave exactly like its deduplicated
    form instead of silently lowering the keep threshold."""
    base = "The quick brown fox jumps over the lazy dog near the river bank. " * 8
    rows = [
        (1, "https://good.com/a", base + "one"),
        (2, "https://mid.com/c",
         "A third page on gardening with tomatoes and long rows of "
         "beans under the late summer sun in the valley field. " * 8),
        (3, "https://farm.spam/d",
         "A fourth page describing mountain trails and the slow climb "
         "toward the granite summit before the autumn snows arrive. " * 8),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, url string, text string")
    clean = spark.createDataFrame(
        [("good.com", 0.55), ("mid.com", 1 / 3), ("farm.spam", 0.1167)],
        "node string, rank double",
    )
    # the same table with duplicated/case-aliased rows: raw count 6,
    # distinct domains still 3 — the threshold must not halve
    dup = spark.createDataFrame(
        [
            ("good.com", 0.55), ("GOOD.com", 0.55),
            ("mid.com", 1 / 3), ("MID.COM", 1 / 3),
            ("farm.spam", 0.1167), ("farm.SPAM", 0.1167),
        ],
        "node string, rank double",
    )
    kw = dict(require_gopher=False, chunk_words=40, overlap_words=8)
    want, _ = curate(
        docs, url_col="url", rank_table=clean, min_rank_ratio=1.0, **kw
    )
    got, _ = curate(
        docs, url_col="url", rank_table=dup, min_rank_ratio=1.0, **kw
    )
    want_ids = {r["doc_id"] for r in want.select("doc_id").distinct().collect()}
    got_ids = {r["doc_id"] for r in got.select("doc_id").distinct().collect()}
    assert want_ids == got_ids == {1, 2}
