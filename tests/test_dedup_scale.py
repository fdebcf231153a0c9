"""Scale-path equivalence for the dedup family: the web-scale physical
strategies must produce the same answers as the exact small-corpus forms
on corpora where both run."""

import pytest
from pyspark.sql import functions as F

from readur_spark.operators import dedup

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_embedding_bucketed_equals_broadcast(spark, emb, monkeypatch):
    """The LSH-banded block-matmul path (never collects to the driver) must
    reproduce the exact broadcast path. planes=2 × tables=16 gives per-pair
    miss probability (1-p²)^16 ≈ 3e-4 even at cosine 0.4 (p≈0.63), and the
    seeds are fixed, so this equality is deterministic."""
    exact = {
        (r.id_a, r.id_b, r.cosine)
        for r in dedup.embedding_dup_pairs(emb, threshold=0.4).collect()
    }
    monkeypatch.setattr(dedup, "EMBEDDING_BROADCAST_MAX_ROWS", 0)
    monkeypatch.setattr(dedup, "EMBEDDING_LSH_PLANES", 2)
    bucketed = {
        (r.id_a, r.id_b, r.cosine)
        for r in dedup.embedding_dup_pairs(emb, threshold=0.4).collect()
    }
    assert exact, "testdata should contain planted near-dup embedding pairs"
    assert bucketed == exact


def test_embedding_bucketed_never_collects(spark, emb, monkeypatch):
    """The scale path's plan must contain no driver-side collect artifacts:
    it is bucketed shuffle + FlatMapGroupsInPandas."""
    monkeypatch.setattr(dedup, "EMBEDDING_BROADCAST_MAX_ROWS", 0)
    df = dedup.embedding_dup_pairs(emb, threshold=0.4)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan, plan
    assert "Exchange SinglePartition" not in plan, plan


def test_ngram_df_cap_noop_on_small_corpus(spark, docs):
    """The capped scale path (opt-in) equals the uncapped exact default
    whenever no shingle exceeds the cap — i.e. always on test corpora."""
    capped = {
        (r.id_a, r.id_b, r.jaccard)
        for r in dedup.ngram_jaccard_pairs(
            docs, threshold=0.5, n=3, max_shingle_df=1000
        ).collect()
    }
    uncapped = {
        (r.id_a, r.id_b, r.jaccard)
        for r in dedup.ngram_jaccard_pairs(
            docs, threshold=0.5, n=3, max_shingle_df=None
        ).collect()
    }
    assert capped == uncapped


def test_ngram_df_cap_drops_stopword_shingles(spark):
    """When a shingle exceeds the cap it is excluded from the index: docs
    related ONLY through that shingle produce no pair."""
    rows = [(str(i), "common filler words here plus unique%d token" % i) for i in range(8)]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    pairs = dedup.ngram_jaccard_pairs(
        docs, threshold=0.01, n=3, max_shingle_df=4
    ).collect()
    # every 3-gram built purely from the shared prefix occurs in all 8 docs
    # (> cap) and is dropped; the unique-suffix 3-grams occur once each, so
    # no two docs share an indexed shingle. Each doc keeps its unique
    # shingles, so the mass-duplicate path does not fire either.
    assert pairs == []


def test_ngram_df_cap_mass_duplicate_family_recovered(spark):
    """A family of > cap IDENTICAL docs loses every shingle to the df cap —
    round-2 advice: the old code then reported zero pairs for the prime
    dedup target (boilerplate clusters). The mass-duplicate path must pair
    them all at jaccard 1.0."""
    fam = [(f"b{i:02d}", "exact same boilerplate spam body text") for i in range(6)]
    other = [("u1", "completely unrelated content one"), ("u2", "different text two")]
    docs = spark.createDataFrame(fam + other, "doc_id string, text string")
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(
            docs, threshold=0.5, n=3, max_shingle_df=4
        ).collect()
    }
    fam_ids = sorted(d for d, _ in fam)
    expected = {
        (a, b) for i, a in enumerate(fam_ids) for b in fam_ids[i + 1 :]
    }
    assert set(pairs) == expected  # all 15 family pairs, nothing else
    assert all(j == 1.0 for j in pairs.values())


def test_ngram_df_cap_never_inflates_jaccard(spark):
    """With the cap set, set sizes come from the UN-pruned shingle table:
    the reported jaccard for surviving pairs can only under-count, never
    exceed the exact value (no false positives from pruning)."""
    rows = [
        ("a", "alpha beta gamma delta epsilon zeta eta theta"),
        ("b", "alpha beta gamma delta epsilon zeta iota kappa"),
        ("c", "alpha beta gamma other words entirely here now"),
        ("d", "alpha beta gamma more unrelated filler tokens here"),
        ("e", "alpha beta gamma yet another unrelated doc body"),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.0001, n=1).collect()
    }
    capped = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(
            docs, threshold=0.0001, n=1, max_shingle_df=3
        ).collect()
    }
    assert capped  # alpha/beta/gamma (df=5) dropped, but a–b still share 3 kept shingles
    for pair, j in capped.items():
        assert pair in exact and j <= exact[pair] + 1e-9


def test_minhash_recall_equals_exact_on_planted_pairs(spark, docs):
    """Recall survives every minhash refactor (base-hash seeding, window
    shingles, candidate-only verification): LSH output at threshold 0.5
    equals the exact Jaccard pairs (planted pairs separate cleanly at 0.5,
    and 8 bands × 4 rows gives ~1.0 recall there)."""
    exact = {
        (r.id_a, r.id_b, r.jaccard)
        for r in dedup.ngram_jaccard_pairs(
            docs, threshold=0.5, n=3, max_shingle_df=None
        ).collect()
    }
    lsh = {
        (r.id_a, r.id_b, r.jaccard)
        for r in dedup.minhash_lsh_pairs(
            docs, threshold=0.5, num_hashes=32, bands=8, n=3
        ).collect()
    }
    assert lsh == exact


def test_connected_components_transitive_chain(spark):
    """A~B, B~C, C~D but A!~D: components must merge the whole chain (the
    pairwise keep-first policy would leave B,C,D partially deduped)."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        "id_a long, id_b long",
    )
    comp = {
        r["id"]: r["component"]
        for r in dedup.connected_components(pairs).collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_dedup_cluster_keeps_min_per_component(spark):
    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in (1, 2, 3, 4, 5, 10, 11)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "id_a long, id_b long")
    kept = {r["doc_id"] for r in dedup.dedup_cluster_keep_first(docs, pairs).collect()}
    assert kept == {1, 4, 5, 10}


def test_winnowing_guarantee_and_distributed(spark):
    """Winnowing guarantee: any shared substring of length >= k+window-1
    yields >= 1 shared fingerprint; the distributed operator matches the
    sequential kernel."""
    shared = "a long common sentence that both documents contain verbatim"
    rows = [
        (1, f"prefix one {shared} suffix alpha"),
        (2, f"different beginning {shared} other ending"),
        (3, "completely unrelated text with no overlap at all whatsoever"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = dedup.winnow_overlap_pairs(docs, min_shared=1, k=10, window=4).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in got
    assert all(3 not in p for p in got)


def test_winnow_fingerprints_density_and_determinism(spark):
    from readur_spark.operators.dedup import _winnow_py

    text = "word " * 200
    fps = _winnow_py(text, 8, 4)
    # density ~ 2/(w+1): selections must be far sparser than positions
    assert 0 < len(fps) < len(" ".join(text.split())) / 2
    assert fps == _winnow_py(text, 8, 4)
    # distributed == sequential
    docs = spark.createDataFrame([(7, text)], "doc_id long, text string")
    dist = {
        (r["fp"], r["pos"])
        for r in dedup.winnow_fingerprints(docs, k=8, window=4).collect()
    }
    assert dist == set(fps)


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """checkpoint_dir switches plan truncation to reliable df.checkpoint():
    same components, and the checkpoint dir actually receives RDD data
    (survives executor loss on a real cluster, unlike localCheckpoint)."""
    import os

    ckdir = str(tmp_path / "cc_ck")
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "id_a string, id_b string"
    )
    comp = {
        r["id"]: r["component"]
        for r in dedup.connected_components(pairs, checkpoint_dir=ckdir).collect()
    }
    assert comp == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}
    written = [
        os.path.join(dp, f) for dp, _, fs in os.walk(ckdir) for f in fs
    ]
    assert written  # reliable checkpoint data landed on disk


def test_duplicate_spans_finds_maximal_shared_run(spark):
    """Lee-et-al-style exact-substring dedup: a long verbatim run shared by
    two docs is found as ONE maximal span with exact normalized-coordinate
    offsets; unrelated docs produce nothing."""
    shared = (
        "a long common sentence that both documents contain verbatim "
        "and then some more shared tail content"
    )
    ta = f"Unique Prefix One {shared} suffix alpha"
    tb = f"different beginning two {shared} other ending"
    docs = spark.createDataFrame(
        [("1", ta), ("2", tb), ("3", "completely unrelated text here with nothing at all shared")],
        "doc_id string, text string",
    )
    got = [tuple(r) for r in dedup.duplicate_spans(docs, min_len=50, k=25, window=16).collect()]
    assert len(got) == 1
    (id_a, id_b, sa, sb, ln, truncated) = got[0]
    assert truncated is False
    assert (id_a, id_b) == ("1", "2")
    na = dedup._norm_for_spans(ta)
    nb = dedup._norm_for_spans(tb)
    # the span is a genuinely equal run, maximal (one char of context
    # beyond the planted string is the shared leading space)
    assert na[sa : sa + ln] == nb[sb : sb + ln]
    assert shared in na[sa : sa + ln]
    assert ln >= len(shared)


def test_duplicate_spans_matches_sequential_replica(spark):
    """Distributed == sequential on the planted near-dup corpus."""
    import sys

    sys.path.insert(0, "/root/repo")
    from tools.expected import duplicate_spans_expected

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    got = sorted(
        tuple(r)
        for r in dedup.duplicate_spans(docs, min_len=50, k=25, window=16)
        .select("id_a", "id_b", "start_a", "start_b", "length")
        .collect()
    )
    exp = duplicate_spans_expected(SF, min_len=50, k=25, window=16)
    assert got == [tuple(e) for e in exp]
    assert got  # planted near-dups must yield spans


def _long_varied_text(n_words: int, tag: str) -> str:
    """Deterministic non-repetitive text long enough to winnow >500
    shared fingerprints (k=25, window=16 selects ~2/(w+1) of positions)."""
    import hashlib

    return " ".join(
        hashlib.md5(f"{tag}-{i}".encode()).hexdigest()[:8]
        for i in range(n_words)
    )


def test_duplicate_spans_flags_seed_truncation(spark, monkeypatch):
    """No-silent-caps: a pair with more seeds than MAX_SEEDS must say so.
    Two docs sharing a ~9000-char verbatim run produce far more than 500
    winnowed seed matches; every emitted span row carries
    seeds_truncated=true and the shared run is still found (the dropped
    seeds sit on the same diagonal as kept ones here)."""
    shared = _long_varied_text(1000, "shared")
    docs = spark.createDataFrame(
        [("1", f"prefix one {shared} tail a"), ("2", f"other start {shared} end b")],
        "doc_id string, text string",
    )
    rows = dedup.duplicate_spans(docs, min_len=50, k=25, window=16).collect()
    assert rows and all(r["seeds_truncated"] for r in rows)
    assert max(r["length"] for r in rows) >= len(shared)
    # raising the cap clears the flag on the same input
    monkeypatch.setattr(dedup, "MAX_SEEDS", 10_000)
    rows2 = dedup.duplicate_spans(docs, min_len=50, k=25, window=16).collect()
    assert rows2 and not any(r["seeds_truncated"] for r in rows2)


def test_duplicate_spans_truncated_pair_emits_marker_row(spark):
    """A truncated pair whose processed seeds confirm no span >= min_len
    must still emit one marker row (length=0, seeds_truncated=true) —
    the cap can never silently erase a pair from the output."""
    shared = _long_varied_text(1000, "marker")
    docs = spark.createDataFrame(
        [("1", f"aa {shared}"), ("2", f"bb {shared}")],
        "doc_id string, text string",
    )
    rows = dedup.duplicate_spans(
        docs, min_len=10**6, k=25, window=16
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["start_a"], r["start_b"], r["length"]) == (-1, -1, 0)
    assert r["seeds_truncated"] is True


def test_decontaminate_flags_and_filters(spark):
    """GPT-3-style benchmark decontamination: training docs leaking an
    eval question are flagged with merged-interval char counts; the filter
    keeps only clean docs; the broadcast side is the eval set."""
    eval_q = (
        "what is the capital of france and why does it matter to "
        "geography students everywhere"
    )
    corpus = spark.createDataFrame(
        [
            ("t1", f"training doc that leaks the question {eval_q} plus more"),
            ("t2", "a clean training document with entirely original content here"),
            ("t3", f"another leak {eval_q} and {eval_q} twice even"),
        ],
        "doc_id string, text string",
    )
    heldout = spark.createDataFrame([("e1", eval_q)], "doc_id string, text string")
    flags = {
        r["doc_id"]: (r["n_eval_docs"], r["n_spans"], r["contaminated_chars"])
        for r in dedup.decontaminate(corpus, heldout, min_len=50).collect()
    }
    assert set(flags) == {"t1", "t3"}
    assert flags["t1"][0] == 1 and flags["t1"][1] == 1
    assert flags["t1"][2] >= len(eval_q)
    assert flags["t3"][1] == 2  # two distinct leaked spans
    assert flags["t3"][2] >= 2 * len(eval_q)
    clean = dedup.decontaminate_filter(corpus, heldout, min_len=50).collect()
    assert sorted(r["doc_id"] for r in clean) == ["t2"]


def test_decontaminate_merged_intervals_no_double_count(spark):
    """Two eval docs hitting the SAME corpus span must not double-count
    contaminated characters (union coverage, not sum)."""
    run = "this exact duplicated passage appears verbatim in both eval documents today"
    corpus = spark.createDataFrame(
        [("t1", f"prefix text {run} suffix text")], "doc_id string, text string"
    )
    heldout = spark.createDataFrame(
        [("e1", f"alpha {run}"), ("e2", f"{run} omega")], "doc_id string, text string"
    )
    (row,) = dedup.decontaminate(corpus, heldout, min_len=50).collect()
    assert row["n_eval_docs"] == 2
    # coverage is bounded by the single underlying span (+boundary chars),
    # far below the 2x a naive sum would report
    assert row["contaminated_chars"] <= len(run) + 2


def test_decontaminate_mixed_id_types(spark):
    """A long corpus id against a string held-out id: the output keeps the
    corpus id type, and the flags equal a run whose ids share one type."""
    from pyspark.sql.types import LongType

    eval_q = (
        "what is the capital of france and why does it matter to "
        "geography students everywhere"
    )
    corpus = spark.createDataFrame(
        [
            (1, f"training doc that leaks the question {eval_q} plus more"),
            (2, "a clean training document with entirely original content here"),
            (3, f"another leak {eval_q} and {eval_q} twice even"),
        ],
        "doc_id long, text string",
    )
    mixed = dedup.decontaminate(
        corpus,
        spark.createDataFrame([("e1", eval_q)], "doc_id string, text string"),
        min_len=50,
    )
    same = dedup.decontaminate(
        corpus,
        spark.createDataFrame([(101, eval_q)], "doc_id long, text string"),
        min_len=50,
    )
    assert mixed.schema["doc_id"].dataType == LongType()
    got = sorted(tuple(r) for r in mixed.collect())
    assert [r[0] for r in got] == [1, 3]
    assert got == sorted(tuple(r) for r in same.collect())


def test_dedup_lines_removes_boilerplate_preserves_order(spark):
    """C4/RefinedWeb line dedup: a footer shared by >max_line_df docs
    vanishes from every doc; unique lines keep their original order;
    short lines are exempt even when repeated; a fully-boilerplate doc
    comes back empty but present."""
    footer = "cookie consent banner text repeated on every page"
    docs = spark.createDataFrame(
        [
            ("1", f"alpha unique line one\n{footer}\nbeta unique line two\nok"),
            ("2", f"{footer}\ngamma unique line three\nok"),
            ("3", f"delta unique line four\n{footer}\nok"),
            ("4", footer),
        ],
        "doc_id string, text string",
    )
    out = {r["doc_id"]: r for r in dedup.dedup_lines(docs, max_line_df=2).collect()}
    assert out["1"]["text"] == "alpha unique line one\nbeta unique line two\nok"
    assert out["2"]["text"] == "gamma unique line three\nok"
    assert out["3"]["text"] == "delta unique line four\nok"
    assert out["4"]["text"] == "" and out["4"]["n_lines_removed"] == 1
    # "ok" (short line, repeated in 3 docs) is exempt from the df rule
    assert all(out[d]["n_lines_removed"] == 1 for d in ("1", "2", "3"))


def test_dedup_lines_threshold_boundary(spark):
    """A line in exactly max_line_df docs survives; one more doc kills it."""
    line = "borderline boilerplate line here"
    mk = lambda n: [(str(i), f"{line}\nunique {i} padding line") for i in range(n)]
    at = spark.createDataFrame(mk(2), "doc_id string, text string")
    over = spark.createDataFrame(mk(3), "doc_id string, text string")
    kept_at = dedup.dedup_lines(at, max_line_df=2).collect()
    assert all(line in r["text"] for r in kept_at)
    kept_over = dedup.dedup_lines(over, max_line_df=2).collect()
    assert all(line not in r["text"] for r in kept_over)


def test_decontaminate_ngrams_flags_exact_13gram_leaks(spark):
    """GPT-3-style 13-gram decontamination: a training doc embedding a
    verbatim 13-word eval run is flagged with the right collision count;
    12-word overlaps stay clean; the eval side broadcasts."""
    eval_q = "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu nu"
    assert len(eval_q.split()) == 13
    corpus = spark.createDataFrame(
        [
            ("t1", f"leading words then {eval_q} trailing words here"),
            ("t2", " ".join(eval_q.split()[:12]) + " different ending now"),
            ("t3", "entirely unrelated content with its own words"),
        ],
        "doc_id string, text string",
    )
    heldout = spark.createDataFrame([("e1", eval_q)], "doc_id string, text string")
    df = dedup.decontaminate_ngrams(corpus, heldout, n=13)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    rows = {r["doc_id"]: r for r in df.collect()}
    assert set(rows) == {"t1"}
    assert rows["t1"]["n_collisions"] == 1
    # self-decontamination: identity pairs excluded, shared gram still hits
    both = corpus.unionByName(heldout)
    self_rows = {
        r["doc_id"]
        for r in dedup.decontaminate_ngrams(
            both, both, n=13, exclude_same_id=True
        ).collect()
    }
    assert self_rows == {"t1", "e1"}  # t1<->e1 collide; identity rows don't


def test_dedup_against_history_skips_committed_content(spark):
    """Ingest-time dedup (the reference's per-upload hash check,
    document_ingestion.rs:341-347): batch rows whose normalized content
    already exists in history are skipped; within-batch duplicates
    keep-first; normalization means whitespace variants match."""
    history_docs = spark.createDataFrame(
        [("h1", "already committed content")], "doc_id string, text string"
    )
    from readur_spark.functions.textstats import fingerprint_col

    history = history_docs.select(
        fingerprint_col(F.col("text")).alias("fingerprint")
    )
    batch = spark.createDataFrame(
        [
            ("n1", "brand new content one"),
            ("n2", "  already   committed content "),  # ws-variant of history
            ("n3", "brand new content one"),  # in-batch dup of n1
            ("n4", "another fresh document"),
        ],
        "doc_id string, text string",
    )
    kept = {
        r["doc_id"]
        for r in dedup.dedup_against_history(batch, history).collect()
    }
    assert kept == {"n1", "n4"}


def test_minhash_incremental_matches_cross_set_exact(spark, docs):
    """Batch-vs-history LSH equals the exact cross-set Jaccard pairs (no
    new-new or history-history pairs may appear), and passing the
    persisted history signature table gives identical results without
    touching history_docs text."""
    new = docs.filter(F.col("doc_id") % 3 != 0)
    hist = docs.filter(F.col("doc_id") % 3 == 0)
    got = {
        (r.id_a, r.id_b, r.jaccard)
        for r in dedup.minhash_lsh_incremental(
            new, hist, threshold=0.5, num_hashes=32, bands=8, n=3
        ).collect()
    }
    exact_all = {
        (r.id_a, r.id_b, r.jaccard)
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5, n=3).collect()
    }
    cross = {
        (a, b, j) if a % 3 != 0 else (b, a, j)
        for a, b, j in exact_all
        if (a % 3 == 0) != (b % 3 == 0)
    }
    assert got == cross
    assert all(a % 3 != 0 and b % 3 == 0 for a, b, _ in got)


def test_decontaminate_filter_keeps_marker_only_docs(spark):
    """Review finding: a truncated pair with NO confirmed span (marker row,
    n_spans=0) must not get the document deleted — dropping on suspicion
    would let the seed cap silently erase clean docs."""
    shared = _long_varied_text(1000, "filtermark")
    corpus = spark.createDataFrame(
        [("c1", f"aa {shared}"), ("c2", "totally unrelated clean text")],
        "doc_id string, text string",
    )
    heldout = spark.createDataFrame(
        [("e1", f"bb {shared}")], "doc_id string, text string"
    )
    flagged = dedup.decontaminate(corpus, heldout, min_len=10**6).collect()
    assert [(r["doc_id"], r["n_spans"], r["seeds_truncated"]) for r in flagged] == [
        ("c1", 0, True)
    ]
    kept = {
        r["doc_id"]
        for r in dedup.decontaminate_filter(corpus, heldout, min_len=10**6).collect()
    }
    assert kept == {"c1", "c2"}  # marker-only c1 survives
    # with a confirmable span, c1 IS dropped
    kept2 = {
        r["doc_id"]
        for r in dedup.decontaminate_filter(corpus, heldout, min_len=50).collect()
    }
    assert kept2 == {"c2"}


def test_minhash_incremental_overlapping_ids_verify_each_side(spark):
    """A document edited and re-ingested under the id it has in history:
    the batch and history sides must stay separate through verification.
    No identity pair is emitted, and every cross pair scores the exact
    Jaccard of its own two texts (a verifier that merged both sides into
    one shingle table would score id 1 as the union of both versions)."""
    base = _long_varied_text(60, "reingest").split()

    def edit(tag: str, positions) -> str:
        words = list(base)
        for p in positions:
            words[p] = f"{tag}{p}"
        return " ".join(words)

    hist_texts = {
        1: " ".join(base),
        2: edit("h", [10, 40]),
        4: _long_varied_text(60, "unrelated"),
    }
    new_texts = {1: edit("n", [20, 50]), 3: edit("m", [30])}
    hist = spark.createDataFrame(list(hist_texts.items()), "doc_id long, text string")
    new = spark.createDataFrame(list(new_texts.items()), "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.minhash_lsh_incremental(
            new, hist, threshold=0.5, num_hashes=32, bands=8, n=1
        ).collect()
    }
    assert all(a != b for a, b in got)
    # the exact score of each (new, history) text pair, ids kept apart
    both = spark.createDataFrame(
        [(i + 100, t) for i, t in new_texts.items()] + list(hist_texts.items()),
        "doc_id long, text string",
    )
    exact = {
        (r.id_b - 100, r.id_a): r.jaccard
        for r in dedup.ngram_jaccard_pairs(both, threshold=0.5, n=1).collect()
        if r.id_b >= 100 > r.id_a
    }
    assert got == {(a, b): j for (a, b), j in exact.items() if a != b}
    assert set(got) == {(1, 2), (3, 1), (3, 2)}


def test_dedup_lines_paragraph_mode(spark):
    """separator='\\n\\n' dedups at PARAGRAPH granularity (RefinedWeb):
    a repeated multi-line paragraph vanishes as a unit while its
    constituent lines elsewhere survive, and reassembly preserves the
    paragraph separator."""
    para = "repeated disclaimer paragraph\nspanning two lines"
    docs = spark.createDataFrame(
        [
            ("1", f"unique intro paragraph one\n\n{para}\n\nunique tail one"),
            ("2", f"{para}\n\nunique body paragraph two"),
            ("3", f"unique text three\n\n{para}"),
            # same SENTENCE as a standalone line inside a different
            # paragraph — must survive (the unit is the paragraph)
            ("4", "repeated disclaimer paragraph\nbut different second line"),
        ],
        "doc_id string, text string",
    )
    out = {
        r["doc_id"]: r
        for r in dedup.dedup_lines(
            docs, max_line_df=2, separator="\n\n"
        ).collect()
    }
    assert out["1"]["text"] == "unique intro paragraph one\n\nunique tail one"
    assert out["2"]["text"] == "unique body paragraph two"
    assert out["3"]["text"] == "unique text three"
    assert out["4"]["text"].startswith("repeated disclaimer paragraph\n")
    assert all(out[d]["n_lines_removed"] == 1 for d in ("1", "2", "3"))
    assert out["4"]["n_lines_removed"] == 0
