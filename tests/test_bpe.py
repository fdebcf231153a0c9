"""Byte-level BPE: golden merges, reference equivalences, Spark parity.

The kernel's contracts are pinned three ways:
* hand-computed golden merges on tiny corpora;
* the fast incremental trainer vs a NAIVE full-recount trainer written
  here (independent formulation of the same spec);
* the greedy lowest-rank encoder vs the apply-in-rank-order encoder
  (the classical equivalence) — also written here, independently.
"""

from collections import Counter

import pytest

from readur_spark.kernels.bpe import (
    BpeTokenizer,
    pretokenize,
    train_bpe,
    train_bpe_from_texts,
    word_counts,
)


# ---------------------------------------------------------------- naive refs
def naive_train(word_freqs: dict[bytes, int], num_merges: int):
    """Full recount every iteration — O(merges x corpus), obviously correct."""
    words = {w: (tuple(w), c) for w, c in word_freqs.items() if len(w) >= 2}
    merges = []
    for step in range(num_merges):
        counts = Counter()
        for ids, c in words.values():
            for p in zip(ids, ids[1:]):
                counts[p] += c
        if not counts:
            break
        best_count = max(counts.values())
        if best_count < 2:
            break
        best = min(p for p, c in counts.items() if c == best_count)
        merges.append(best)
        new_id = 256 + step
        out = {}
        for w, (ids, c) in words.items():
            lst, i = [], 0
            while i < len(ids):
                if i + 1 < len(ids) and (ids[i], ids[i + 1]) == best:
                    lst.append(new_id)
                    i += 2
                else:
                    lst.append(ids[i])
                    i += 1
            out[w] = (tuple(lst), c)
        words = out
    return merges


def rank_order_encode(text: str, merges) -> list[int]:
    """Apply rules strictly in learned order — the other classical
    encoder formulation; must equal the greedy lowest-rank loop."""
    out = []
    for w in pretokenize(text):
        ids = list(w)
        for rank, (a, b) in enumerate(merges):
            new_id = 256 + rank
            lst, i = [], 0
            while i < len(ids):
                if i + 1 < len(ids) and ids[i] == a and ids[i + 1] == b:
                    lst.append(new_id)
                    i += 2
                else:
                    lst.append(ids[i])
                    i += 1
            ids = lst
        out.extend(ids)
    return out


# ------------------------------------------------------------------- kernel
def test_pretokenize_gpt2_shapes():
    assert pretokenize("Hello world") == [b"Hello", b" world"]
    assert pretokenize("it's 42!") == [b"it", b"'s", b" 42", b"!"]
    assert pretokenize("a  b") == [b"a", b" ", b" b"]
    assert pretokenize("tab\tend\n") == [b"tab", b"\t", b"end", b"\n"]
    assert pretokenize("") == []
    # unicode: non-ASCII letters fall to the punctuation-run branch as
    # UTF-8 bytes — lossless, merges can still learn them
    assert b"".join(pretokenize("café x")) == "café x".encode()


def test_golden_merges_tiny_corpus():
    # corpus: 'aaab' x3, 'ab' x2  (as raw words)
    wf = {b"aaab": 3, b"ab": 2}
    merges = train_bpe(wf, 3)
    # pair counts: (a,a): 2 per 'aaab' x3 = 6; (a,b): 1x3 + 1x2 = 5
    assert merges[0] == (97, 97)  # 'aa'
    # after merge0: 'aaab' -> (256, 97, 98); pairs (256,97):3 (97,98):5
    assert merges[1] == (97, 98)  # 'ab'
    # after merge1: (256, 257) x3 and (257,) x2 -> best (256, 257): 3
    assert merges[2] == (256, 257)


def test_incremental_trainer_equals_naive_recount():
    texts = [
        "the cat sat on the mat",
        "the bat and the cat chat",
        "concatenate the catalogue",
        "statistics about cats and hats",
        "999 cats, 42 hats -- really?!",
    ] * 3
    wf = word_counts(texts)
    fast = train_bpe(wf, 40)
    slow = naive_train(dict(wf), 40)
    assert fast == slow


def test_trainer_early_stop_when_nothing_repeats():
    merges = train_bpe({b"ab": 1, b"cd": 1}, 10)
    assert merges == []  # every pair occurs once


def test_greedy_encoder_equals_rank_order_encoder():
    texts = [
        "she sells sea shells by the sea shore",
        "the shells she sells are sea shells",
        "I'm sure she'll sell seashore shells (99% sure!)",
    ]
    tok = train_bpe_from_texts(texts, 60)
    for t in texts + ["unseen shoreline sells", ""]:
        assert tok.encode(t) == rank_order_encode(t, tok.merges), t


def test_encode_decode_roundtrip_lossless():
    tok = train_bpe_from_texts(["hello world, how are you?"] * 4, 30)
    for t in [
        "hello world",
        "how are you today? fine!",
        "café — naïve 中文",
        "",
    ]:
        assert tok.decode(tok.encode(t)) == t


def test_count_matches_encode_len_and_compresses():
    texts = ["the quick brown fox jumps over the lazy dog"] * 5
    tok = train_bpe_from_texts(texts, 50)
    t = texts[0]
    ids = tok.encode(t)
    assert tok.count(t) == len(ids)
    assert len(ids) < len(t.encode())  # merges actually compress
    assert max(ids) >= 256  # learned tokens in use


def test_serialization_roundtrip():
    tok = train_bpe_from_texts(["serialize me twice, carefully"] * 3, 20)
    back = BpeTokenizer.from_lines(tok.to_lines())
    assert back.merges == tok.merges
    assert back.encode("serialize me") == tok.encode("serialize me")


def test_merges_never_cross_pretoken_boundaries():
    # ' a' repeated: the space belongs to the pre-token, so a merge CAN
    # include it, but nothing merges across 'x y' word boundaries: encoding
    # a concatenation equals concatenating encodings of the pre-tokens
    tok = train_bpe_from_texts(["word soup word soup word soup"] * 3, 30)
    text = "word soup word"
    ids = []
    for w in pretokenize(text):
        ids.extend(tok._encode_word(w))
    assert tok.encode(text) == ids


# ------------------------------------------------------------------ spark
@pytest.fixture(scope="module")
def corpus_df(spark):
    texts = [
        "the cat sat on the mat",
        "the bat and the cat chat",
        "concatenate the catalogue",
        "statistics about cats and hats",
        "the shells she sells are sea shells",
        "999 cats, 42 hats -- really?!",
    ] * 4
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_word_count_table_matches_sequential(spark, corpus_df):
    from readur_spark.operators.bpe import word_count_table

    got = {
        bytes(r["word"]): r["count"]
        for r in word_count_table(corpus_df).collect()
    }
    want = word_counts([r["text"] for r in corpus_df.collect()])
    assert got == dict(want)


def test_train_bpe_distributed_equals_sequential(spark, corpus_df):
    from readur_spark.operators.bpe import train_bpe_distributed

    tok = train_bpe_distributed(corpus_df, num_merges=40)
    seq = train_bpe_from_texts(
        [r["text"] for r in corpus_df.collect()], 40
    )
    assert tok.merges == seq.merges
    st = tok.train_stats
    assert st["words_used"] == st["words_total"]  # no truncation here
    assert st["mass_used"] == st["mass_total"]


def test_train_bpe_distributed_truncation_surfaced(spark, corpus_df):
    from readur_spark.operators.bpe import train_bpe_distributed

    tok = train_bpe_distributed(corpus_df, num_merges=5, max_words=10)
    st = tok.train_stats
    assert st["words_used"] == 10 < st["words_total"]
    assert st["mass_used"] < st["mass_total"]


def test_train_bpe_spark_loop_equals_sequential(spark, corpus_df, monkeypatch):
    from readur_spark.operators import bpe
    from readur_spark.operators.bpe import (
        train_bpe_spark_loop,
        word_count_table,
    )

    seq = train_bpe(
        word_counts([r["text"] for r in corpus_df.collect()]), 12
    )
    monkeypatch.setattr(bpe, "CHECKPOINT_EVERY", 4)
    for bm in (1, 3, 64):
        monkeypatch.setattr(bpe, "BATCH_MERGES", bm)
        merges = train_bpe_spark_loop(word_count_table(corpus_df), num_merges=12)
        assert merges == seq, bm


def test_train_bpe_spark_loop_batched_adversarial(spark, monkeypatch):
    """Fixtures engineered to hit the batch-acceptance edges: chained
    shared-id pairs (overlap stop), merge-created pairs whose count TIES
    lower-ranked snapshot pairs (the strict-> truncation case), and a
    deep merge cascade where later rules consume earlier batch output."""
    from readur_spark.operators import bpe
    from readur_spark.operators.bpe import (
        train_bpe_spark_loop,
        word_count_table,
    )

    monkeypatch.setattr(bpe, "CHECKPOINT_EVERY", 3)
    corpora = [
        # cascade: 'aaaa...' makes (a,a)->Z then (Z,Z)->W etc.
        ["a" * 17] * 5 + ["abab abab", "bcbc bc"] * 3,
        # shared-id chain: ab, bc, cd all frequent — overlaps force stops
        ["ab bc cd ab bc cd abcd"] * 7 + ["xxyyzz xyz"] * 4,
        # created-pair tie bait: 'qrs' occurrences make (Z,s) after
        # (q,r)->Z with count close to other rank-2 pairs
        ["qrs qrs qrs tu tu tu vw vw vw"] * 5,
    ]
    for texts in corpora:
        docs = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        seq = train_bpe(word_counts(texts), 20)
        for bm in (2, 8, 64):
            monkeypatch.setattr(bpe, "BATCH_MERGES", bm)
            got = train_bpe_spark_loop(word_count_table(docs), num_merges=20)
            assert got == seq, (texts[0][:20], bm)


def test_bpe_udfs_match_kernel(spark, corpus_df):
    from readur_spark.operators.bpe import (
        bpe_count_udf,
        bpe_encode_udf,
        train_bpe_distributed,
    )
    from pyspark.sql import functions as F

    tok = train_bpe_distributed(corpus_df, num_merges=30)
    out = corpus_df.select(
        "doc_id",
        "text",
        bpe_count_udf(tok)(F.col("text")).alias("n"),
        bpe_encode_udf(tok)(F.col("text")).alias("ids"),
    ).collect()
    for r in out:
        assert r["n"] == tok.count(r["text"])
        assert list(r["ids"]) == tok.encode(r["text"])
        assert r["n"] == len(r["ids"])


def test_pack_sequences_with_bpe_counter(spark, corpus_df):
    from readur_spark.operators.bpe import bpe_count_udf, train_bpe_distributed
    from readur_spark.operators.packing import pack_sequences

    tok = train_bpe_distributed(corpus_df, num_merges=30)
    manifest = pack_sequences(
        corpus_df, seq_len=16, token_counter=bpe_count_udf(tok)
    ).collect()
    counts = {
        r["doc_id"]: tok.count(r["text"]) for r in corpus_df.collect()
    }
    # per-doc token mass in the manifest == BPE count
    per_doc = {}
    for r in manifest:
        per_doc[r["doc_id"]] = per_doc.get(r["doc_id"], 0) + r["n_tokens"]
    assert per_doc == {k: v for k, v in counts.items() if v > 0}
    # global stream: every sequence except the last holds exactly 16
    per_seq = {}
    for r in manifest:
        per_seq[r["seq_id"]] = per_seq.get(r["seq_id"], 0) + r["n_tokens"]
    last = max(per_seq)
    assert all(v == 16 for s, v in per_seq.items() if s != last)


def test_materialize_sequences_reconstructs_token_stream(spark, corpus_df):
    from readur_spark.operators.bpe import (
        bpe_count_udf,
        bpe_encode_udf,
        train_bpe_distributed,
    )
    from readur_spark.operators.packing import (
        materialize_sequences,
        pack_sequences,
    )

    tok = train_bpe_distributed(corpus_df, num_merges=30)
    manifest = pack_sequences(
        corpus_df, seq_len=16, token_counter=bpe_count_udf(tok)
    )
    seqs = materialize_sequences(
        corpus_df, manifest, bpe_encode_udf(tok)
    ).collect()
    # every sequence except the last is exactly full
    by_id = {r["seq_id"]: list(r["ids"]) for r in seqs}
    last = max(by_id)
    for sid, ids in by_id.items():
        if sid != last:
            assert len(ids) == 16, sid
    # concatenating sequences in order reproduces the doc-order stream
    stream = [t for sid in sorted(by_id) for t in by_id[sid]]
    want = []
    for r in sorted(corpus_df.collect(), key=lambda r: r["doc_id"]):
        want.extend(tok.encode(r["text"]))
    assert stream == want


def test_chunk_by_tokens_roundtrip_and_boundaries(spark, corpus_df):
    from readur_spark.kernels.bpe import token_windows
    from readur_spark.operators.bpe import train_bpe_distributed
    from readur_spark.operators.extract import chunk_texts_by_tokens

    tok = train_bpe_distributed(corpus_df, num_merges=30)
    chunks = chunk_texts_by_tokens(
        corpus_df, tok, chunk_tokens=8, overlap_tokens=2
    ).collect()
    docs = {r["doc_id"]: r["text"] for r in corpus_df.collect()}
    per_doc: dict = {}
    for r in chunks:
        per_doc.setdefault(r["doc_id"], []).append(r)
    vocab = tok.token_bytes()
    for doc_id, rows in per_doc.items():
        ids, starts = tok.encode_with_starts(docs[doc_id])
        windows = token_windows(ids, starts, vocab, 8, 2)
        rows.sort(key=lambda r: r["chunk_no"])
        assert len(rows) == len(windows), doc_id
        prev_end = 0
        for r, (pos, end) in zip(rows, windows):
            window = ids[pos:end]
            # the chunk text re-encodes to EXACTLY its token slice (the
            # boundary-snap guarantee — not true of raw fixed-stride cuts)
            assert tok.encode(r["chunk_text"]) == window, (doc_id, r)
            assert r["n_tokens"] == len(window) <= 8
            # gapless coverage, overlap at most overlap_tokens
            assert prev_end - 2 <= pos <= prev_end
            prev_end = end
        assert prev_end == len(ids)  # last chunk reaches the end
    # every nonempty doc chunked
    assert set(per_doc) == {d for d, t in docs.items() if tok.count(t) > 0}


def test_chunk_by_tokens_multibyte_no_corruption(spark):
    # Byte-level BPE token cuts need not align to character boundaries:
    # a raw fixed-stride window can split a multi-byte UTF-8 character
    # and inject U+FFFD. Snapped cuts must never do that.
    from readur_spark.kernels.bpe import train_bpe_from_texts
    from readur_spark.operators.extract import chunk_texts_by_tokens

    texts = [
        "naïve café résumé — déjà vu, 日本語のテキストです。絵文字 🙂🙂 ok",
        "ελληνικά και русский текст вперемешку with ascii words",
        "中文中文中文中文中文中文中文中文中文中文中文中文",  # one long CJK run
    ] * 3
    tok = train_bpe_from_texts(texts, 20)
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    for ct, ov in [(5, 0), (8, 2), (3, 1)]:
        rows = chunk_texts_by_tokens(
            docs, tok, chunk_tokens=ct, overlap_tokens=ov
        ).collect()
        assert rows
        per_doc: dict = {}
        for r in rows:
            per_doc.setdefault(r["doc_id"], []).append(r)
        for doc_id, rs in per_doc.items():
            rs.sort(key=lambda r: r["chunk_no"])
            for r in rs:
                assert "�" not in r["chunk_text"], (ct, ov, doc_id, r)
            # zero-overlap chunks concatenate back to the exact document
            if ov == 0:
                assert "".join(r["chunk_text"] for r in rs) == texts[doc_id]


def test_chunk_by_tokens_empty_and_short_docs(spark):
    from readur_spark.kernels.bpe import train_bpe_from_texts
    from readur_spark.operators.extract import chunk_texts_by_tokens

    tok = train_bpe_from_texts(["some training words here"] * 3, 10)
    docs = spark.createDataFrame(
        [(1, ""), (2, "tiny"), (3, None)], "doc_id long, text string"
    )
    rows = chunk_texts_by_tokens(docs, tok, chunk_tokens=50).collect()
    assert {r["doc_id"] for r in rows} == {2}
    assert rows[0]["chunk_no"] == 0 and rows[0]["chunk_text"] == "tiny"


# ------------------------------------------------------------- properties
from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=400))
def test_prop_roundtrip_any_unicode(text):
    tok = _PROP_TOK
    assert tok.decode(tok.encode(text)) == text


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=400))
def test_prop_count_equals_encode_len(text):
    tok = _PROP_TOK
    assert tok.count(text) == len(tok.encode(text))


@settings(max_examples=100, deadline=None)
@given(st.text(max_size=300))
def test_prop_pretokens_cover_input_losslessly(text):
    assert b"".join(pretokenize(text)) == text.encode("utf-8")


@settings(max_examples=100, deadline=None)
@given(st.text(alphabet="abcdef \n.", max_size=200), st.integers(1, 30))
def test_prop_trainer_matches_naive_on_random_corpora(text, n_merges):
    wf = word_counts([text])
    assert train_bpe(wf, n_merges) == naive_train(dict(wf), n_merges)


@settings(max_examples=60, deadline=None)
@given(st.text(alphabet="abc xyz.", max_size=300))
def test_prop_greedy_equals_rank_order(text):
    tok = _PROP_TOK
    assert tok.encode(text) == rank_order_encode(text, tok.merges)


_PROP_TOK = train_bpe_from_texts(
    [
        "the quick brown fox jumps over the lazy dog again and again",
        "pack my box with five dozen liquor jugs for the road trip",
        "sphinx of black quartz judge my vow said the weary traveler",
    ] * 3,
    80,
)


def test_mega_word_encodes_in_linear_time():
    """Rank progression is monotone (new pairs always involve the newly
    created token, whose merges rank later), so a 200k-char single
    pre-token costs O(merges x len), not O(len^2)."""
    import time

    tok = train_bpe_from_texts(["aaaa aaaa aaaaaaaa ab ab ab"] * 5, 40)
    mega = "a" * 200_000
    t0 = time.monotonic()
    ids = tok.encode(mega)
    elapsed = time.monotonic() - t0
    assert tok.decode(ids) == mega
    assert elapsed < 10.0, elapsed


def test_token_windows_mega_pretoken_no_subset_windows():
    """A mega pre-token right after the overlap region used to stall
    the walk into strict-subset windows (duplicated training data —
    review finding); ends must now strictly advance."""
    from readur_spark.kernels.bpe import token_windows

    # six 1-byte tokens with pre-token starts every 2, then one long
    # unbroken ASCII run encoded as 100 single-byte tokens with NO
    # pre-token boundary inside
    ids = [0] * 110
    vocab = (b"a",)
    starts = [0, 2, 4, 6, 8, 10]
    windows = token_windows(ids, starts, vocab, 8, 4)
    ends = [e for _p, e in windows]
    assert ends == sorted(set(ends)), windows  # strictly increasing
    # gapless: every window starts at or before the previous end
    prev_end = 0
    for p, e in windows:
        assert p <= prev_end
        prev_end = e
    assert prev_end == 110
    # no window exceeds the budget except char-extension cases (none
    # here: all cuts are char-safe ASCII)
    assert all(e - p <= 8 for p, e in windows)
