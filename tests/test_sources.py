"""File sources: binary dir ingest (S2), size priority (Q2), incremental
sync (S4), interleaved synthesis."""

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from readur_spark.sources.files import incremental_changes, read_binary_dir, size_priority


@pytest.fixture(scope="module")
def file_tree():
    d = tempfile.mkdtemp(prefix="readur_files_")
    os.makedirs(f"{d}/sub", exist_ok=True)
    with open(f"{d}/a.txt", "w") as f:
        f.write("hello text file")
    with open(f"{d}/sub/b.html", "w") as f:
        f.write("<html><body><p>page</p></body></html>")
    with open(f"{d}/skip.exe", "wb") as f:
        f.write(b"\x00" * 10)
    with open(f"{d}/big.txt", "wb") as f:
        f.write(b"x" * (2 * 1024 * 1024))
    return d


def test_read_binary_dir(spark, file_tree):
    df = read_binary_dir(spark, file_tree, max_bytes=1024 * 1024)
    rows = {r["filename"]: r for r in df.collect()}
    assert set(rows) == {"a.txt", "b.html"}  # .exe filtered, big.txt skipped
    assert bytes(rows["a.txt"]["content"]) == b"hello text file"
    assert rows["b.html"]["length"] == len("<html><body><p>page</p></body></html>")


def test_size_priority(spark):
    mb = 1024 * 1024
    df = spark.createDataFrame(
        [(1, mb), (2, 3 * mb), (3, 8 * mb), (4, 20 * mb), (5, 80 * mb)],
        "id int, length long",
    ).withColumn("prio", size_priority())
    got = {r["id"]: r["prio"] for r in df.collect()}
    assert got == {1: 10, 2: 8, 3: 6, 4: 4, 5: 2}


def test_incremental_changes(spark):
    current = spark.createDataFrame(
        [("p1", "e1"), ("p2", "e2-new"), ("p3", "e3")], "path string, etag string"
    )
    previous = spark.createDataFrame(
        [("p1", "e1"), ("p2", "e2-old")], "path string, etag string"
    )
    got = {r["path"] for r in incremental_changes(current, previous).collect()}
    assert got == {"p2", "p3"}  # changed + new; unchanged p1 skipped


def test_binary_dir_into_extraction(spark, file_tree):
    from readur_spark.operators.binary_extract import extract_files

    files = read_binary_dir(spark, file_tree, max_bytes=1024 * 1024)
    out = {r["filename"]: r for r in extract_files(files).collect()}
    assert out["a.txt"]["status"] == "completed"
    assert out["a.txt"]["spans"][0]["text"] == "hello text file"


# ---------------------------------------------------------------------------
# WARC (Common Crawl) ingestion
# ---------------------------------------------------------------------------


def _warc_records():
    return [
        {
            "warc_type": "response",
            "target_uri": "https://example.com/a",
            "payload": b"<html><body><p>hello page</p></body></html>",
            "http_content_type": "text/html; charset=utf-8",
        },
        {
            "warc_type": "resource",
            "target_uri": "https://example.com/b",
            "payload": b"plain resource bytes",
        },
        {
            "warc_type": "request",
            "target_uri": "https://example.com/a",
            "payload": b"GET /a HTTP/1.1\r\nHost: example.com\r\n\r\n",
        },
    ]


def test_warc_parse_plain_and_gzip_roundtrip():
    from readur_spark.sources.warc import build_warc, parse_warc

    for gz in (False, True):
        data = build_warc(_warc_records(), gzip_per_record=gz)
        recs = list(parse_warc(data))
        assert [r["warc_type"] for r in recs] == ["response", "resource", "request"]
        # response: HTTP wrapper stripped, content-type captured
        assert recs[0]["payload"] == b"<html><body><p>hello page</p></body></html>"
        assert recs[0]["http_content_type"] == "text/html; charset=utf-8"
        assert recs[1]["payload"] == b"plain resource bytes"
        assert recs[1]["http_content_type"] is None
        assert all(r["target_uri"].startswith("https://example.com/") for r in recs)


def test_warc_truncated_tail_drops_last_record_only():
    from readur_spark.sources.warc import build_warc, parse_warc

    data = build_warc(_warc_records(), gzip_per_record=False)
    cut = data[: len(data) - 40]  # damage the final record
    recs = list(parse_warc(cut))
    assert 2 <= len(recs) <= 3
    assert recs[0]["payload"] == b"<html><body><p>hello page</p></body></html>"


def test_warc_distributed_read_filters_types(spark, tmp_path):
    from readur_spark.sources.warc import build_warc, read_warc

    for i in range(3):
        (tmp_path / f"shard-{i}.warc.gz").write_bytes(
            build_warc(_warc_records(), gzip_per_record=True)
        )
    df = read_warc(spark, str(tmp_path) + "/*.warc.gz")
    rows = df.collect()
    # request records filtered by default; 2 kept per shard x 3 shards
    assert len(rows) == 6
    assert {r["warc_type"] for r in rows} == {"response", "resource"}
    assert len({r["path"] for r in rows}) == 3
    allr = read_warc(spark, str(tmp_path) + "/*.warc.gz", warc_types=()).collect()
    assert len(allr) == 9


def test_warc_html_payload_flows_into_main_content_extraction(spark, tmp_path):
    """End-to-end web-corpus shape: WARC response -> html payload ->
    main-content extraction strips the boilerplate."""
    from pyspark.sql import functions as F

    from readur_spark.kernels.htmlmain import extract_main_content
    from readur_spark.sources.warc import build_warc, read_warc

    html = (
        b"<html><body><nav><a href='/x'>nav link</a></nav><article><p>"
        b"the real article body with enough words to pass the block "
        b"classifier threshold easily</p></article>"
        b"<footer><a href='/about'>about</a></footer></body></html>"
    )
    (tmp_path / "one.warc.gz").write_bytes(
        build_warc(
            [{"warc_type": "response", "target_uri": "https://e.com/p",
              "payload": html}]
        )
    )
    df = read_warc(spark, str(tmp_path) + "/*.warc.gz")
    text = df.select(F.decode("payload", "UTF-8").alias("h")).collect()[0]["h"]
    spans = extract_main_content(text)
    joined = " ".join(sp["text"] for sp in spans)
    assert "real article body" in joined
    assert "nav link" not in joined and "about" not in joined


def test_warc_rejects_negative_content_length():
    """A crafted negative Content-Length must not rewind the cursor (the
    review-found infinite loop): parsing terminates with no bogus records."""
    from readur_spark.sources.warc import parse_warc

    evil = (
        b"WARC/1.0\r\nWARC-Type: resource\r\nContent-Length: -00057\r\n\r\n"
    )
    assert list(parse_warc(evil)) == []


def test_warc_corrupt_gzip_member_degrades_to_prefix():
    from readur_spark.sources.warc import build_warc, parse_warc

    good = build_warc(
        [{"warc_type": "resource", "target_uri": "https://e.com/1",
          "payload": b"first record"}]
    )
    corrupt = bytearray(
        build_warc(
            [{"warc_type": "resource", "target_uri": "https://e.com/2",
              "payload": b"second record"}]
        )
    )
    corrupt[len(corrupt) // 2] ^= 0xFF  # flip a bit inside the member
    recs = list(parse_warc(good + bytes(corrupt)))
    assert [r["target_uri"] for r in recs] == ["https://e.com/1"]


def test_warc_many_members_linear_time():
    # ADVICE r4: _gzip_members used to copy d.unused_data (the whole
    # remaining file) per member — O(members x size). 4,000 members over
    # ~1.3 MB would take minutes under that; linear parse is instant.
    import time

    from readur_spark.sources.warc import build_warc, parse_warc

    recs = [
        {"warc_type": "resource", "target_uri": f"https://e.com/{i}",
         "payload": (f"payload {i} " * 20).encode()}
        for i in range(4000)
    ]
    data = build_warc(recs, gzip_per_record=True)
    t0 = time.monotonic()
    parsed = list(parse_warc(data))
    elapsed = time.monotonic() - t0
    assert len(parsed) == 4000
    assert parsed[0]["payload"].startswith(b"payload 0 ")
    assert parsed[-1]["target_uri"] == "https://e.com/3999"
    assert elapsed < 10.0  # quadratic path blows far past this


def test_warc_member_larger_than_chunk():
    # a single member bigger than the 1 MiB feed chunk must decompress
    # across chunk boundaries and land the offset on the next member
    from readur_spark.sources.warc import build_warc, parse_warc

    big = b"A" * (3 << 20)
    data = build_warc(
        [{"warc_type": "resource", "target_uri": "https://e.com/big",
          "payload": big},
         {"warc_type": "resource", "target_uri": "https://e.com/after",
          "payload": b"tail record"}]
    )
    parsed = list(parse_warc(data))
    assert [r["target_uri"] for r in parsed] == [
        "https://e.com/big", "https://e.com/after"]
    assert parsed[0]["payload"] == big
    assert parsed[1]["payload"] == b"tail record"


def test_warc_malformed_middle_record_resyncs():
    # one garbage record header in a healthy file must cost ONE record,
    # not the rest of the file: the parser resyncs to the next
    # "\r\nWARC/" marker (matters even more now that the gzip fast path
    # hands parse_warc the whole file as a single buffer)
    from readur_spark.sources.warc import build_warc, parse_warc

    def one(uri):
        return build_warc(
            [{"warc_type": "resource", "target_uri": uri,
              "payload": b"body " + uri.encode()}],
            gzip_per_record=False,
        )

    garbage = b"NOT-A-WARC-HEADER junk\r\nX: y\r\n\r\nleftover bytes\r\n"
    badlen = (
        b"WARC/1.0\r\nWARC-Type: resource\r\n"
        b"Content-Length: banana\r\n\r\n"
    )
    data = one("https://e.com/1") + garbage + one("https://e.com/2") \
        + badlen + one("https://e.com/3")
    recs = list(parse_warc(data))
    assert [r["target_uri"] for r in recs] == [
        "https://e.com/1", "https://e.com/2", "https://e.com/3"]


def test_warc_gzip_fast_path_equals_member_loop(monkeypatch):
    # the whole-buffer C-level inflate (fast path) and the per-member
    # recovery loop must parse identical records from the same bytes
    import readur_spark.sources.warc as W

    recs = [
        {"warc_type": "resource", "target_uri": f"https://e.com/{i}",
         "payload": (f"payload {i} " * 9).encode()}
        for i in range(250)
    ]
    data = W.build_warc(recs, gzip_per_record=True)
    fast = list(W.parse_warc(data))
    monkeypatch.setattr(W, "_WHOLE_DECOMPRESS_LIMIT", 0)
    slow = list(W.parse_warc(data))
    assert fast == slow
    assert [r["target_uri"] for r in fast] == [r["target_uri"] for r in recs]


def test_warc_rebuild_from_parsed_records():
    # ADVICE r4: parse_warc emits http_content_type=None for resource
    # records; feeding those dicts back to build_warc must not raise.
    from readur_spark.sources.warc import build_warc, parse_warc

    first = list(parse_warc(build_warc(_warc_records())))
    rebuilt = build_warc(
        [{**r, "payload": r["payload"]} for r in first]
    )
    second = list(parse_warc(rebuilt))
    assert [r["target_uri"] for r in second] == [r["target_uri"] for r in first]
    assert [r["payload"] for r in second] == [r["payload"] for r in first]


def test_warc_overstated_length_recovers_swallowed_records():
    """A record whose Content-Length overruns into the next records:
    the following records are recovered via the boundary resync instead
    of being silently swallowed into the bad record's payload."""
    from readur_spark.sources.warc import build_warc, parse_warc

    def one(uri):
        return build_warc(
            [{"warc_type": "resource", "target_uri": uri,
              "payload": b"body of " + uri.encode()}],
            gzip_per_record=False,
        )

    bad = (
        b"WARC/1.0\r\nWARC-Type: resource\r\n"
        b"WARC-Target-URI: https://e.com/bad\r\n"
        b"Content-Length: 500\r\n\r\n"  # claims 500, actual payload ~10
        b"short body\r\n\r\n"
    )
    data = bad + one("https://e.com/2") + one("https://e.com/3")
    uris = [r["target_uri"] for r in parse_warc(data)]
    # /2 and /3 MUST both survive; the bad record may appear (with its
    # overrun payload) but must not eat its successors
    assert uris[-2:] == ["https://e.com/2", "https://e.com/3"]


def test_warc_understated_length_keeps_following_record():
    from readur_spark.sources.warc import build_warc, parse_warc

    good = build_warc(
        [{"warc_type": "resource", "target_uri": "https://e.com/ok",
          "payload": b"fine"}],
        gzip_per_record=False,
    )
    bad = (
        b"WARC/1.0\r\nWARC-Type: resource\r\n"
        b"WARC-Target-URI: https://e.com/short\r\n"
        b"Content-Length: 4\r\n\r\n"  # actual payload is longer
        b"0123456789-the-real-payload-kept-going\r\n\r\n"
    )
    uris = [r["target_uri"] for r in parse_warc(bad + good)]
    assert uris[-1] == "https://e.com/ok"


def test_warc_gzip_bomb_capped(monkeypatch):
    """Inflation caps: a buffer expanding past the limits raises LOUDLY
    (silent truncation of an oversized file would be indistinguishable
    from a legitimately smaller one) without allocating the expansion."""
    import gzip as _gzip

    import pytest as _pytest

    from readur_spark.sources import warc as warc_mod

    ok = _gzip.compress(b"fine member")
    bomb = _gzip.compress(b"\x00" * (4 << 20))  # 4 MB of zeros, ~4 KB gz
    monkeypatch.setattr(warc_mod, "_MEMBER_INFLATED_LIMIT", 1 << 20)
    monkeypatch.setattr(warc_mod, "_WHOLE_INFLATED_LIMIT", 2 << 20)
    with _pytest.raises(ValueError, match="inflat"):
        list(warc_mod._gzip_members(ok + bomb))
    # single-member fast-path probe also raises, bounded by max_length
    with _pytest.raises(ValueError, match="inflat"):
        list(warc_mod._gzip_members(bomb))
    # well under the caps: everything yields normally
    assert list(warc_mod._gzip_members(ok + ok)) == [b"fine member"] * 2


def test_bpe_spark_loop_rejects_bad_batch_size(spark):
    import pytest as _pytest

    from readur_spark.operators.bpe import train_bpe_spark_loop

    words = spark.createDataFrame(
        [(b"abab", 3)], "word binary, count long"
    )
    with _pytest.raises(ValueError, match="batch_merges"):
        train_bpe_spark_loop(words, num_merges=4, batch_merges=0)


def test_warc_overstated_length_does_not_double_emit_payload_bytes():
    """When the boundary resync recovers records swallowed by an
    overstated Content-Length, the bad record's payload must be CUT at
    the resume point: yielding the full claimed payload and then
    re-parsing inside it would emit the same bytes twice — once inside
    the bad record's payload and again as the recovered records
    (advisor finding, r6)."""
    from readur_spark.sources.warc import build_warc, parse_warc

    def one(uri, body):
        return build_warc(
            [{"warc_type": "resource", "target_uri": uri,
              "payload": body}],
            gzip_per_record=False,
        )

    bad = (
        b"WARC/1.0\r\nWARC-Type: resource\r\n"
        b"WARC-Target-URI: https://e.com/bad\r\n"
        b"Content-Length: 60\r\n\r\n"  # claims 60, actual payload is 10 —
        b"short body\r\n\r\n"  # the claim reaches INTO record /2 but
        # stays inside the buffer (the past-EOF case is covered by
        # test_warc_overstated_length_recovers_swallowed_records)
    )
    data = bad + one("https://e.com/2", b"MARKER-TWO") + one(
        "https://e.com/3", b"MARKER-THREE"
    )
    recs = list(parse_warc(data))
    by_uri = {r["target_uri"]: r for r in recs}
    assert "https://e.com/2" in by_uri and "https://e.com/3" in by_uri
    # the recovered records' bytes appear exactly once across ALL
    # yielded payloads: the bad record's truncated payload holds only
    # its own body (possibly plus the record-terminator CRLFs)
    assert by_uri["https://e.com/bad"]["payload"].startswith(b"short body")
    assert b"MARKER" not in by_uri["https://e.com/bad"]["payload"]
    joined = b"".join(r["payload"] for r in recs)
    assert joined.count(b"MARKER-TWO") == 1
    assert joined.count(b"MARKER-THREE") == 1
