"""WARC (Web ARChive) ingestion — the Common Crawl input format.

The north rule's corpus is web documents at 10^12 scale; the format those
arrive in is WARC (ISO 28500): a sequence of records, each a
``WARC/1.x`` header block + Content-Length-framed payload, usually with
one gzip member PER RECORD so readers can resume mid-file. Reference
analog: readur's batch directory ingestion + per-file type dispatch
(/root/reference/src/ingestion/document_ingestion.rs,
src/services/batch_ingest*) — WARC is the web-corpus shape of the same
"bytes in, typed documents out" step.

Spark-first shape: WARC gzip members are not block-splittable, so the
parallelism unit is the FILE — exactly how Common Crawl is consumed (a
crawl ships ~64k ~1 GB files; a 1000-executor cluster maps files to
tasks). ``read_warc`` scans with the binaryFile source and parses each
file inside one Arrow-batched ``mapInPandas`` pass; no driver-side
parsing, no shuffle at all until the caller aggregates.

Parsing is stdlib-only: zlib with ``wbits=31`` consumed member-by-member
(``Decompress.unused_data`` carries the tail), WARC headers split on the
CRLF blank line, HTTP response payloads split once more for the body.
"""

from __future__ import annotations

import gzip
import zlib
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession

WARC_SCHEMA = (
    "path string, record_id string, warc_type string, target_uri string, "
    "warc_date string, http_content_type string, payload binary"
)


# Files at or below this compressed size take the whole-buffer fast path
# (one C-level multi-member inflate). Above it — or when any corruption
# makes the fast path raise — the member-by-member loop runs instead,
# which keeps memory O(member) and recovers the intact prefix precisely.
_WHOLE_DECOMPRESS_LIMIT = 64 << 20

#: inflation caps — gzip's worst-case expansion is ~1032:1, so an input
#: cap alone admits multi-GB allocations from a 64 MB bomb. The fast
#: path's probe is bounded by max_length; the member loop counts total
#: output. Sized ABOVE the format's canonical inputs (a ~1 GB Common
#: Crawl shard inflates 3-5×; per-record members are ≤1 MB) so a
#: legitimate file never trips them; a breach raises ValueError LOUDLY
#: rather than silently truncating to a plausible-looking prefix
#: (review finding) — an operator hitting a genuinely larger file
#: raises these constants or splits the file.
_WHOLE_INFLATED_LIMIT = 8 << 30
_MEMBER_INFLATED_LIMIT = 4 << 30


def _gzip_members(data: bytes) -> Iterator[bytes]:
    """Decompress a concatenation of gzip members (the per-record layout
    of .warc.gz) — or yield the input unchanged when it isn't gzip.

    FAST PATH: one OUTPUT-BOUNDED ``decompressobj`` probe
    (``max_length = _WHOLE_INFLATED_LIMIT + 1``) inflates a whole
    single-member file in one C call — the plain-gzipped-WARC shape.
    An earlier revision used bare ``gzip.decompress`` (covering
    multi-member files too) but that bounds only the INPUT: gzip
    expands up to ~1032:1, so a compressible 64 MB buffer could
    allocate gigabytes in a single call (review finding). Multi-member
    per-record files now always take the loop below, whose adaptive
    feed keeps per-member overhead bounded.

    RECOVERY/LARGE PATH: member-by-member zlib with an adaptive feed
    (16 KiB doubling to 1 MiB, reset per member) so the ``unused_data``
    overrun copy is bounded by the LAST chunk fed — small members pay a
    ≤16 KiB copy, not the full remaining buffer (a Common Crawl file has
    ~100k members in ~1 GB; per-member full-tail copies are quadratic).
    A corrupt or truncated member ends iteration, keeping the intact
    prefix — the contract the corruption tests pin."""
    if not data.startswith(b"\x1f\x8b"):
        yield data
        return
    if len(data) <= _WHOLE_DECOMPRESS_LIMIT:
        # bounded single-call probe: max_length caps the OUTPUT (the
        # former bare gzip.decompress bounded only the input, letting a
        # highly-compressible 64 MB buffer allocate gigabytes in one
        # call). If the whole file is one gzip member inside the cap,
        # we are done at C speed; multi-member (per-record .warc.gz)
        # and over-cap cases fall to the capped member loop below.
        try:
            d = zlib.decompressobj(wbits=31)
            probe = d.decompress(data, _WHOLE_INFLATED_LIMIT + 1)
            if len(probe) > _WHOLE_INFLATED_LIMIT:
                raise ValueError(
                    "gzip member inflates past _WHOLE_INFLATED_LIMIT "
                    f"({_WHOLE_INFLATED_LIMIT} bytes) — inflation bomb, "
                    "or raise the limit for genuinely larger files"
                )
            if d.eof and not d.unused_data and not d.unconsumed_tail:
                yield probe
                return
        except zlib.error:
            pass  # corrupt/truncated somewhere: recover the prefix below
    mv = memoryview(data)
    n = len(data)
    pos = 0
    total = 0
    while pos < n and data[pos : pos + 2] == b"\x1f\x8b":
        d = zlib.decompressobj(wbits=31)
        out = []
        member_total = 0
        chunk = 1 << 14
        try:
            while pos < n and not d.eof:
                fed = mv[pos : pos + chunk]
                piece = d.decompress(fed)
                out.append(piece)
                member_total += len(piece)
                if (
                    member_total > _MEMBER_INFLATED_LIMIT
                    or total + member_total > _WHOLE_INFLATED_LIMIT
                ):
                    raise ValueError(
                        "WARC gzip stream inflates past the configured "
                        f"limits (member {_MEMBER_INFLATED_LIMIT}, file "
                        f"{_WHOLE_INFLATED_LIMIT} bytes) — inflation "
                        "bomb, or raise the limits for larger files"
                    )
                pos += len(fed)
                chunk = min(chunk << 1, 1 << 20)
        except zlib.error:
            return  # corrupt member: end this file's iteration, keep prefix
        if not d.eof:
            return  # truncated final member: drop it, keep the prefix
        total += member_total
        yield b"".join(out)
        # the last chunk fed may overrun the member's end; unused_data is
        # at most one chunk here — rewind to the next member's start.
        pos -= len(d.unused_data)


def parse_warc(data: bytes) -> Iterator[dict]:
    """Iterate records of one WARC file (plain or per-record gzip).
    Yields dicts: record_id, warc_type, target_uri, warc_date,
    http_content_type, payload (the HTTP BODY for response records,
    the raw block otherwise). A truncated tail stops iteration rather
    than raise — a cut-off fetch loses its last record, not the file. A
    malformed record HEADER (garbage where ``WARC/`` should be, or an
    unusable Content-Length) RESYNCS to the next ``\\r\\nWARC/`` marker
    instead of dropping the rest of the file: one bad record in a 100k-
    record crawl file should cost one record."""
    for member in _gzip_members(data):
        pos = 0
        n = len(member)

        def resync(frm: int) -> int:
            # next plausible record start strictly after frm, or n
            idx = member.find(b"\r\nWARC/", frm)
            return idx + 2 if idx >= 0 else n

        while pos < n:
            # skip inter-record CRLFs
            while pos < n and member[pos : pos + 2] == b"\r\n":
                pos += 2
            if pos >= n:
                break
            head_end = member.find(b"\r\n\r\n", pos)
            if head_end < 0:
                break  # header never terminates: truncated tail
            head = member[pos : head_end].decode("utf-8", "replace")
            lines = head.split("\r\n")
            if not lines[0].startswith("WARC/"):
                pos = resync(pos + 1)
                continue
            hdrs = {}
            for ln in lines[1:]:
                k, sep, v = ln.partition(":")
                if sep:
                    hdrs[k.strip().lower()] = v.strip()
            try:
                length = int(hdrs.get("content-length", ""))
            except ValueError:
                pos = resync(pos + 1)
                continue
            if length < 0:
                # crafted negative length would rewind pos: skip the record
                pos = resync(pos + 1)
                continue
            body_start = head_end + 4
            if body_start + length > n:
                # payload extends beyond the buffer: a truncated tail —
                # or a Content-Length overstated past EOF. Drop this
                # record but RESYNC instead of breaking: on a real
                # truncation the scan finds nothing and ends identically,
                # while an overstated length no longer takes the rest of
                # the file down with it.
                pos = resync(body_start)
                continue
            # boundary validation: a record ends with CRLFs and either
            # EOF or the next "WARC/" header. When that does not hold,
            # the Content-Length is mis-stated (an OVERSTATED one
            # swallows the following records' bytes into this payload)
            # or garbage follows a valid record — locally
            # indistinguishable. Either way, continue from
            # resync(body_start) rather than end-of-claimed-payload, so
            # records a bad length would have swallowed are RECOVERED
            # (in the per-member gzip layout the member boundary caught
            # this implicitly; in a plain multi-record buffer nothing
            # did — review finding). The record itself is still
            # yielded, TRUNCATED at the resume point when that point
            # falls inside the claimed payload: yielding the full
            # claimed payload and then rescanning inside it would emit
            # the same bytes twice — once as this record's payload and
            # again as the recovered records (advisor finding, r6).
            # A valid-record-then-garbage drop would still lose good
            # data, and a truly corrupt payload is the downstream
            # quality funnel's bread and butter. (Scope line: a payload
            # legitimately CONTAINING "\r\nWARC/" whose length is ALSO
            # mis-stated — warc-in-warc plus corruption — can truncate
            # at the embedded marker; corpus-statistics scope, same
            # family as the HREF_RE note in operators/linkgraph. A
            # correct-length warc-in-warc record passes validation and
            # is never rescanned.)
            end = body_start + length
            q = end
            while member[q : q + 2] == b"\r\n":
                q += 2
            if q < n and member[q : q + 5] != b"WARC/":
                pos = resync(body_start)
                if pos < end:
                    # resume point is inside the claimed payload: the
                    # length provably swallowed a record start — cut
                    # the payload there so no byte is double-emitted
                    end = pos
            else:
                pos = end
            block = member[body_start:end]
            payload = block
            http_ct = None
            if hdrs.get("warc-type") == "response" and block.startswith(b"HTTP/"):
                split = block.find(b"\r\n\r\n")
                if split >= 0:
                    http_head = block[:split].decode("utf-8", "replace")
                    payload = block[split + 4 :]
                    for ln in http_head.split("\r\n")[1:]:
                        k, sep, v = ln.partition(":")
                        if sep and k.strip().lower() == "content-type":
                            http_ct = v.strip()
            yield {
                "record_id": hdrs.get("warc-record-id", ""),
                "warc_type": hdrs.get("warc-type", ""),
                "target_uri": hdrs.get("warc-target-uri", ""),
                "warc_date": hdrs.get("warc-date", ""),
                "http_content_type": http_ct,
                "payload": payload,
            }


def read_warc(
    spark: SparkSession,
    path_glob: str,
    warc_types: tuple[str, ...] = ("response", "resource"),
) -> DataFrame:
    """DataFrame of WARC records under ``path_glob`` (local, HDFS, or
    s3a:// — anything the binaryFile source reaches). One task per file:
    the Common Crawl parallelism model, where the 64k files of a crawl
    ARE the partitioning. ``warc_types`` filters record kinds before they
    ever leave the parser (request/metadata records are bulk you usually
    never want shuffled)."""
    import pandas as pd

    types = set(warc_types)

    def run(batches):
        for pdf in batches:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                for rec in parse_warc(bytes(content)):
                    if types and rec["warc_type"] not in types:
                        continue
                    rows.append({"path": path, **rec})
            yield pd.DataFrame(
                rows,
                columns=[
                    "path", "record_id", "warc_type", "target_uri",
                    "warc_date", "http_content_type", "payload",
                ],
            )

    files = spark.read.format("binaryFile").load(path_glob).select(
        "path", "content"
    )
    return files.mapInPandas(run, schema=WARC_SCHEMA)


def build_warc(records: list[dict], gzip_per_record: bool = True) -> bytes:
    """Deterministic WARC writer for fixtures and tests: each record dict
    needs warc_type, target_uri, payload (bytes), and optionally
    record_id / warc_date / http_content_type (response records get an
    HTTP/1.1 200 wrapper). Per-record gzip members by default — the
    Common Crawl layout."""
    out = bytearray()
    for i, rec in enumerate(records):
        payload = rec["payload"]
        if rec.get("warc_type") == "response":
            # parse_warc emits http_content_type=None for headerless
            # responses — `or` (not a .get default) keeps round-trips safe
            ct = rec.get("http_content_type") or "text/html"
            payload = (
                b"HTTP/1.1 200 OK\r\nContent-Type: "
                + ct.encode()
                + b"\r\nContent-Length: "
                + str(len(payload)).encode()
                + b"\r\n\r\n"
                + payload
            )
        head = (
            "WARC/1.0\r\n"
            f"WARC-Type: {rec.get('warc_type', 'resource')}\r\n"
            f"WARC-Record-ID: {rec.get('record_id', f'<urn:uuid:rec-{i}>')}\r\n"
            f"WARC-Date: {rec.get('warc_date', '2024-01-01T00:00:00Z')}\r\n"
            f"WARC-Target-URI: {rec.get('target_uri', '')}\r\n"
            f"Content-Length: {len(payload)}\r\n\r\n"
        ).encode()
        record = head + payload + b"\r\n\r\n"
        if gzip_per_record:
            co = zlib.compressobj(6, zlib.DEFLATED, 31)
            out += co.compress(record) + co.flush()
        else:
            out += record
    return bytes(out)
