"""Text normalization kernels (reference parity).

Mirrors readur's only text-sanitization passes:

* ``remove_null_bytes``    — /root/reference/src/ocr/xml_extractor.rs:500-516
                             (dup at src/ocr/enhanced.rs:107-123)
* ``clean_extracted_text`` — /root/reference/src/ocr/xml_extractor.rs:1169-1197
* ``plain_text_read``      — /root/reference/src/ocr/enhanced.rs:1637-1679
                             (size cap, truncation marker, trim)
* ``repair_hyphenation``   — north-rule extension; NOT in the reference
                             (no hyphen handling exists anywhere in its src/).

All length thresholds in the reference are Rust ``str::len()`` — i.e. UTF-8
**byte** lengths — so this module measures lengths in encoded bytes wherever
a threshold is compared.
"""

from __future__ import annotations

import re

# Compiled once per process (module import), shared by every Arrow batch.
_WORD_BOUNDARIES = re.compile(r"([a-z])([A-Z])")
_MULTIPLE_SPACES = re.compile(r" {3,}")
_MULTIPLE_NEWLINES = re.compile(r"\n{3,}")
_SPACE_BEFORE_NEWLINE = re.compile(r" +\n")
_NEWLINE_BEFORE_SPACE = re.compile(r"\n +")
_MIXED_WHITESPACE = re.compile(r"[ \t]+")
_HYPHEN_LINEBREAK = re.compile(r"(\w)-\n(\w)")

#: pre-check for the one feature of the clean chain that a substring test
#: cannot find: a camelCase boundary. The same predicate as ``[a-z][A-Z]``,
#: but sre scans for it by its leading upper-case class, several times
#: faster than testing every character against ``[a-z]`` first.
_CAMEL_BOUNDARY = re.compile(r"[A-Z](?<=[a-z][A-Z])")

#: readur truncates >10 MB text content with this literal suffix
#: (src/ocr/enhanced.rs:1663).
TEXT_TRUNCATION_SUFFIX = "... [TEXT TRUNCATED DUE TO SIZE]"

#: src/ocr/enhanced.rs:1645 — 50 MB input cap for plain text.
MAX_TEXT_FILE_SIZE = 50 * 1024 * 1024
#: src/ocr/enhanced.rs:1660 — 10 MB retained-content cap.
MAX_TEXT_CONTENT_SIZE = 10 * 1024 * 1024


def remove_null_bytes(text: str) -> str:
    """Strip NUL characters — the reference's only universal sanitization
    (src/ocr/xml_extractor.rs:500-516)."""
    if "\0" not in text:
        return text
    return text.replace("\0", "")


def clean_extracted_text(text: str) -> str:
    """readur's whitespace/boundary normalization, applied in the exact
    reference order (src/ocr/xml_extractor.rs:1169-1197):

    1. camelCase boundary  ``([a-z])([A-Z])`` → ``\\1 \\2``
    2. 3+ spaces           → 2 spaces
    3. 3+ newlines         → 2 newlines
    4. spaces before ``\\n`` → removed
    5. spaces after ``\\n``  → removed
    6. runs of ``[ \\t]``   → single space
    7. trim

    The pass order is semantically load-bearing (e.g. a tab before a newline
    survives step 4 and becomes ``" \\n"`` after step 6 — matching the
    reference exactly).
    """
    # Every feature that makes the chain a non-identity besides the trim:
    # tab, double space, 3+ newlines, a space next to a newline, camelCase.
    # Clean prose has none, and then six sub() passes change nothing
    # (property-tested identical in tests/test_fastpaths.py).
    if not (
        "\t" in text
        or "  " in text
        or "\n\n\n" in text
        or " \n" in text
        or "\n " in text
        or _CAMEL_BOUNDARY.search(text)
    ):
        return text.strip()
    cleaned = _WORD_BOUNDARIES.sub(r"\1 \2", text)
    cleaned = _MULTIPLE_SPACES.sub("  ", cleaned)
    cleaned = _MULTIPLE_NEWLINES.sub("\n\n", cleaned)
    cleaned = _SPACE_BEFORE_NEWLINE.sub("\n", cleaned)
    cleaned = _NEWLINE_BEFORE_SPACE.sub("\n", cleaned)
    cleaned = _MIXED_WHITESPACE.sub(" ", cleaned)
    return cleaned.strip()


def repair_hyphenation(text: str) -> str:
    """Join words hyphen-split across line breaks: ``extrac-\\ntion`` →
    ``extraction``.

    North-rule extension — the reference has no hyphenation handling
    (verified by grep over /root/reference/src). Applied before
    ``clean_extracted_text`` so the artificial line break never reaches the
    whitespace collapse.
    """
    if "-\n" not in text:
        return text
    return _HYPHEN_LINEBREAK.sub(r"\1\2", text)


def _utf8_len(text: str) -> int:
    return len(text.encode("utf-8", errors="surrogatepass"))


def _truncate_utf8(text: str, max_bytes: int) -> str:
    """First ``max_bytes`` bytes of the UTF-8 encoding, snapped back to a
    character boundary (the reference's byte slice would panic mid-char; real
    inputs are boundary-aligned, so snapping is the faithful total version)."""
    raw = text.encode("utf-8", errors="surrogatepass")
    if len(raw) <= max_bytes:
        return text
    cut = max_bytes
    while cut > 0 and (raw[cut] & 0xC0) == 0x80:
        cut -= 1
    return raw[:cut].decode("utf-8", errors="surrogatepass")


def plain_text_read(text: str) -> tuple[str, str | None]:
    """readur's text/plain extraction (src/ocr/enhanced.rs:1637-1679).

    Returns ``(content, error)``. Errors (size cap) are returned, not raised,
    so batch processing can route them to the dead-letter path.

    * >50 MB input → error ("Text file too large") — classified
      ``file_too_large`` downstream.
    * null bytes stripped (only sanitization).
    * >10 MB content → truncated at 10 MB + literal suffix
      ``"... [TEXT TRUNCATED DUE TO SIZE]"``; otherwise trimmed.
    """
    nbytes = _utf8_len(text)
    if nbytes > MAX_TEXT_FILE_SIZE:
        return "", (
            f"Text file too large: {nbytes / (1024.0 * 1024.0):.1f} MB "
            f"(max: {MAX_TEXT_FILE_SIZE / (1024.0 * 1024.0):.1f} MB)"
        )
    cleaned = remove_null_bytes(text)
    if _utf8_len(cleaned) > MAX_TEXT_CONTENT_SIZE:
        return _truncate_utf8(cleaned, MAX_TEXT_CONTENT_SIZE) + TEXT_TRUNCATION_SUFFIX, None
    return cleaned.strip(), None
