"""Word-count kernels (reference parity).

readur ships two variants of "safe" word counting; both are reproduced here
because different extraction paths use different ones:

* ``count_words_safely_enhanced`` — src/ocr/enhanced.rs:1695-1710 — used by
  the plain-text / PDF paths. >1 MB text: count the first 100 KB with the
  full heuristic and extrapolate linearly; cap 10 M.
* ``count_words_safely_office``   — src/ocr/xml_extractor.rs:1200-1250 — used
  by DOCX/XLSX. >1 MB: 3 samples (begin/middle/end) of ≤100 KB each through
  the optimized counter, each extrapolated then averaged; 50 KB..1 MB: the
  optimized single-pass counter; else the full heuristic. Cap 10 M.
* ``count_words_in_text``         — src/ocr/enhanced.rs:1713-1767 (dup at
  xml_extractor.rs:1292-1346) — whitespace split, with a continuous-text
  fallback (camelCase + letter/digit transition counting, else alnum/5) when
  the text is one long run or has no whitespace words.
* ``count_words_optimized``       — xml_extractor.rs:1267-1290 — single-pass
  state machine; a "word" must contain at least one alphanumeric char.

All size thresholds compare Rust ``str::len()`` = UTF-8 byte length, and the
large-text sampling slices at byte offsets snapped back to char boundaries
(``floor_char_boundary``, xml_extractor.rs:1253-1264).
"""

from __future__ import annotations

import re

from readur_spark.kernels.util import count_alnum

LARGE_TEXT_THRESHOLD = 1_000_000  # 1 MB
MEDIUM_TEXT_THRESHOLD = 50_000  # 50 KB
SAMPLE_SIZE = 100_000  # 100 KB
MAX_WORD_COUNT = 10_000_000  # 10 M cap

#: [^\W_] == Unicode alnum (verified char-by-char over the BMP in tests)
_HAS_ALNUM = re.compile(r"[^\W_]")


def count_words_in_text(text: str) -> int:
    """Full word-count heuristic (src/ocr/enhanced.rs:1713-1767).

    Whitespace-separated count; if that yields exactly one "word" longer than
    15 bytes (continuous text, e.g. ``SOCLogixNDAConfidentialityAgreement``)
    or zero words over non-empty text:

    * no alphanumeric chars → 0
    * count lower→upper and letter↔digit transitions; if any, words =
      transitions + 1
    * else words = max(alnum_chars // 5, 1)
    """
    whitespace_words = len(text.split())
    is_continuous = whitespace_words == 1 and len(text.encode("utf-8", errors="surrogatepass")) > 15
    is_no_words = whitespace_words == 0 and text.strip() != ""
    if not (is_continuous or is_no_words):
        return whitespace_words

    alnum = count_alnum(text)
    if alnum == 0:
        return 0

    transitions = 0
    prev = None
    for curr in text:
        if prev is not None:
            if prev.islower() and curr.isupper():
                transitions += 1
            elif (prev.isalpha() and curr.isnumeric()) or (
                prev.isnumeric() and curr.isalpha()
            ):
                transitions += 1
        prev = curr
    if transitions > 0:
        return transitions + 1
    return max(alnum // 5, 1)


def count_words_optimized(text: str) -> int:
    """Single-pass counter for medium/large text
    (src/ocr/xml_extractor.rs:1267-1290). Punctuation neither starts nor ends
    a word; only whitespace flushes, only alphanumerics start a word."""
    # equivalent one-pass form: a "word" is a whitespace-separated token
    # containing at least one alphanumeric char (property-tested against the
    # reference state machine in tests/test_fastpaths.py)
    has_alnum = _HAS_ALNUM.search
    return sum(1 for token in text.split() if has_alnum(token))


def _floor_char_boundary(raw: bytes, index: int) -> int:
    """UTF-8 boundary snap (src/ocr/xml_extractor.rs:1253-1264)."""
    if index >= len(raw):
        return len(raw)
    while index > 0 and (raw[index] & 0xC0) == 0x80:
        index -= 1
    return index


def count_words_safely_enhanced(text: str) -> int:
    """Plain-text/PDF-path safe counter (src/ocr/enhanced.rs:1695-1710)."""
    raw = text.encode("utf-8", errors="surrogatepass")
    if len(raw) > LARGE_TEXT_THRESHOLD:
        cut = _floor_char_boundary(raw, min(SAMPLE_SIZE, len(raw)))
        sample = raw[:cut].decode("utf-8", errors="surrogatepass")
        sample_words = count_words_in_text(sample)
        estimated = int(sample_words * (len(raw) / SAMPLE_SIZE))
        return min(estimated, MAX_WORD_COUNT)
    return count_words_in_text(text)


def count_words_safely_office(text: str) -> int:
    """Office-path safe counter (src/ocr/xml_extractor.rs:1200-1250)."""
    if text.strip() == "":
        return 0
    raw = text.encode("utf-8", errors="surrogatepass")
    n = len(raw)
    if n > LARGE_TEXT_THRESHOLD:
        num_samples = 3
        sample_size = min(SAMPLE_SIZE, n // num_samples)
        total = 0
        for i in range(num_samples):
            start = (n // num_samples) * i
            end = min(start + sample_size, n)
            s = _floor_char_boundary(raw, start)
            e = _floor_char_boundary(raw, end)
            if e > s:
                sample = raw[s:e].decode("utf-8", errors="surrogatepass")
                sample_words = count_words_optimized(sample)
                ratio = n / (e - s)
                total += int(sample_words * ratio / num_samples)
        return min(total, MAX_WORD_COUNT)
    if n > MEDIUM_TEXT_THRESHOLD:
        return count_words_optimized(text)
    return count_words_in_text(text)
