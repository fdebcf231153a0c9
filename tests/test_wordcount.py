"""Word-count kernel tests.

The regression inputs come from the reference's own test matrix:
/root/reference/tests/integration_pdf_word_count_tests.rs:316-331 and
tests/integration_enhanced_ocr_tests.rs:51-157.
"""

from readur_spark.kernels.extractor import extract_document
from readur_spark.kernels.wordcount import (
    count_words_in_text,
    count_words_optimized,
    count_words_safely_enhanced,
    count_words_safely_office,
)


class TestCountWordsInText:
    def test_normal_whitespace(self):
        assert count_words_in_text("Hello world this is a test") == 6

    def test_continuous_camelcase(self):
        # "SOCLogixNDAConfidentialityAgreement":
        # lower→upper transitions: x→N? 'x'→'N' yes; gix→N ... compute:
        # S O C L o g i x N D A C o n f i d e n t i a l i t y A g r e e m e n t
        # transitions: x→N (lower→upper), y→A (lower→upper) = 2 → 3 words
        assert count_words_in_text("SOCLogixNDAConfidentialityAgreement") == 3

    def test_camelcase_document(self):
        # lower→upper transitions: s→I, s→A, t→D, t→W, h→C, l→C = 6 (+1).
        # "A→T" is upper→upper so "ATest" counts as one word — reference
        # semantics (enhanced.rs:1736-1741).
        assert count_words_in_text("ThisIsATestDocumentWithCamelCase") == 7

    def test_mixed_alphanumeric_short_not_continuous(self):
        # "ABC123DEF456" is 12 bytes ≤ 15 → below the continuous-text
        # threshold (enhanced.rs:1717), stays one whitespace word.
        assert count_words_in_text("ABC123DEF456") == 1

    def test_mixed_alphanumeric_long(self):
        # "ABC123xyz789DefGhi456" (21 bytes > 15): transitions C→1, 3→x,
        # z→7, 9→D, f→G, i→4 = 6 (+1)
        assert count_words_in_text("ABC123xyz789DefGhi456") == 7

    def test_all_caps_estimate(self):
        # THISISALLCAPSTEXT: no lower→upper or letter↔digit transitions;
        # 17 alnum chars → 17 // 5 = 3
        assert count_words_in_text("THISISALLCAPSTEXT") == 3

    def test_dotted_single_token(self):
        # "Text.With.Dots.Between" is one whitespace token, len>15 →
        # continuous path; t→W, s→D... wait lowercase→uppercase pairs are
        # separated by '.', so no adjacent transitions; alnum=19 → 19//5=3
        assert count_words_in_text("Text.With.Dots.Between") == 3

    def test_punctuation_only_long(self):
        # >15 bytes → continuous path → zero alnum → 0 (enhanced.rs:1725)
        assert count_words_in_text("!@#$%^&*()_+-=[]{}|;':\",./<>?") == 0

    def test_punctuation_only_short_counts_as_token(self):
        # ≤15 bytes never enters the continuous path: stays 1 whitespace
        # token — faithful to the reference (the W3 content-ratio gate is
        # what rejects such docs, not the word counter).
        assert count_words_in_text("!@#$%^&*()") == 1

    def test_empty(self):
        assert count_words_in_text("") == 0

    def test_whitespace_only(self):
        assert count_words_in_text("   \n\t  ") == 0

    def test_short_single_word_not_continuous(self):
        # ≤15 bytes: stays a single whitespace word
        assert count_words_in_text("hello") == 1

    def test_lone_surrogate_counts_like_other_byte_lengths(self):
        # a lone surrogate has no strict UTF-8 form; the continuous-text
        # test measures bytes as every other byte length in the kernel does
        # (surrogatepass), and the document completes
        text = "abcdefghijklmnopq\ud800"
        assert count_words_in_text(text) == 3  # 17 alnum // 5
        out = extract_document([{"kind": "text", "text": text, "media_ref": "", "offset": 0}])
        assert (out["status"], out["word_count"]) == ("completed", 3)

    def test_regression_cases_positive(self):
        # integration_pdf_word_count_tests.rs:309-341 — all must be > 0
        for s in [
            "SOCLogixNDAConfidentialityAgreement",
            "ABC123DEF456",
            "ThisIsATestDocumentWithCamelCase",
            "THISISALLCAPSTEXT",
            "Text.With.Dots.Between",
        ]:
            assert count_words_safely_enhanced(s) > 0, s


class TestCountWordsOptimized:
    def test_punct_does_not_break_word(self):
        assert count_words_optimized("ab,cd ef") == 2

    def test_pure_punct_zero(self):
        assert count_words_optimized("!!! ???") == 0

    def test_trailing_word(self):
        assert count_words_optimized("one two") == 2


class TestSafeCounters:
    def test_small_text_same_as_full(self):
        s = "one two three"
        assert count_words_safely_enhanced(s) == 3
        assert count_words_safely_office(s) == 3

    def test_enhanced_large_extrapolates(self):
        # 2 MB of "word " → ~400k words; single 100KB sample → 20000 words
        # extrapolated by len/100_000
        s = "word " * 400_000  # 2_000_000 bytes
        est = count_words_safely_enhanced(s)
        assert est == int(20_000 * (2_000_000 / 100_000))

    def test_office_large_three_samples(self):
        s = "word " * 400_000
        est = count_words_safely_office(s)
        # 3 samples of 100 KB, each extrapolated by n/(e-s)/3; unaligned
        # sample edges split tokens so the estimate is ±a few words of the
        # true 400k (exact value pinned for regression: deterministic).
        assert est == 400_013
        assert abs(est - 400_000) / 400_000 < 0.001

    def test_office_medium_uses_optimized(self):
        s = "ab " * 20_000  # 60 KB
        assert count_words_safely_office(s) == 20_000

    def test_cap_10m(self):
        s = ("a " * 600_000) + ("a" * 1)  # >1MB, dense words
        assert count_words_safely_office(s) <= 10_000_000
