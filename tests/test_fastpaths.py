"""Property tests: the fast paths are semantically identical to the naive
reference forms they replaced."""

import random
import re

from hypothesis import example, given, settings
from hypothesis import strategies as st

from readur_spark.kernels.util import count_alnum
from readur_spark.kernels.wordcount import count_words_optimized

text_st = st.text(
    alphabet=st.characters(codec="utf-8"),
    max_size=300,
)
#: every character class the clean chain and the hyphen repair branch on:
#: lower, upper, non-ASCII word char, underscore, digit, space, hyphen,
#: newline, tab
branch_st = st.text(alphabet="aZé_1 -\n\t", max_size=60)


@given(text_st)
@settings(max_examples=300, deadline=None)
def test_count_alnum_matches_isalnum(s):
    assert count_alnum(s) == sum(1 for c in s if c.isalnum())


def _reference_state_machine(text: str) -> int:
    # the literal Rust port (xml_extractor.rs:1267-1290)
    count = 0
    in_word = False
    for ch in text:
        if ch.isspace():
            if in_word:
                count += 1
                in_word = False
        elif ch.isalnum():
            in_word = True
    if in_word:
        count += 1
    return count


@given(text_st)
@settings(max_examples=300, deadline=None)
def test_optimized_counter_matches_state_machine(s):
    assert count_words_optimized(s) == _reference_state_machine(s)


def test_alnum_regex_class_equivalence_over_bmp():
    """[^\\W_] (used for token presence tests) agrees with str.isalnum over
    the first 0x2500 codepoints plus CJK/digit samples."""
    alnum_re = re.compile(r"[^\W_]")
    probes = list(range(32, 0x2500)) + [0x4E00, 0x0663, 0x00B2, 0x00BE, 0x2162]
    for cp in probes:
        c = chr(cp)
        assert c.isalnum() == bool(alnum_re.fullmatch(c)), hex(cp)


def _clean_chain_reference(text: str) -> str:
    # the literal 6-pass chain with no pre-scan shortcut
    import re as _re

    c = _re.sub(r"([a-z])([A-Z])", r"\1 \2", text)
    c = _re.sub(r" {3,}", "  ", c)
    c = _re.sub(r"\n{3,}", "\n\n", c)
    c = _re.sub(r" +\n", "\n", c)
    c = _re.sub(r"\n +", "\n", c)
    c = _re.sub(r"[ \t]+", " ", c)
    return c.strip()


@given(text_st, branch_st)
@settings(max_examples=300, deadline=None)
@example("", "aZ")
@example("", "a\tb")
@example("", "a  b")
@example("", "a\n\n\nb")
@example("", "a \nb")
@example("", "a\n b")
def test_clean_shortcut_matches_chain(s, b):
    from readur_spark.kernels.textnorm import clean_extracted_text

    assert clean_extracted_text(s) == _clean_chain_reference(s)
    assert clean_extracted_text(b) == _clean_chain_reference(b)


@given(branch_st)
@settings(max_examples=300, deadline=None)
@example("extrac-\ntion")
@example("a-\n")
def test_hyphen_shortcut_matches_sub(s):
    from readur_spark.kernels.textnorm import _HYPHEN_LINEBREAK, repair_hyphenation

    assert repair_hyphenation(s) == _HYPHEN_LINEBREAK.sub(r"\1\2", s)


def test_split_join_matches_ws_collapse_on_every_code_point():
    r"""The HTML block collapse ``" ".join(raw.split())`` equals
    ``re.sub(r"\s+", " ", raw).strip()``: both agree on which code points
    are whitespace, inside a string and at either end."""
    ws = re.compile(r"\s+")
    for cp in range(0x110000):
        s = "a " + chr(cp) + " b" + chr(cp)
        assert " ".join(s.split()) == ws.sub(" ", s).strip(), hex(cp)


def test_fuzz_against_corpus_like_text():
    rng = random.Random(7)
    alphabet = "abc XYZ 012 .!?\n\t_²½測試naïve\0-"
    for _ in range(500):
        s = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 120)))
        assert count_alnum(s) == sum(1 for c in s if c.isalnum())
        assert count_words_optimized(s) == _reference_state_machine(s)
