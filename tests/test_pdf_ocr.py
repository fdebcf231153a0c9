"""P6 page rendering + P7 per-page OCR assembly with the pluggable engine
(enhanced.rs:1402-1508 semantics)."""

import numpy as np
import pytest

from readur_spark.kernels import pdfextract
from readur_spark.kernels.minipdf import (
    build_pdf,
    pdf_media_boxes,
    render_pdf_pages,
)
from readur_spark.kernels.ocr_engine import FakeOcrEngine, OcrEngineError
from readur_spark.kernels.pdfextract import PAGE_BREAK, extract_pdf_with_engine
from readur_spark.kernels.pixels import OcrSettings

THREE_PAGES = build_pdf(
    [
        [(72.0, 720.0, "first page text line"), (72.0, 700.0, "second line")],
        [(72.0, 720.0, "middle page content")],
        [(72.0, 720.0, "final page words")],
    ]
)


# --------------------------------------------------------------------------
# P6: rendering
# --------------------------------------------------------------------------


def test_media_boxes_default_letter():
    assert pdf_media_boxes(THREE_PAGES) == [(612.0, 792.0)] * 3


def test_render_page_count_and_dims():
    pages = render_pdf_pages(THREE_PAGES, dpi=72)
    assert len(pages) == 3
    for img in pages:
        assert img.shape == (792, 612)
        assert img.dtype == np.uint8


def test_render_dpi_scales_raster():
    (img,) = render_pdf_pages(build_pdf([[(10.0, 700.0, "x")]]), dpi=144)
    assert img.shape == (1584, 1224)  # 2x 72-dpi dims


def test_render_ink_at_run_positions():
    pages = render_pdf_pages(THREE_PAGES, dpi=72)
    img = pages[0]
    # PDF y-up: run at x=72, y=720 -> raster baseline row 792-720=72,
    # glyph band rows 65..71 (7 font rows above the baseline), cols from 72
    band = img[65:72, 72 : 72 + 6 * len("first page text line")]
    assert (band == 0).any()
    assert (img[65:72, :60] == 255).all()  # left margin blank
    assert img[400, 300] == 255  # middle of page blank
    # second line at y=700 -> band rows 85..91 also inked
    assert (img[85:92, 72:120] == 0).any()
    # page 2 has only one run (no second line)
    assert (render_pdf_pages(THREE_PAGES, dpi=72)[1][85:92, :] == 255).all()


def test_render_empty_page_blank():
    (img,) = render_pdf_pages(build_pdf([[]]), dpi=72)
    assert img.min() == 255


# --------------------------------------------------------------------------
# P7: per-page OCR assembly
# --------------------------------------------------------------------------


class PageCountingEngine(FakeOcrEngine):
    """Engine returning fixed text/confidence per call, recording calls."""

    def __init__(self, text="page words here", conf=88.0, fail_calls=()):
        super().__init__()
        self.text, self.conf = text, conf
        self.fail_calls = set(fail_calls)
        self.calls = 0

    def recognize(self, img, lang, psm="auto", oem="default"):
        self.calls += 1
        if self.calls in self.fail_calls:
            raise OcrEngineError("synthetic page failure", recoverable=False)
        return self.text, self.conf


def _settings(dpi=36):
    # skip enhancement so each page OCRs once (no preprocessing variance)
    return OcrSettings(
        ocr_skip_enhancement=True, ocr_detect_orientation=False, ocr_dpi=dpi
    )


def test_pdf_ocr_assembles_with_page_breaks():
    eng = PageCountingEngine(conf=90.0)
    res = extract_pdf_with_engine(THREE_PAGES, eng, settings=_settings())
    assert res["error"] is None
    # text-layer path loses to OCR? No: this PDF has no images and a good
    # text layer -> fast path wins at 95.0
    assert res["preprocessing"] == ["PDF text extraction (text-layer)"]
    assert eng.calls == 0


def test_pdf_with_images_goes_through_page_ocr():
    pdf = build_pdf(
        [[(72.0, 720.0, "alpha")], [(72.0, 720.0, "beta")]], with_image=True
    )
    eng = PageCountingEngine(text="ocr words from page", conf=80.0)
    res = extract_pdf_with_engine(pdf, eng, settings=_settings())
    assert res["error"] is None
    assert eng.calls == 2
    assert res["text"].count(PAGE_BREAK.strip()) == 1  # between 2 pages
    assert res["confidence"] == pytest.approx(80.0)
    assert res["preprocessing"] == ["PDF page-to-image OCR (2 pages)"]


def test_failed_page_skipped_and_mean_confidence():
    pdf = build_pdf(
        [[(72.0, 720.0, "a")], [(72.0, 720.0, "b")], [(72.0, 720.0, "c")]],
        with_image=True,
    )

    class VaryingEngine(PageCountingEngine):
        def recognize(self, img, lang, psm="auto", oem="default"):
            self.calls += 1
            if self.calls == 2:
                raise OcrEngineError("synthetic page failure", recoverable=False)
            return "page text ok", 70.0 if self.calls == 1 else 90.0

    eng = VaryingEngine()
    res = extract_pdf_with_engine(pdf, eng, settings=_settings())
    assert res["error"] is None
    assert res["confidence"] == pytest.approx(80.0)  # mean of 70 and 90
    assert res["preprocessing"] == ["PDF page-to-image OCR (2 pages)"]
    assert res["text"].count(PAGE_BREAK.strip()) == 1


def test_all_pages_fail_falls_back_to_text_layer_gate():
    pdf = build_pdf([[(72.0, 720.0, "tiny")]], with_image=True)
    eng = PageCountingEngine(fail_calls={1, 2, 3})
    res = extract_pdf_with_engine(pdf, eng, settings=_settings())
    # OCR produced nothing; text layer 'tiny' has <= 5 words -> salvage or
    # error; either way not a silent success at OCR confidence
    assert res["preprocessing"] != ["PDF page-to-image OCR (1 pages)"]


def test_oversize_pdf_guarded(monkeypatch):
    monkeypatch.setattr(pdfextract, "MAX_PDF_SIZE", 50)
    res = extract_pdf_with_engine(b"%PDF-1.4" + b"0" * 100, FakeOcrEngine())
    assert res["error"] is not None and "too large" in res["error"]


# --------------------------------------------------------------------------
# P6 glyphs + GlyphOcrEngine: the render→read round trip (enhanced.rs:1402-
# 1508 — OCR on rendered pages reproduces the text content, not geometry)
# --------------------------------------------------------------------------


def test_font_glyphs_all_distinct():
    """Template matching requires an injective font: no two printable
    chars may share a (positioned) glyph pattern."""
    from readur_spark.kernels.font5x7 import FONT

    patterns = list(FONT.values())
    assert len(set(patterns)) == len(patterns)


def test_glyph_engine_reads_rendered_page_exactly():
    from readur_spark.kernels.ocr_engine import GlyphOcrEngine

    text_lines = [
        (72.0, 720.0, "the quick brown fox 1234"),
        (72.0, 700.0, "jumps over the lazy dog"),
        (100.0, 680.0, "indented line with offset"),
    ]
    pdf = build_pdf([text_lines])
    for dpi in (72, 150, 300):
        (img,) = render_pdf_pages(pdf, dpi=dpi)
        got, conf = GlyphOcrEngine(dpi=dpi).recognize(img, "eng")
        assert got == "the quick brown fox 1234\njumps over the lazy dog\nindented line with offset"
        assert conf == 100.0


def test_glyph_engine_reads_mixed_case_and_punctuation():
    from readur_spark.kernels.ocr_engine import GlyphOcrEngine

    line = "Hello, World! Sum: 3+4=7 (ok)"
    (img,) = render_pdf_pages(build_pdf([[(72.0, 400.0, line)]]), dpi=150)
    got, conf = GlyphOcrEngine(dpi=150).recognize(img, "eng")
    assert got == line
    assert conf == 100.0


def test_glyph_engine_blank_page():
    from readur_spark.kernels.ocr_engine import GlyphOcrEngine

    (img,) = render_pdf_pages(build_pdf([[]]), dpi=72)
    assert GlyphOcrEngine(dpi=72).recognize(img, "eng") == ("", 0.0)


def test_glyph_engine_confidence_drops_on_degraded_pixels():
    """Noise breaks exact template hits: nearest-Hamming still decodes, but
    confidence drops below 100 — the honest signal for the I2 gate."""
    from readur_spark.kernels.ocr_engine import GlyphOcrEngine

    (img,) = render_pdf_pages(build_pdf([[(72.0, 400.0, "readable words here")]]), dpi=150)
    img = img.copy()
    rng = np.random.RandomState(3)
    # flip a sparse set of pixels inside the text band
    rows = rng.randint(380, 400, size=60)
    cols = rng.randint(140, 300, size=60)
    img[rows, cols] = 255 - img[rows, cols]
    got, conf = GlyphOcrEngine(dpi=150).recognize(img, "eng")
    assert conf < 100.0
    assert "words" in got or "readable" in got  # mostly still legible


def test_pdf_page_ocr_with_glyph_engine_reproduces_text_layer():
    """The full P6→P7 loop: render pages with glyphs, OCR them with the
    reading engine, and get the text layer back verbatim."""
    from readur_spark.kernels.ocr_engine import GlyphOcrEngine

    pdf = build_pdf(
        [
            [(72.0, 720.0, "alpha bravo charlie delta echo foxtrot")],
            [(72.0, 720.0, "golf hotel india juliet kilo lima mike")],
        ],
        with_image=True,  # forces the page-OCR path over the text layer
    )
    res = extract_pdf_with_engine(
        pdf, GlyphOcrEngine(dpi=150), settings=_settings(150)
    )
    assert res["error"] is None
    assert res["preprocessing"] == ["PDF page-to-image OCR (2 pages)"]
    page_texts = [t.strip() for t in res["text"].split(PAGE_BREAK.strip())]
    assert page_texts[0] == "alpha bravo charlie delta echo foxtrot"
    assert page_texts[1] == "golf hotel india juliet kilo lima mike"
    assert res["confidence"] == pytest.approx(100.0)


# --------------------------------------------------------------------------
# P8/P9: ocrmypdf strategy ladder over the real pixel pipeline
# (enhanced.rs:29-48, 1107-1154)
# --------------------------------------------------------------------------


def _darken(img, lo=40, hi=100):
    """Simulate a dark scan: text → lo, background → hi (both under the
    ink threshold, so a plain glyph read sees solid ink)."""
    return (lo + (img.astype(np.float64) / 255.0) * (hi - lo)).astype(np.uint8)


def test_strategy1_deskew_clean_recovers_skewed_page():
    """A skewed, speckled page is unreadable to the plain glyph pass but
    strategy 1 (deskew + clean) restores an exact read."""
    from readur_spark.kernels.ocr_engine import GlyphOcrEngine
    from readur_spark.kernels.pdfextract import ocrmypdf_strategy1_clean

    line = "deskew recovers this line of text"
    (img,) = render_pdf_pages(build_pdf([[(72.0, 400.0, line)]]), dpi=150)
    # skew by 2 deg (vertical shear, like a crooked scan)
    h, w = img.shape
    xs = np.arange(w) - w // 2
    shift = np.round(np.tan(np.radians(2.0)) * xs).astype(int)
    skewed = np.full_like(img, 255)
    for s in np.unique(shift):
        cols = shift == s
        s = int(s)
        if s >= 0:
            skewed[s:, cols] = img[: h - s, cols]
        else:
            skewed[: h + s, cols] = img[-s:, cols]
    eng = GlyphOcrEngine(dpi=150)
    _, conf_plain = eng.recognize(skewed, "eng")
    assert conf_plain < 100.0  # skew breaks exact template hits
    got, conf_s1 = eng.recognize(ocrmypdf_strategy1_clean(skewed), "eng")
    assert (got, conf_s1) == (line, 100.0)  # deskew restores an exact read

    # skew + speckle: the clean gate fires and the page reads better than
    # the raw scan (speckle shreds line/word segmentation)
    rng = np.random.RandomState(5)
    speck = skewed.copy()
    speck[rng.randint(0, h, 1500), rng.randint(0, w, 1500)] = 0
    _, conf_noisy = eng.recognize(speck, "eng")
    got2, conf_s1n = eng.recognize(ocrmypdf_strategy1_clean(speck), "eng")
    assert conf_s1n > conf_noisy
    assert "recovers" in got2


def test_strategy2_background_removal_recovers_dark_scan():
    """Strategy 2 (adaptive-threshold background removal) recovers a page
    whose background sits below the ink threshold — the dark-scan case
    strategy 1's clean pass cannot fix."""
    from readur_spark.kernels.ocr_engine import GlyphOcrEngine
    from readur_spark.kernels.pdfextract import (
        ocrmypdf_strategy1_clean,
        ocrmypdf_strategy2_background,
    )

    line = "background removal rescues this"
    (img,) = render_pdf_pages(build_pdf([[(72.0, 400.0, line)]]), dpi=150)
    dark = _darken(img)
    eng = GlyphOcrEngine(dpi=150)
    _, conf_plain = eng.recognize(dark, "eng")
    assert conf_plain < 60.0  # solid-ink page: nothing matches
    _, conf_s1 = eng.recognize(ocrmypdf_strategy1_clean(dark), "eng")
    assert conf_s1 < 60.0  # cleaning can't lift a dark background
    got, conf_s2 = eng.recognize(ocrmypdf_strategy2_background(dark), "eng")
    assert got == line
    assert conf_s2 == 100.0


def test_ladder_falls_through_to_strategy2(monkeypatch):
    """Integration: plain per-page OCR and strategy 1 fail on a dark scan;
    extract_pdf_with_engine must recover via strategy 2 and label it."""
    from readur_spark.kernels import minipdf, pdfextract
    from readur_spark.kernels.ocr_engine import GlyphOcrEngine

    pdf = build_pdf([[(72.0, 720.0, "strategy two wins this page")]], with_image=True)
    real_render = minipdf.render_pdf_pages
    monkeypatch.setattr(
        minipdf,
        "render_pdf_pages",
        lambda data, dpi=300: [_darken(p) for p in real_render(data, dpi=dpi)],
    )
    res = pdfextract.extract_pdf_with_engine(
        pdf, GlyphOcrEngine(dpi=72), settings=_settings(72)
    )
    assert res["error"] is None
    assert res["preprocessing"] == ["ocrmypdf strategy 2 (remove-background) OCR"]
    assert res["text"].strip() == "strategy two wins this page"
