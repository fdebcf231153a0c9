"""PDF extraction ladder (reference parity over the minipdf parser).

Mirrors readur's strategy ladder (/root/reference/src/ocr/enhanced.rs:
905-1024):

1. size guard (``MAX_PDF_SIZE``, enhanced.rs:910-920);
2. header validation (``%PDF-`` within the first 1 KB, :1854-1871);
3. embedded-image probe (:950-975): a PDF with images goes to the per-page
   OCR path so image content isn't missed;
4. quick text-layer extraction (:1232-1314): accept if >5 words AND the
   quality gate passes (alnum ratio ≥0.30, word density, :1027-1082) —
   confidence 95.0;
5. per-page OCR with the literal ``"\\n\\n--- Page Break ---\\n\\n"``
   assembly (:1441-1508). :func:`extract_pdf_with_engine` is the REAL
   path: pages render through the glyph rasterizer and any pluggable
   engine reads them, with the ocrmypdf strategy ladder (P8/P9,
   enhanced.rs:1107-1154) — strategy 1 deskew+clean, strategy 2
   remove-background — retrying pages the plain pass cannot read.
   :func:`extract_pdf` keeps a deterministic text-layer stand-in
   (``_ocr_page_stub``) for engine-less callers;
6. raw-ASCII salvage (src/ocr/mod.rs:261-298) at confidence 30.0;
7. nothing readable → error classified ``low_ocr_confidence``.
"""

from __future__ import annotations

from readur_spark.kernels.minipdf import (
    ascii_salvage,
    extract_text_layer,
    pdf_has_images,
    pdf_page_count,
)
from readur_spark.kernels.mime import is_valid_pdf
from readur_spark.kernels.quality import pdf_text_quality_sufficient
from readur_spark.kernels.textnorm import remove_null_bytes
from readur_spark.kernels.wordcount import count_words_safely_enhanced

MAX_PDF_SIZE = 50 * 1024 * 1024  # settings.rs:328 default (50 MB)
PAGE_BREAK = "\n\n--- Page Break ---\n\n"  # enhanced.rs:1474

OCR_STUB_CONFIDENCE = 85.0
SALVAGE_CONFIDENCE = 30.0


def _ocr_page_stub(data: bytes, page_text: str) -> str:
    """Deterministic tesseract stand-in: a page 'OCRs' to its text layer.

    CLEARLY A STUB — real deployments replace this with pytesseract over
    ``pdftoppm``-rendered page images (P6/P7, enhanced.rs:1402-1508)."""
    return page_text


def _isolated_ink_fraction(gray) -> float:
    """Fraction of ink pixels with no 8-connected ink neighbor — the
    speckle signature (text strokes are always connected). Drives the
    clean gate in strategy 1."""
    import numpy as np

    ink = gray < 128
    n_ink = int(ink.sum())
    if n_ink == 0:
        return 0.0
    padded = np.pad(ink, 1)
    neigh = np.zeros_like(ink, dtype=np.int16)
    for dy in (-1, 0, 1):
        for dx in (-1, 0, 1):
            if dy == 0 and dx == 0:
                continue
            neigh += padded[1 + dy : 1 + dy + ink.shape[0], 1 + dx : 1 + dx + ink.shape[1]]
    return float((ink & (neigh == 0)).sum()) / n_ink


def ocrmypdf_strategy1_clean(raster):
    """P8: the observable semantics of ocrmypdf ``--deskew --clean``
    (enhanced.rs:29-48, 1107-1130) over the real pixel layer: estimate and
    undo page skew (projection-profile shear), then remove speckle (I12 +
    I16) when the page actually carries it — unpaper likewise skips its
    despeckle passes below the noise floor, and median-filtering a clean
    page only erodes thin glyph strokes."""
    from readur_spark.kernels.pixels import (
        adaptive_noise_removal,
        analyze_quality,
        deskew_shear,
        estimate_skew_angle,
        morphological_open_close,
        neutral_settings,
        to_luma,
    )

    gray = to_luma(raster)
    angle = estimate_skew_angle(gray)
    if abs(angle) >= 0.5:
        gray = deskew_shear(gray, angle)
    if _isolated_ink_fraction(gray) > 0.05:
        stats = analyze_quality(gray)
        gray = adaptive_noise_removal(gray, stats, neutral_settings())
        if stats.noise_level > 0.005:
            gray = morphological_open_close(gray)
    return gray


def ocrmypdf_strategy2_background(raster):
    """P9: the observable semantics of ocrmypdf ``--remove-background``
    (enhanced.rs:29-48, 1131-1154): adaptive-threshold binarization (I13)
    lifts text off a non-white background before re-OCR."""
    from readur_spark.kernels.pixels import (
        adaptive_threshold,
        analyze_quality,
        neutral_settings,
        select_threshold_window,
        to_luma,
    )

    gray = to_luma(raster)
    h, w = gray.shape
    window = select_threshold_window(w, h, analyze_quality(gray), neutral_settings())
    return adaptive_threshold(gray, window // 2)


def _reject(data: bytes) -> str | None:
    """The size guard and header check both ladders run first."""
    if len(data) > MAX_PDF_SIZE:
        return (
            f"PDF file too large: {len(data) / (1024.0 * 1024.0):.1f} MB "
            f"(max: {MAX_PDF_SIZE / (1024.0 * 1024.0):.1f} MB)"
        )
    if not is_valid_pdf(data[:1024]):
        return "Invalid PDF file: Missing or corrupted PDF header"
    return None


def extract_pdf(data: bytes) -> dict:
    """Run the ladder. Returns {text, confidence, preprocessing, error,
    page_count}; ``error`` is None on success."""
    result = {
        "text": "",
        "confidence": 0.0,
        "preprocessing": [],
        "error": None,
        "page_count": 0,
    }
    result["error"] = _reject(data)
    if result["error"] is not None:
        return result

    pages = extract_text_layer(data)
    result["page_count"] = pdf_page_count(data)
    has_images = pdf_has_images(data)

    if has_images:
        ocr_pages = [_ocr_page_stub(data, p) for p in pages]
        assembled = PAGE_BREAK.join(ocr_pages).strip()
        if count_words_safely_enhanced(assembled) > 0:
            result["text"] = remove_null_bytes(assembled)
            result["confidence"] = OCR_STUB_CONFIDENCE
            result["preprocessing"] = ["PDF page OCR (stub)"]
            return result

    text = "\f".join(pages).strip()
    wc_ws = len(text.split())
    if wc_ws > 5 and pdf_text_quality_sufficient(
        text, count_words_safely_enhanced(text), len(data)
    ):
        result["text"] = remove_null_bytes(text)
        result["confidence"] = 95.0
        result["preprocessing"] = ["PDF text extraction (text-layer)"]
        return result

    if not has_images and text:
        # the reference's "pdftotext insufficient → OCR" branch; the stub
        # reuses the text layer page-wise
        ocr_pages = [_ocr_page_stub(data, p) for p in pages]
        assembled = PAGE_BREAK.join(ocr_pages).strip()
        if count_words_safely_enhanced(assembled) > 0:
            result["text"] = remove_null_bytes(assembled)
            result["confidence"] = OCR_STUB_CONFIDENCE
            result["preprocessing"] = ["PDF page OCR (stub)"]
            return result

    salvage = ascii_salvage(data)
    # drop PDF structural tokens the raw scan inevitably picks up
    if salvage:
        result["text"] = remove_null_bytes(salvage)
        result["confidence"] = SALVAGE_CONFIDENCE
        result["preprocessing"] = ["Raw ASCII salvage"]
        return result

    result["error"] = "No extractable text found in PDF (0 words)"
    return result


def extract_pdf_with_engine(
    data: bytes,
    engine,
    settings=None,
) -> dict:
    """The ladder with a REAL per-page OCR path (P6+P7): pages rendered to
    rasters (minipdf.render_pdf_pages — the pdftoppm stage), each raster
    pushed through the full image-OCR ladder, assembled with the faithful
    semantics of enhanced.rs:1441-1508:

    * the literal ``"\\n\\n--- Page Break ---\\n\\n"`` only between
      non-empty page texts;
    * failed pages are skipped (warn-and-continue), ``successful_pages``
      counts survivors;
    * confidence = mean over successful pages; word_count = sum;
    * zero successful pages → error (classified upstream);
    * preprocessing = ["PDF page-to-image OCR (N pages)"].

    The text-layer fast path and its quality gate run FIRST exactly like
    :func:`extract_pdf`; OCR engages when the PDF has images or the text
    layer is insufficient (enhanced.rs:905-1024). Pages render at
    ``settings.ocr_dpi``."""
    from readur_spark.kernels.minipdf import render_pdf_pages
    from readur_spark.kernels.ocr_engine import ocr_image_array
    from readur_spark.kernels.pixels import OcrSettings

    settings = settings or OcrSettings()

    result = {
        "text": "",
        "confidence": 0.0,
        "preprocessing": [],
        "error": None,
        "page_count": 0,
    }
    result["error"] = _reject(data)
    if result["error"] is not None:
        return result

    pages = extract_text_layer(data)
    result["page_count"] = pdf_page_count(data)
    has_images = pdf_has_images(data)

    def ocr_all_pages(transform=None, label=None) -> dict | None:
        rasters = render_pdf_pages(data, dpi=settings.ocr_dpi)
        all_text = ""
        total_conf = 0.0
        total_words = 0
        ok_pages = 0
        for raster in rasters:
            if transform is not None:
                raster = transform(raster)
            page_res = ocr_image_array(raster, engine, settings=settings)
            if page_res["status"] != "completed":
                continue  # warn-and-skip (enhanced.rs:1480-1483)
            if all_text and page_res["text"]:
                all_text += PAGE_BREAK
            all_text += page_res["text"]
            total_conf += page_res["confidence"]
            total_words += page_res["word_count"]
            ok_pages += 1
        if ok_pages == 0:
            return None
        return {
            "text": remove_null_bytes(all_text),
            "confidence": total_conf / ok_pages,
            "preprocessing": [label or f"PDF page-to-image OCR ({ok_pages} pages)"],
            "words": total_words,
        }

    def ocr_with_strategies() -> dict | None:
        """The ocrmypdf strategy ladder, order preserved from
        enhanced.rs:1107-1154: plain per-page OCR first, then strategy 1
        (--deskew --clean ≙ shear deskew + I12 noise removal + I16
        morphology over the page rasters), then strategy 2
        (--remove-background ≙ I13 adaptive threshold binarization)."""
        ocr = ocr_all_pages()
        if ocr is not None:
            return ocr
        ocr = ocr_all_pages(
            transform=ocrmypdf_strategy1_clean,
            label="ocrmypdf strategy 1 (deskew+clean) OCR",
        )
        if ocr is not None:
            return ocr
        return ocr_all_pages(
            transform=ocrmypdf_strategy2_background,
            label="ocrmypdf strategy 2 (remove-background) OCR",
        )

    if has_images:
        ocr = ocr_with_strategies()
        if ocr is not None:
            result.update({k: ocr[k] for k in ("text", "confidence", "preprocessing")})
            return result

    text = "\f".join(pages).strip()
    wc_ws = len(text.split())
    if wc_ws > 5 and pdf_text_quality_sufficient(
        text, count_words_safely_enhanced(text), len(data)
    ):
        result["text"] = remove_null_bytes(text)
        result["confidence"] = 95.0
        result["preprocessing"] = ["PDF text extraction (text-layer)"]
        return result

    if not has_images:
        ocr = ocr_with_strategies()
        if ocr is not None:
            result.update({k: ocr[k] for k in ("text", "confidence", "preprocessing")})
            return result

    salvage = ascii_salvage(data)
    if salvage:
        result["text"] = remove_null_bytes(salvage)
        result["confidence"] = SALVAGE_CONFIDENCE
        result["preprocessing"] = ["Raw ASCII salvage"]
        return result

    result["error"] = "No extractable text found in PDF (0 words)"
    return result
