"""MIME detection (M1–M5) and PDF ladder (P1–P11) tests."""

from fixtures import build_docx, build_xlsx, p

from readur_spark.kernels import pdfextract
from readur_spark.kernels.mime import (
    are_compatible,
    detect_extension,
    detect_magic,
    detect_mime,
    is_trusted_server_type,
    is_valid_pdf,
)
from readur_spark.kernels.minipdf import build_pdf, extract_text_layer, pdf_page_count
from readur_spark.kernels.pdfextract import PAGE_BREAK, extract_pdf


class TestMime:
    def test_magic_pdf(self):
        assert detect_magic(b"%PDF-1.4 rest") == "application/pdf"

    def test_magic_png_jpeg(self):
        assert detect_magic(b"\x89PNG\r\n\x1a\nxxxx") == "image/png"
        assert detect_magic(b"\xff\xd8\xff\xe0") == "image/jpeg"

    def test_ooxml_refinement(self):
        assert (
            detect_magic(build_docx(p("x")))
            == "application/vnd.openxmlformats-officedocument.wordprocessingml.document"
        )
        assert (
            detect_magic(build_xlsx(["a"], [("s", "0")]))
            == "application/vnd.openxmlformats-officedocument.spreadsheetml.sheet"
        )

    def test_content_overrides_server(self):
        # mime_detection.rs:218-223 — trust the bytes
        assert detect_mime(b"%PDF-1.4", "f.txt", "text/plain") == "application/pdf"

    def test_untrusted_server_falls_to_extension(self):
        assert detect_mime(b"no magic here", "f.txt", "application/octet-stream") == "text/plain"

    def test_trusted_server_used(self):
        assert detect_mime(b"no magic here", "noext", "text/plain") == "text/plain"
        assert not is_trusted_server_type("application/octet-stream")

    def test_extension_fallback(self):
        assert detect_extension("report.PDF") == "application/pdf"
        assert detect_mime(b"plain words", "notes.md", None) == "text/markdown"

    def test_octet_stream_last_resort(self):
        assert detect_mime(b"\x00\x01", "mystery.bin", None) == "application/octet-stream"

    def test_compatibility(self):
        # mime_detection.rs:314-332
        assert are_compatible("image/jpeg", "image/jpg")
        assert are_compatible("image/tiff", "image/tif")
        assert are_compatible("image/png", "image/webp")  # same primary
        assert not are_compatible("image/png", "text/plain")

    def test_pdf_header_scan(self):
        # enhanced.rs:1854-1871 — tolerates leading nulls
        assert is_valid_pdf(b"\x00\x00\x00%PDF-1.7")
        assert not is_valid_pdf(b"GIF89a")


class TestPdfLadder:
    def test_text_layer_accepted(self):
        pdf = build_pdf(
            [[(72, 720, "This is a perfectly normal text layer with many words here")]]
        )
        res = extract_pdf(pdf)
        assert res["error"] is None
        assert res["confidence"] == 95.0
        assert "normal text layer" in res["text"]
        assert res["preprocessing"] == ["PDF text extraction (text-layer)"]

    def test_multipage_reading_order(self):
        pdf = build_pdf(
            [
                [(72, 700, "second line of page one"), (72, 720, "first line of page one")],
                [(72, 720, "page two starts here with words")],
            ]
        )
        res = extract_pdf(pdf)
        assert res["error"] is None
        assert res["text"].index("first line") < res["text"].index("second line")
        assert "\f" in res["text"]
        assert res["page_count"] == 2

    def test_image_pdf_goes_to_ocr_stub(self):
        pdf = build_pdf(
            [[(72, 720, "caption text alongside an embedded image here ok")]],
            with_image=True,
        )
        res = extract_pdf(pdf)
        assert res["error"] is None
        assert res["confidence"] == 85.0
        assert res["preprocessing"] == ["PDF page OCR (stub)"]

    def test_page_break_separator(self):
        pdf = build_pdf(
            [[(72, 720, "page one words here now")], [(72, 720, "page two words here now")]],
            with_image=True,
        )
        res = extract_pdf(pdf)
        assert PAGE_BREAK in res["text"]

    def test_invalid_header(self):
        res = extract_pdf(b"not a pdf at all, no header anywhere")
        assert res["error"] is not None and "Invalid PDF" in res["error"]

    def test_size_guard(self, monkeypatch):
        monkeypatch.setattr(pdfextract, "MAX_PDF_SIZE", 50)
        res = extract_pdf(b"%PDF-" + b"x" * 100)
        assert "too large" in res["error"]

    def test_sparse_pdf_falls_to_salvage(self):
        # no text layer and no images → neither the quick gate nor the
        # page-OCR stub has words, so the raw-ASCII salvage runs
        res = extract_pdf(build_pdf([[]]))
        assert res["error"] is None
        assert res["preprocessing"] == ["Raw ASCII salvage"]
        assert res["confidence"] == 30.0

    def test_compressed_stream(self):
        pdf = build_pdf(
            [[(72, 720, "compressed stream text with plenty of words in it")]],
            compress=True,
        )
        res = extract_pdf(pdf)
        assert res["error"] is None
        assert "compressed stream text" in res["text"]


class TestMiniPdfParser:
    def test_escapes(self):
        pdf = build_pdf([[(72, 720, "parens (nested) and \\ backslash")]])
        pages = extract_text_layer(pdf)
        assert pages[0] == "parens (nested) and \\ backslash"

    def test_page_count_excludes_pages_node(self):
        pdf = build_pdf([[(72, 720, "one")], [(72, 720, "two")], [(72, 720, "three")]])
        assert pdf_page_count(pdf) == 3
