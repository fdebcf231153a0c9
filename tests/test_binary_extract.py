"""Binary-file extraction operator: kernel dispatch + distributed run."""

import pytest
from fixtures import build_docx, build_xlsx, p

from readur_spark.kernels.minipdf import build_pdf
from readur_spark.operators.binary_extract import (
    BINARY_EXTRACTED_SCHEMA,
    dead_letters,
    extract_files,
    extract_one,
)


class TestExtractOne:
    def test_plain_text(self):
        r = extract_one("d1", "notes.txt", b"hello world from a text file")
        assert r["status"] == "completed"
        assert r["mime_type"] == "text/plain"
        assert r["spans"][0]["text"] == "hello world from a text file"
        assert r["confidence"] == 100.0
        assert r["word_count"] == 6

    def test_html_interleaved(self):
        html = (
            b"<html><body><article><p>A long paragraph of genuine page "
            b"content kept by the classifier.</p>"
            b"<img src='media://x'>"
            b"<p>Another long paragraph of genuine content for keeping "
            b"here.</p></article></body></html>"
        )
        r = extract_one("d2", "page.html", html)
        assert r["status"] == "completed"
        assert [s["kind"] for s in r["spans"]] == ["text", "media", "text"]

    def test_pdf(self):
        pdf = build_pdf([[(72, 720, "pdf text layer with enough words to pass the gate")]])
        r = extract_one("d3", "doc.pdf", pdf)
        assert r["status"] == "completed"
        assert r["confidence"] == 95.0

    def test_docx(self):
        r = extract_one("d4", "report.docx", build_docx(p("DocxContent here")))
        assert r["status"] == "completed"
        assert "Docx Content here" == r["spans"][0]["text"]  # camelCase split

    def test_xlsx(self):
        r = extract_one("d5", "sheet.xlsx", build_xlsx(["CellText"], [("s", "0")]))
        assert r["status"] == "completed"
        assert r["spans"][0]["text"].strip() == "CellText"

    def test_pptx_rejected(self):
        import io
        import zipfile

        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as z:
            z.writestr("ppt/slides/slide1.xml", "<x/>")
        r = extract_one("d6", "deck.pptx", buf.getvalue())
        assert r["status"] == "failed"
        assert r["failure_reason"] == "unsupported_format"

    def test_image_stubbed(self):
        r = extract_one("d7", "scan.png", b"\x89PNG\r\n\x1a\n0000")
        assert r["status"] == "failed"
        assert r["failure_reason"] == "unsupported_format"
        assert "tesseract" in r["error_message"]

    def test_unknown_binary(self):
        r = extract_one("d8", "blob.bin", b"\x00\x01\x02\x03")
        assert r["status"] == "failed"
        # "Unsupported file type" classifies as "other": the reference's
        # classifier is case-sensitive (queue.rs:1294 matches lowercase
        # "unsupported") and its own message is capitalized (enhanced.rs:1692)
        assert r["failure_reason"] == "other"

    def test_corrupted_docx_classified(self):
        r = extract_one("d9", "broken.docx", b"PK\x03\x04 then garbage not a zip")
        assert r["status"] == "failed"
        assert r["failure_reason"] == "file_corrupted"
        assert r["failure_stage"] == "ocr"

    def test_punct_only_text_fails_validation(self):
        r = extract_one("d10", "junk.txt", b"!@#$%^&*()_+-=[]{}|;:<>?/....!!!")
        assert r["status"] == "failed"
        assert r["failure_stage"] == "validation"
        # W3's "No words detected in OCR output" message matches neither
        # "No extractable text" nor "0 words" in the reference classifier
        # (queue.rs:1297) → "other", faithfully
        assert r["failure_reason"] == "other"


@pytest.fixture(scope="module")
def files_df(spark):
    rows = [
        ("f1", "a.txt", bytearray(b"plain text file with several words"), None),
        ("f2", "b.pdf", bytearray(build_pdf([[(72, 720, "pdf words here enough to pass quality")]])), None),
        ("f3", "c.docx", bytearray(build_docx(p("Docx paragraph content"))), None),
        ("f4", "d.xlsx", bytearray(build_xlsx(["Sheet cell text"], [("s", "0")])), None),
        ("f5", "e.png", bytearray(b"\x89PNG\r\n\x1a\n000"), None),
        (
            "f6",
            "f.html",
            bytearray(
                b"<body><p>A long enough html paragraph of real page content "
                b"to keep today.</p></body>"
            ),
            None,
        ),
    ]
    return spark.createDataFrame(
        rows, "doc_id string, filename string, content binary, server_mime string"
    )


def test_distributed_extraction(spark, files_df):
    out = extract_files(files_df)
    assert out.schema == BINARY_EXTRACTED_SCHEMA
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows["f1"]["status"] == "completed"
    assert rows["f2"]["status"] == "completed" and rows["f2"]["mime_type"] == "application/pdf"
    assert rows["f3"]["status"] == "completed"
    assert rows["f4"]["status"] == "completed"
    assert rows["f5"]["status"] == "failed"
    assert rows["f6"]["status"] == "completed"

    ok, failed = dead_letters(out)
    assert ok.count() == 5
    f = failed.collect()
    assert len(f) == 1 and f[0]["doc_id"] == "f5"


class TestEngineBackedDispatch:
    """With a pluggable engine, image MIMEs run the full OCR ladder and
    PDFs take the engine-backed per-page path — the extract_files surface
    a reference user actually hits for scanned input."""

    def test_png_through_extract_one_completes(self):
        import numpy as np

        from readur_spark.kernels.ocr_engine import FakeOcrEngine
        from readur_spark.kernels.pixels import png_encode
        from readur_spark.operators.binary_extract import extract_one

        rng = np.random.RandomState(3)
        png = png_encode(rng.randint(160, 200, size=(350, 320)).astype(np.uint8))
        r = extract_one("d1", "scan.png", png, engine=FakeOcrEngine())
        assert r["mime_type"] == "image/png"
        assert r["status"] == "completed"
        assert r["word_count"] > 0
        assert "Image OCR" in r["preprocessing_applied"]

    def test_dim_png_fails_with_ladder_reason(self):
        import numpy as np

        from readur_spark.kernels.ocr_engine import FakeOcrEngine
        from readur_spark.kernels.pixels import png_encode
        from readur_spark.operators.binary_extract import extract_one

        rng = np.random.RandomState(4)
        png = png_encode(rng.randint(10, 40, size=(350, 320)).astype(np.uint8))
        r = extract_one("d2", "dark.png", png, engine=FakeOcrEngine())
        assert r["status"] == "failed"
        assert r["failure_reason"] == "other"  # ladder-classified reason carried through

    def test_no_engine_keeps_reference_degrade(self):
        from readur_spark.operators.binary_extract import extract_one

        r = extract_one("d3", "scan.png", b"\x89PNG\r\n\x1a\n junk")
        assert r["status"] == "failed"
        assert r["failure_reason"] == "unsupported_format"

    def test_pdf_with_images_uses_engine_page_path(self, spark):
        from readur_spark.kernels.minipdf import build_pdf
        from readur_spark.kernels.ocr_engine import FakeOcrEngine
        from readur_spark.operators.binary_extract import extract_files

        pdf = build_pdf([[(72.0, 720.0, "scanned page")]], with_image=True)
        files = spark.createDataFrame(
            [{"doc_id": "p", "filename": "scan.pdf", "content": pdf}],
            "doc_id string, filename string, content binary",
        )
        out = extract_files(files, engine=FakeOcrEngine()).collect()[0]
        assert out["status"] in ("completed", "failed")
        if out["status"] == "completed":
            assert any("page-to-image OCR" in p for p in out["preprocessing_applied"])


class TestLegacyDocNative:
    def test_simple_doc_extracts(self):
        from readur_spark.kernels.minidoc import build_doc
        from readur_spark.operators.binary_extract import extract_one

        doc = build_doc("Quarterly report text.\nWith two paragraphs of words.")
        r = extract_one("d", "report.doc", doc)
        assert r["mime_type"] == "application/msword"
        assert r["status"] == "completed"
        assert r["confidence"] == 90.0  # external-tool-rung confidence
        assert "Quarterly report text." in r["spans"][0]["text"]
        assert r["preprocessing_applied"] == ["DOC native extraction (minidoc)"]

    def test_utf16_doc_extracts(self):
        from readur_spark.kernels.minidoc import build_doc
        from readur_spark.operators.binary_extract import extract_one

        r = extract_one("d", "u.doc", build_doc("Unicode † dagger words here", extchar=True))
        assert r["status"] == "completed"
        assert "†" in r["spans"][0]["text"]

    def test_complex_doc_degrades_with_guidance(self):
        from readur_spark.kernels.minidoc import build_doc
        from readur_spark.operators.binary_extract import extract_one

        r = extract_one("d", "c.doc", build_doc("x", complex_flag=True))
        assert r["status"] == "failed"
        assert "convert" in r["error_message"].lower()

    def test_encrypted_doc_degrades(self):
        from readur_spark.kernels.minidoc import build_doc
        from readur_spark.operators.binary_extract import extract_one

        # set the FIB's fEncrypted bit (0x0100 of the flags word at offset
        # 10 of the WordDocument stream, which starts at byte 512*3)
        doc = bytearray(build_doc("secret words"))
        doc[512 * 3 + 11] |= 0x01
        r = extract_one("d", "e.doc", bytes(doc))
        assert r["status"] == "failed"
        assert "encrypted" in r["error_message"].lower()

    def test_non_word_ole2_degrades(self):
        from readur_spark.kernels.minidoc import build_doc
        from readur_spark.operators.binary_extract import extract_one

        # valid OLE2 but the stream isn't a Word FIB — flip the magic
        doc = bytearray(build_doc("hello words"))
        # WordDocument stream starts at sector 2 → byte 512*3
        doc[512 * 3] = 0x00
        r = extract_one("d", "fake.doc", bytes(doc))
        assert r["status"] == "failed"
