"""Binary-file extraction operator: (doc_id, filename, content) → spans.

The Spark form of readur's MIME-dispatch extraction
(``src/ocr/enhanced.rs:1615-1692``): ``extract_one`` is the
per-file kernel and ``extract_files`` runs it through
``operators.extract.map_documents``, the one Arrow-batched Python
boundary; per file the ladder is

    detect_mime (magic bytes ▸ trusted server type ▸ extension)
    ├── text/plain & friends → O5 plain-text read (null strip, 10 MB
    │       truncation), confidence 100
    ├── text/html            → main-content extraction (north rule):
    │       interleaved text+media spans
    ├── application/pdf      → PDF ladder (kernels.pdfextract)
    ├── DOCX / XLSX          → ZIP+XML extraction with bomb guards
    ├── PPTX / legacy XLS    → rejected with guidance (xml_extractor.rs:
    │       1155-1166, :670-677)
    ├── legacy DOC (OLE2)    → external-tool ladder unavailable here →
    │       unsupported (the reference also degrades when
    │       antiword/catdoc/wvText are missing, xml_extractor.rs:1069-1152)
    ├── image/*              → image-OCR ladder when an ``engine`` is
    │       given; otherwise unsupported_format failure with clear message
    └── anything else        → "Unsupported file type" (enhanced.rs:1692)

Every accepted result passes the document quality gate (W3) before being
marked completed; failures become dead-letter rows with the reference's
failure classifier (queue.rs:1282-1304). Use ``dead_letters()`` to split
the output into the results table and the failed_documents table (S8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from readur_spark.kernels import mime as mimek
from readur_spark.kernels.htmlmain import extract_main_content
from readur_spark.kernels.office import extract_docx, extract_xlsx
from readur_spark.kernels.pdfextract import extract_pdf
from readur_spark.kernels.quality import classify_ocr_error, validate_ocr_quality
from readur_spark.kernels.textnorm import plain_text_read
from readur_spark.kernels.wordcount import (
    count_words_safely_enhanced,
    count_words_safely_office,
)
from readur_spark.operators.extract import SPANS_TYPE, map_documents

BINARY_EXTRACTED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("filename", T.StringType(), True),
        T.StructField("mime_type", T.StringType(), True),
        T.StructField("spans", SPANS_TYPE, True),
        T.StructField("confidence", T.FloatType(), True),
        T.StructField("word_count", T.IntegerType(), True),
        T.StructField("status", T.StringType(), False),
        T.StructField("failure_reason", T.StringType(), True),
        T.StructField("failure_stage", T.StringType(), True),
        T.StructField("error_message", T.StringType(), True),
        T.StructField("preprocessing_applied", T.ArrayType(T.StringType()), True),
        T.StructField("processing_time_ms", T.LongType(), True),
    ]
)

_TEXT_MIMES = {
    "text/plain",
    "text/markdown",
    "text/csv",
    "application/json",
    "application/xml",
}


def _text_spans(text: str) -> list[dict]:
    return [{"kind": "text", "text": text, "media_ref": "", "order": 0}]


def extract_one(doc_id: str, filename: str, content: bytes, server_mime: str | None = None,
                engine=None, ocr_settings=None) -> dict:
    """Extract one file (pure kernel — unit-testable without Spark).

    ``engine``: optional pluggable OCR engine (kernels/ocr_engine). When
    provided, image MIMEs run the full image-OCR ladder (decode →
    preprocess → OCR → gates) and PDFs use the engine-backed per-page path
    (P6/P7) instead of the text-layer stand-in. When None, behavior matches
    the reference built without the ocr feature: images degrade with a
    clear unsupported message."""
    mime = mimek.detect_mime(content or b"", filename or "", server_mime)
    spans: list[dict] = []
    confidence = 0.0
    word_count = 0
    prep: list[str] = []
    error: str | None = None
    reason_override: str | None = None
    stage = "ocr"

    if mime in _TEXT_MIMES:
        try:
            decoded = (content or b"").decode("utf-8", errors="replace")
        except Exception as e:  # pragma: no cover — decode(replace) is total
            decoded, error = "", f"corrupted: {e}"
        if error is None:
            text, error = plain_text_read(decoded)
            if error is None:
                spans = _text_spans(text)
                confidence = 100.0
                word_count = count_words_safely_enhanced(text)
                prep = ["Plain text read"]
    elif mime == "text/html":
        decoded = (content or b"").decode("utf-8", errors="replace")
        items = extract_main_content(decoded)
        order = 0
        texts = []
        for it in items:
            spans.append({**it, "order": order})
            order += 1
            if it["kind"] == "text":
                texts.append(it["text"])
        confidence = 100.0
        word_count = count_words_safely_office("\n\n".join(texts))
        prep = ["HTML main-content extraction"]
        if not spans:
            error = "No extractable text found in document (0 words)"
    elif mime == "application/pdf":
        if engine is not None:
            from readur_spark.kernels.pdfextract import extract_pdf_with_engine

            res = extract_pdf_with_engine(content or b"", engine, settings=ocr_settings)
        else:
            res = extract_pdf(content or b"")
        error = res["error"]
        if error is None:
            spans = _text_spans(res["text"])
            confidence = res["confidence"]
            word_count = count_words_safely_enhanced(res["text"])
            prep = res["preprocessing"]
    elif mime == mimek.DOCX_MIME:
        text, error = extract_docx(content or b"")
        if error is None:
            spans = _text_spans(text)
            confidence = 100.0
            word_count = count_words_safely_office(text)
            prep = ["DOCX XML extraction"]
    elif mime == mimek.XLSX_MIME:
        text, error = extract_xlsx(content or b"")
        if error is None:
            spans = _text_spans(text)
            confidence = 100.0
            word_count = count_words_safely_office(text)
            prep = ["XLSX XML extraction"]
    elif mime == mimek.PPTX_MIME:
        error = "PPTX extraction is unsupported - convert to PDF for processing"
    elif mime == "application/vnd.ms-excel":
        error = "Legacy XLS format is unsupported - convert to XLSX"
    elif mime == "application/msword":
        # O3 ladder (xml_extractor.rs:1069-1152): the reference tries
        # antiword → catdoc → wvText; none exist in this container, so the
        # first rung is the in-repo native extractor (non-complex files);
        # its failure degrades with the same convert-to-DOCX guidance
        from readur_spark.kernels.minidoc import extract_doc
        from readur_spark.kernels.textnorm import clean_extracted_text, remove_null_bytes

        doc_text, doc_err = extract_doc(content or b"")
        if doc_err is None:
            text = remove_null_bytes(clean_extracted_text(doc_text))
            if text.strip():
                spans = _text_spans(text)
                # external-tool extraction confidence (xml_extractor.rs:1112)
                confidence = 90.0
                word_count = count_words_safely_office(text)
                prep = ["DOC native extraction (minidoc)"]
            else:
                error = "DOC document contains no extractable text"
        else:
            error = (
                f"Legacy DOC extraction failed ({doc_err}); external tools "
                "(antiword/catdoc/wvText) are not available - convert to "
                "DOCX or PDF"
            )
    elif mime.startswith("image/"):
        if engine is not None:
            from readur_spark.kernels.ocr_engine import ocr_image_bytes

            res = ocr_image_bytes(content or b"", engine, settings=ocr_settings)
            if res["status"] == "completed":
                spans = _text_spans(res["text"])
                confidence = res["confidence"]
                word_count = res["word_count"]
                prep = list(res["preprocessing_applied"]) + ["Image OCR"]
            else:
                # the ladder already classified the failure; carry its
                # reason through instead of re-classifying a message
                reason_override = res["failure_reason"]
                error = f"image OCR failed ({reason_override})"
        else:
            error = "Image OCR is unsupported in this build (tesseract stub)"
    else:
        error = f"Unsupported file type: {mime}"

    if error is None:
        gate = validate_ocr_quality("\n\n".join(s["text"] for s in spans if s["kind"] == "text"),
                                    confidence, word_count)
        if gate is not None:
            error = gate
            stage = "validation"

    if error is not None:
        reason = reason_override or classify_ocr_error(error)[0]
        return {
            "doc_id": doc_id,
            "filename": filename,
            "mime_type": mime,
            "spans": [],
            "confidence": float(confidence),
            "word_count": 0,
            "status": "failed",
            "failure_reason": reason,
            "failure_stage": stage,
            "error_message": error,
            "preprocessing_applied": prep,
        }
    return {
        "doc_id": doc_id,
        "filename": filename,
        "mime_type": mime,
        "spans": spans,
        "confidence": float(confidence),
        "word_count": int(word_count),
        "status": "completed",
        "failure_reason": None,
        "failure_stage": None,
        "error_message": None,
        "preprocessing_applied": prep,
    }


def extract_files(
    files_df: DataFrame,
    engine=None,
    ocr_settings=None,
) -> DataFrame:
    """Distributed binary extraction. ``files_df`` needs (id, filename,
    content:binary[, server_mime]); a ``server_mime`` column, when the
    input has one, feeds MIME detection. Pairs naturally with
    ``spark.read.format("binaryFile")`` (S2 batch-ingest analog — the
    100 MB skip of batch_ingest.rs:239-243 becomes a length filter the
    caller applies before this operator)."""

    def kernel(doc_id, filename, content, server_mime=None):
        return extract_one(
            str(doc_id), filename, content, server_mime,
            engine=engine, ocr_settings=ocr_settings,
        )

    inputs = ["doc_id", "filename", "content"]
    if "server_mime" in files_df.columns:
        inputs.append("server_mime")
    return map_documents(files_df, inputs, kernel, BINARY_EXTRACTED_SCHEMA)


def dead_letters(extracted: DataFrame) -> tuple[DataFrame, DataFrame]:
    """S8: split into (results, failed_documents) — the dead-letter table
    carries stage+reason like the reference's failed_documents
    (src/ocr/queue.rs:1209-1279)."""
    ok = extracted.filter(F.col("status") == "completed").drop(
        "failure_reason", "failure_stage", "error_message"
    )
    failed = extracted.filter(F.col("status") == "failed").select(
        "doc_id",
        "filename",
        "mime_type",
        "failure_reason",
        "failure_stage",
        "error_message",
        "processing_time_ms",
    )
    return ok, failed
