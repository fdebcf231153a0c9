"""Multimodal column operators: opaque binary images + typed metadata.

Images travel as ``binary`` columns. Image decode is REAL for every format
in the MIME table (PNG/JPEG/GIF/TIFF/BMP — in-repo stdlib+numpy codecs in
kernels/pixels + kernels/minijpeg, EXIF auto-rotate applied).

Reference parity: image metadata I17 (metadata_extraction.rs:52-81), EXIF
auto-rotate I5 (document_ingestion.rs:356-408), smart resize I7
(enhanced.rs:442-475), quality analysis I9 + OCR ladder I1-I4 distributed.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from readur_spark.kernels.media_meta import (
    orientation_label,
    orientation_transform,
    parse_exif_orientation,
    parse_image_meta,
    smart_resize_dims,
)

IMAGE_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("format", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("aspect_ratio", T.DoubleType(), True),
        T.StructField("orientation", T.StringType(), True),
        T.StructField("megapixels", T.DoubleType(), True),
        T.StructField("exif_orientation", T.IntegerType(), True),
        T.StructField("rotate_ops", T.ArrayType(T.StringType()), True),
        T.StructField("resize_op", T.StringType(), True),
        T.StructField("target_width", T.IntegerType(), True),
        T.StructField("target_height", T.IntegerType(), True),
    ]
)


def image_metadata(
    media_df: DataFrame, id_col: str = "doc_id", content_col: str = "content"
) -> DataFrame:
    """I17+I5+I7 metadata/decision extraction — header-level parsing only,
    no pixel decode, so it runs at full Arrow batch speed."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in range(len(pdf)):
                doc_id = str(pdf[id_col].iloc[i])
                raw = pdf[content_col].iloc[i]
                data = bytes(raw) if raw is not None else b""
                meta = parse_image_meta(data)
                if meta is None:
                    rows.append(
                        {
                            "doc_id": doc_id,
                            "format": None,
                            "width": None,
                            "height": None,
                            "n_bytes": len(data),
                            "aspect_ratio": None,
                            "orientation": None,
                            "megapixels": None,
                            "exif_orientation": None,
                            "rotate_ops": None,
                            "resize_op": None,
                            "target_width": None,
                            "target_height": None,
                        }
                    )
                    continue
                w, h = meta["width"], meta["height"]
                exif = parse_exif_orientation(data) if meta["format"] == "jpeg" else 1
                rot = orientation_transform(exif, w, h)
                tw, th, resize_op = smart_resize_dims(rot["width"], rot["height"])
                rows.append(
                    {
                        "doc_id": doc_id,
                        "format": meta["format"],
                        "width": w,
                        "height": h,
                        "n_bytes": len(data),
                        "aspect_ratio": round(w / h, 4) if h else None,
                        "orientation": orientation_label(w, h),
                        "megapixels": round(w * h / 1_000_000.0, 4),
                        "exif_orientation": exif,
                        "rotate_ops": rot["ops"],
                        "resize_op": resize_op,
                        "target_width": tw,
                        "target_height": th,
                    }
                )
            yield pd.DataFrame(rows)

    return media_df.select(id_col, content_col).mapInPandas(run, IMAGE_META_SCHEMA)


DECODED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("pixels", T.BinaryType(), True),
        T.StructField("decode_stub", T.BooleanType(), False),
    ]
)


def _decode_image_stub(data: bytes, width: int, height: int) -> bytes:
    """STUB fallback — only reachable for files whose header parses but
    whose pixel data is undecodable (corrupt/exotic variants): a
    reproducible byte pattern derived from the content hash, sized like a
    real grayscale decode (w*h bytes, capped at 64 KB). Every format in
    the MIME table decodes for real via kernels/pixels.decode_image."""
    n = min(max(width * height, 1), 65536)
    seed = hashlib.blake2b(data, digest_size=32).digest()
    reps = (n // len(seed)) + 1
    return (seed * reps)[:n]


def decode_images(
    media_df: DataFrame, id_col: str = "doc_id", content_col: str = "content"
) -> DataFrame:
    """Decode stage: PNG/JPEG/GIF/TIFF/BMP → REAL decode (in-repo codecs,
    EXIF auto-rotate for JPEG) to grayscale pixels with
    ``decode_stub=false``; corrupt-but-parseable headers → flagged stub;
    undecodable → null pixels."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from readur_spark.kernels.pixels import decode_image, to_luma

        for pdf in batches:
            rows = []
            for i in range(len(pdf)):
                doc_id = str(pdf[id_col].iloc[i])
                raw = pdf[content_col].iloc[i]
                data = bytes(raw) if raw is not None else b""
                if (
                    data.startswith(b"\x89PNG")
                    or data.startswith(b"\xff\xd8")
                    or data.startswith(b"GIF8")
                    or data.startswith(b"BM")
                    or data[:4] in (b"II*\x00", b"MM\x00*")
                ):
                    try:
                        gray = to_luma(decode_image(data))
                        rows.append(
                            {
                                "doc_id": doc_id,
                                "width": int(gray.shape[1]),
                                "height": int(gray.shape[0]),
                                "channels": 1,
                                "pixels": np.ascontiguousarray(gray).tobytes(),
                                "decode_stub": False,
                            }
                        )
                        continue
                    except Exception:
                        pass  # corrupt PNG → fall through to metadata path
                meta = parse_image_meta(data)
                if meta is None or not meta["width"]:
                    rows.append(
                        {
                            "doc_id": doc_id,
                            "width": None,
                            "height": None,
                            "channels": None,
                            "pixels": None,
                            "decode_stub": True,
                        }
                    )
                    continue
                rows.append(
                    {
                        "doc_id": doc_id,
                        "width": meta["width"],
                        "height": meta["height"],
                        "channels": 1,
                        "pixels": _decode_image_stub(data, meta["width"], meta["height"]),
                        "decode_stub": True,
                    }
                )
            yield pd.DataFrame(rows)

    return media_df.select(id_col, content_col).mapInPandas(run, DECODED_SCHEMA)


IMAGE_QUALITY_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("brightness", T.DoubleType(), True),
        T.StructField("contrast_ratio", T.DoubleType(), True),
        T.StructField("noise_level", T.DoubleType(), True),
        T.StructField("sharpness", T.DoubleType(), True),
        T.StructField("needs_enhancement", T.BooleanType(), True),
    ]
)


def image_quality(
    media_df: DataFrame, id_col: str = "doc_id", content_col: str = "content"
) -> DataFrame:
    """I9 distributed: real PNG decode + the reference's quality analysis
    (enhanced.rs:478-639) per image; the I10 enhancement decision under
    stat-gated (neutral) settings rides along. Arrow-batched mapInPandas —
    per-image numpy work, no per-pixel Python."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from readur_spark.kernels.pixels import (
            analyze_quality,
            decode_image,
            needs_enhancement,
            neutral_settings,
            to_luma,
        )

        settings = neutral_settings()
        for pdf in batches:
            rows = []
            for i in range(len(pdf)):
                doc_id = str(pdf[id_col].iloc[i])
                raw = pdf[content_col].iloc[i]
                data = bytes(raw) if raw is not None else b""
                try:
                    gray = to_luma(decode_image(data))
                except Exception:
                    rows.append(
                        {
                            "doc_id": doc_id,
                            "width": None,
                            "height": None,
                            "brightness": None,
                            "contrast_ratio": None,
                            "noise_level": None,
                            "sharpness": None,
                            "needs_enhancement": None,
                        }
                    )
                    continue
                stats = analyze_quality(gray)
                rows.append(
                    {
                        "doc_id": doc_id,
                        "width": int(gray.shape[1]),
                        "height": int(gray.shape[0]),
                        "brightness": stats.average_brightness,
                        "contrast_ratio": stats.contrast_ratio,
                        "noise_level": stats.noise_level,
                        "sharpness": stats.sharpness,
                        "needs_enhancement": needs_enhancement(stats, settings),
                    }
                )
            yield pd.DataFrame(rows)

    return media_df.select(id_col, content_col).mapInPandas(run, IMAGE_QUALITY_SCHEMA)


OCR_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("confidence", T.DoubleType(), True),
        T.StructField("word_count", T.IntegerType(), True),
        T.StructField("preprocessing_applied", T.ArrayType(T.StringType()), True),
        T.StructField("status", T.StringType(), False),
        T.StructField("failure_reason", T.StringType(), True),
        T.StructField("processing_time_ms", T.LongType(), True),
    ]
)


def ocr_images(
    media_df: DataFrame,
    engine=None,
    settings=None,
    limits=None,
    id_col: str = "doc_id",
    content_col: str = "content",
) -> DataFrame:
    """I1–I4 distributed: the full image-OCR ladder (decode → preprocess →
    engine with language combo / PSM / confidence gate / timeout → I3
    reduced-quality retry → W3 quality gate) per document, Arrow-batched.
    ``engine`` is the pluggable OCR engine (default: the deterministic
    FakeOcrEngine — swap a tesseract adapter in production)."""
    from readur_spark.kernels.ocr_engine import FakeOcrEngine, ocr_image_bytes

    eng = engine if engine is not None else FakeOcrEngine()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in range(len(pdf)):
                doc_id = str(pdf[id_col].iloc[i])
                raw = pdf[content_col].iloc[i]
                data = bytes(raw) if raw is not None else b""
                res = ocr_image_bytes(data, eng, settings=settings, limits=limits)
                res["doc_id"] = doc_id
                res["confidence"] = float(res["confidence"])
                rows.append(res)
            yield pd.DataFrame(rows, columns=[f.name for f in OCR_RESULT_SCHEMA.fields])

    return media_df.select(id_col, content_col).mapInPandas(run, OCR_RESULT_SCHEMA)


def ocr_dead_letters(ocr_df: DataFrame) -> DataFrame:
    """S8 for the image path: failed OCR rows with their classified reason
    (the queue's dead-letter shape)."""
    return ocr_df.filter(F.col("status") == "failed").select(
        "doc_id", "failure_reason", "confidence", "processing_time_ms"
    )
