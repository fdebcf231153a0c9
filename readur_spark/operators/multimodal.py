"""Multimodal column operators: opaque binary images + typed metadata.

Images travel as ``binary`` columns. Each operator here is a per-image
kernel run through ``operators.extract.map_documents``, the one
Arrow-batched Python boundary, which also fills the null fields of an
image the kernel cannot read. Image decode is REAL for every format
in the MIME table (PNG/JPEG/GIF/TIFF/BMP — in-repo stdlib+numpy codecs in
kernels/pixels + kernels/minijpeg, EXIF auto-rotate applied).

Reference parity: image metadata I17 (metadata_extraction.rs:52-81), EXIF
auto-rotate I5 (document_ingestion.rs:356-408), smart resize I7
(enhanced.rs:442-475), quality analysis I9 + OCR ladder I1-I4 distributed.
"""

from __future__ import annotations

import hashlib

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
from readur_spark.operators.extract import map_documents

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


def _bytes(raw) -> bytes:
    return bytes(raw) if raw is not None else b""


def image_metadata(media_df: DataFrame) -> DataFrame:
    """I17+I5+I7 metadata/decision extraction — header-level parsing only,
    no pixel decode, so it runs at full Arrow batch speed."""

    def kernel(doc_id, raw):
        data = _bytes(raw)
        row = {"doc_id": str(doc_id), "n_bytes": len(data)}
        meta = parse_image_meta(data)
        if meta is None:
            return row
        w, h = meta["width"], meta["height"]
        exif = parse_exif_orientation(data) if meta["format"] == "jpeg" else 1
        rot = orientation_transform(exif, w, h)
        tw, th, resize_op = smart_resize_dims(rot["width"], rot["height"])
        return {
            **row,
            "format": meta["format"],
            "width": w,
            "height": h,
            "aspect_ratio": round(w / h, 4) if h else None,
            "orientation": orientation_label(w, h),
            "megapixels": round(w * h / 1_000_000.0, 4),
            "exif_orientation": exif,
            "rotate_ops": rot["ops"],
            "resize_op": resize_op,
            "target_width": tw,
            "target_height": th,
        }

    return map_documents(media_df, ["doc_id", "content"], kernel, IMAGE_META_SCHEMA)


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


def decode_images(media_df: DataFrame) -> DataFrame:
    """Decode stage: PNG/JPEG/GIF/TIFF/BMP → REAL decode (in-repo codecs,
    EXIF auto-rotate for JPEG) to grayscale pixels with
    ``decode_stub=false``; corrupt-but-parseable headers → flagged stub;
    undecodable → null pixels."""
    import numpy as np

    from readur_spark.kernels.pixels import decode_image, to_luma

    def kernel(doc_id, raw):
        data = _bytes(raw)
        row = {"doc_id": str(doc_id), "decode_stub": True}
        if data.startswith((b"\x89PNG", b"\xff\xd8", b"GIF8", b"BM", b"II*\x00", b"MM\x00*")):
            try:
                gray = to_luma(decode_image(data))
                return {
                    **row,
                    "width": int(gray.shape[1]),
                    "height": int(gray.shape[0]),
                    "channels": 1,
                    "pixels": np.ascontiguousarray(gray).tobytes(),
                    "decode_stub": False,
                }
            except Exception:
                pass  # corrupt image → fall through to the metadata path
        meta = parse_image_meta(data)
        if meta is None or not meta["width"]:
            return row
        return {
            **row,
            "width": meta["width"],
            "height": meta["height"],
            "channels": 1,
            "pixels": _decode_image_stub(data, meta["width"], meta["height"]),
        }

    return map_documents(media_df, ["doc_id", "content"], kernel, DECODED_SCHEMA)


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


def image_quality(media_df: DataFrame) -> DataFrame:
    """I9 distributed: real PNG decode + the reference's quality analysis
    (enhanced.rs:478-639) per image; the I10 enhancement decision under
    stat-gated (neutral) settings rides along. Per-image numpy work, no
    per-pixel Python."""
    from readur_spark.kernels.pixels import (
        analyze_quality,
        decode_image,
        needs_enhancement,
        neutral_settings,
        to_luma,
    )

    settings = neutral_settings()

    def kernel(doc_id, raw):
        try:
            gray = to_luma(decode_image(_bytes(raw)))
        except Exception:
            return {"doc_id": str(doc_id)}
        stats = analyze_quality(gray)
        return {
            "doc_id": str(doc_id),
            "width": int(gray.shape[1]),
            "height": int(gray.shape[0]),
            "brightness": stats.average_brightness,
            "contrast_ratio": stats.contrast_ratio,
            "noise_level": stats.noise_level,
            "sharpness": stats.sharpness,
            "needs_enhancement": needs_enhancement(stats, settings),
        }

    return map_documents(media_df, ["doc_id", "content"], kernel, IMAGE_QUALITY_SCHEMA)


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
) -> DataFrame:
    """I1–I4 distributed: the full image-OCR ladder (decode → preprocess →
    engine with language combo / PSM / confidence gate / timeout → I3
    reduced-quality retry → W3 quality gate) per document.
    ``engine`` is the pluggable OCR engine (default: the deterministic
    FakeOcrEngine — swap a tesseract adapter in production)."""
    from readur_spark.kernels.ocr_engine import FakeOcrEngine, ocr_image_bytes

    eng = engine if engine is not None else FakeOcrEngine()

    def kernel(doc_id, raw):
        res = ocr_image_bytes(_bytes(raw), eng, settings=settings, limits=limits)
        res["doc_id"] = str(doc_id)
        res["confidence"] = float(res["confidence"])
        return res

    return map_documents(media_df, ["doc_id", "content"], kernel, OCR_RESULT_SCHEMA)


def ocr_dead_letters(ocr_df: DataFrame) -> DataFrame:
    """S8 for the image path: failed OCR rows with their classified reason
    (the queue's dead-letter shape)."""
    return ocr_df.filter(F.col("status") == "failed").select(
        "doc_id", "failure_reason", "confidence", "processing_time_ms"
    )
