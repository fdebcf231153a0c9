"""Baseline JPEG codec: roundtrip quality, format coverage, EXIF
auto-rotate integration, distributed decode path."""

import struct

import numpy as np
import pytest

from readur_spark.kernels.minijpeg import JpegError, jpeg_decode, jpeg_encode

RNG = np.random.RandomState(99)


def _psnr(a, b) -> float:
    mse = ((a.astype(np.float64) - b.astype(np.float64)) ** 2).mean()
    return 99.0 if mse == 0 else 10 * np.log10(255.0**2 / mse)


def test_gray_roundtrip_smooth_lossless():
    g = np.tile((np.arange(64) * 3).astype(np.uint8), (48, 1))
    out = jpeg_decode(jpeg_encode(g, quality=90))
    assert out.shape == g.shape
    assert _psnr(g, out) > 50  # pure-DC content survives nearly exactly


def test_gray_roundtrip_noise_q90():
    g = RNG.randint(0, 256, size=(41, 57)).astype(np.uint8)  # non-8-multiple dims
    out = jpeg_decode(jpeg_encode(g, quality=90))
    assert out.shape == g.shape
    assert _psnr(g, out) > 30


def test_rgb_roundtrip():
    rgb = np.zeros((33, 50, 3), np.uint8)
    rgb[:, :, 0] = np.tile((np.arange(50) * 5 % 256).astype(np.uint8), (33, 1))
    rgb[:, :, 1] = 100
    rgb[:, :, 2] = np.tile(((np.arange(33) * 7 % 256).astype(np.uint8))[:, None], (1, 50))
    out = jpeg_decode(jpeg_encode(rgb, quality=90))
    assert out.shape == rgb.shape
    assert _psnr(rgb, out) > 35


def test_quality_ladder_monotone():
    g = RNG.randint(0, 256, size=(40, 40)).astype(np.uint8)
    p = [_psnr(g, jpeg_decode(jpeg_encode(g, q))) for q in (30, 60, 90)]
    assert p[0] < p[1] < p[2]


def test_rejects_garbage_and_scanless_streams():
    with pytest.raises(JpegError):
        jpeg_decode(b"\x89PNG not jpeg")
    # a bare SOF2 header with no scan data is an error, not a hang
    data = (
        b"\xff\xd8"
        + b"\xff\xc2"
        + struct.pack(">H", 11)
        + bytes([8])
        + struct.pack(">HH", 8, 8)
        + bytes([1, 1, 0x11, 0])
    )
    with pytest.raises(JpegError):
        jpeg_decode(data)
    # arithmetic-coded (SOF9) still rejected
    with pytest.raises(JpegError):
        jpeg_decode(data.replace(b"\xff\xc2", b"\xff\xc9"))


def _det_image(h, w, channels=0, seed=5):
    """Deterministic mixed-content image: smooth gradient + hard edges +
    hash-noise — exercises long zero runs, EOB runs, ZRL, and large
    coefficients at once."""
    yy, xx = np.mgrid[0:h, 0:w]
    base = (xx * 255 // max(1, w - 1) + yy * 31) % 256
    base[h // 3 : h // 3 + 4, :] = 255
    base[:, w // 2 : w // 2 + 3] = 0
    rng_vals = ((xx * 31 + yy * 77 + seed) * 2654435761) % 47
    img = np.clip(base + (rng_vals - 23) * (yy % 7 == 0), 0, 255).astype(np.uint8)
    if channels:
        return np.stack(
            [np.roll(img, s, axis=1) for s in range(channels)], axis=2
        ).astype(np.uint8)
    return img


def test_progressive_gray_equals_baseline_exactly():
    """The progressive stream carries the SAME quantized coefficients as
    the baseline stream, so both decoders must produce bit-identical
    pixels — the strongest possible cross-check of every progressive scan
    mode (DC first/refine, spectrally split AC first/refine, EOB runs)."""
    from readur_spark.kernels.minijpeg import jpeg_encode_progressive

    for h, w in [(40, 56), (17, 23), (8, 8)]:  # incl. non-multiple-of-8
        img = _det_image(h, w)
        base = jpeg_decode(jpeg_encode(img, quality=85))
        prog_bytes = jpeg_encode_progressive(img, quality=85)
        assert b"\xff\xc2" in prog_bytes[:200]  # really SOF2
        prog = jpeg_decode(prog_bytes)
        assert prog.shape == base.shape
        assert np.array_equal(prog, base), (h, w, int(np.abs(prog.astype(int) - base.astype(int)).max()))


def test_progressive_rgb_equals_baseline_exactly():
    from readur_spark.kernels.minijpeg import jpeg_encode_progressive

    img = _det_image(33, 41, channels=3)
    base = jpeg_decode(jpeg_encode(img, quality=90))
    prog = jpeg_decode(jpeg_encode_progressive(img, quality=90))
    assert np.array_equal(prog, base)


def test_progressive_low_quality_many_eob_runs():
    """Low quality zeroes most AC coefficients → long cross-block EOB runs
    in both first and refinement scans."""
    from readur_spark.kernels.minijpeg import jpeg_encode_progressive

    img = _det_image(64, 64)
    base = jpeg_decode(jpeg_encode(img, quality=12))
    prog = jpeg_decode(jpeg_encode_progressive(img, quality=12))
    assert np.array_equal(prog, base)


def test_decode_image_applies_exif_rotation():
    """Splice an EXIF APP1 (orientation 6 = rotate90 CW) into an encoded
    JPEG: decode_image must hand back the corrected (rotated) pixels —
    I5 end-to-end on real bytes (document_ingestion.rs:356-408)."""
    from readur_spark.kernels.pixels import decode_image

    img = np.tile((np.arange(48) * 5).astype(np.uint8), (32, 1))  # 32h x 48w
    raw = jpeg_encode(img, quality=95)
    tiff = (
        b"II*\x00"
        + struct.pack("<I", 8)
        + struct.pack("<H", 1)
        + struct.pack("<HHI", 0x0112, 3, 1)
        + struct.pack("<HH", 6, 0)
        + struct.pack("<I", 0)
    )
    app1 = b"Exif\x00\x00" + tiff
    with_exif = raw[:2] + b"\xff\xe1" + struct.pack(">H", len(app1) + 2) + app1 + raw[2:]
    plain = decode_image(raw)
    rotated = decode_image(with_exif)
    assert plain.shape == (32, 48)
    assert rotated.shape == (48, 32)  # dims swapped by rotate90
    assert np.array_equal(rotated, np.rot90(plain, k=-1))
    assert np.array_equal(jpeg_decode(with_exif), plain)  # the tag moved no pixel


def test_distributed_decode_jpeg_real(spark):
    from readur_spark.operators.multimodal import decode_images

    img = RNG.randint(100, 200, size=(24, 40)).astype(np.uint8)
    rows = [{"doc_id": "j", "content": jpeg_encode(img, quality=90)}]
    df = spark.createDataFrame(rows, "doc_id string, content binary")
    out = decode_images(df).collect()[0]
    assert out["decode_stub"] is False
    assert (out["width"], out["height"]) == (40, 24)
    got = np.frombuffer(bytes(out["pixels"]), dtype=np.uint8).reshape(24, 40)
    assert _psnr(img, got) > 30


def test_jpeg_through_ocr_ladder():
    from readur_spark.kernels.ocr_engine import FakeOcrEngine, ocr_image_bytes

    bright = RNG.randint(160, 200, size=(350, 320)).astype(np.uint8)
    res = ocr_image_bytes(jpeg_encode(bright, 90), FakeOcrEngine())
    assert res["status"] == "completed"
    assert res["word_count"] > 0


def test_jpeg_420_subsampled_roundtrip():
    """4:2:0 encoding (2x2 luma + pooled chroma MCUs) exercises the
    decoder's subsampling walk and chroma upsampling."""
    rgb = np.zeros((37, 52, 3), np.uint8)  # non-16-multiple dims
    rgb[:, :, 0] = np.tile((np.arange(52) * 4 % 256).astype(np.uint8), (37, 1))
    rgb[:, :, 1] = 90
    rgb[:, :, 2] = np.tile(((np.arange(37) * 6 % 256).astype(np.uint8))[:, None], (1, 52))
    out = jpeg_decode(jpeg_encode(rgb, quality=90, subsample=True))
    assert out.shape == rgb.shape
    assert _psnr(rgb, out) > 28
    # 4:2:0 stream really is smaller than 4:4:4 for the same content
    assert len(jpeg_encode(rgb, 90, subsample=True)) < len(jpeg_encode(rgb, 90))


def test_progressive_through_decode_image_and_mime():
    """A progressive JPEG flows through the real multimodal entry points:
    magic-byte MIME detection and kernels/pixels.decode_image."""
    from readur_spark.kernels.minijpeg import jpeg_encode_progressive
    from readur_spark.kernels.mime import detect_mime
    from readur_spark.kernels.pixels import decode_image

    data = jpeg_encode_progressive(_det_image(24, 32), quality=80)
    assert detect_mime(data, "x.jpg") == "image/jpeg"
    img = decode_image(data)
    assert img.shape[:2] == (24, 32)
