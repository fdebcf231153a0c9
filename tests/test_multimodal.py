"""Multimodal plumbing: header parsing, EXIF table, resize math, stubs."""

import struct

import pytest

from readur_spark.kernels.media_meta import (
    EXIF_TRANSFORMS,
    orientation_transform,
    parse_exif_orientation,
    parse_image_meta,
    smart_resize_dims,
)


def make_png(w: int, h: int) -> bytes:
    return (
        b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
        + struct.pack(">II", w, h) + b"\x08\x00\x00\x00\x00" + b"\x00" * 8
    )


def make_gif(w: int, h: int) -> bytes:
    return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00" * 10


def make_jpeg(w: int, h: int, exif_orientation: int | None = None) -> bytes:
    out = b"\xff\xd8"
    if exif_orientation is not None:
        tiff = (
            b"II*\x00" + struct.pack("<I", 8)
            + struct.pack("<H", 1)
            + struct.pack("<HHI", 0x0112, 3, 1) + struct.pack("<HH", exif_orientation, 0)
            + struct.pack("<I", 0)
        )
        app1 = b"Exif\x00\x00" + tiff
        out += b"\xff\xe1" + struct.pack(">H", len(app1) + 2) + app1
    sof = b"\x08" + struct.pack(">HH", h, w) + b"\x03" + b"\x00" * 9
    out += b"\xff\xc0" + struct.pack(">H", len(sof) + 2) + sof
    out += b"\xff\xda\x00\x02" + b"\x00" * 16 + b"\xff\xd9"
    return out


class TestHeaderParsing:
    def test_png(self):
        m = parse_image_meta(make_png(640, 480))
        assert m == {"format": "png", "width": 640, "height": 480}

    def test_gif(self):
        m = parse_image_meta(make_gif(100, 50))
        assert m == {"format": "gif", "width": 100, "height": 50}

    def test_jpeg_sof(self):
        m = parse_image_meta(make_jpeg(1920, 1080))
        assert m == {"format": "jpeg", "width": 1920, "height": 1080}

    def test_not_an_image(self):
        assert parse_image_meta(b"plain text, definitely not pixels") is None


class TestExif:
    def test_orientation_read(self):
        assert parse_exif_orientation(make_jpeg(10, 10, exif_orientation=6)) == 6

    def test_orientation_default(self):
        assert parse_exif_orientation(make_jpeg(10, 10)) == 1

    @pytest.mark.parametrize("o", range(1, 9))
    def test_all_eight_cases(self, o):
        # document_ingestion.rs:389-399 matrix: 5-8 swap dimensions
        t = orientation_transform(o, 400, 300)
        if o in (5, 6, 7, 8):
            assert (t["width"], t["height"]) == (300, 400)
        else:
            assert (t["width"], t["height"]) == (400, 300)
        assert t["ops"] == EXIF_TRANSFORMS[o][0]


class TestSmartResize:
    def test_downscale_long_side(self):
        w, h, op = smart_resize_dims(4096, 2048)
        assert (w, h, op) == (2048, 1024, "downscale")

    def test_upscale_small(self):
        w, h, op = smart_resize_dims(200, 400)
        assert op == "upscale" and w == 600 and h == 1200

    def test_no_change(self):
        assert smart_resize_dims(800, 600) == (800, 600, None)


def test_distributed_image_metadata(spark):
    from readur_spark.operators.multimodal import decode_images, image_metadata

    rows = [
        ("m1", bytearray(make_png(3000, 1500))),
        ("m2", bytearray(make_jpeg(640, 480, exif_orientation=6))),
        ("m3", bytearray(b"not an image")),
    ]
    df = spark.createDataFrame(rows, "doc_id string, content binary")
    got = {r["doc_id"]: r for r in image_metadata(df).collect()}
    assert got["m1"]["format"] == "png"
    assert got["m1"]["resize_op"] == "downscale"
    assert (got["m1"]["target_width"], got["m1"]["target_height"]) == (2048, 1024)
    assert got["m2"]["exif_orientation"] == 6
    assert got["m2"]["rotate_ops"] == ["rotate90"]
    # rotate90 swaps → 480x640, min dim 480 ≥ 300 → no resize
    assert (got["m2"]["target_width"], got["m2"]["target_height"]) == (480, 640)
    assert got["m3"]["format"] is None

    dec = {r["doc_id"]: r for r in decode_images(df).collect()}
    assert dec["m1"]["decode_stub"] is True
    assert dec["m1"]["channels"] == 1
    assert len(dec["m1"]["pixels"]) == 65536  # capped fake buffer
    # determinism of the stub
    dec2 = {r["doc_id"]: r for r in decode_images(df).collect()}
    assert bytes(dec["m2"]["pixels"]) == bytes(dec2["m2"]["pixels"])


# --------------------------------------------------------------------------
# Real PNG decode + distributed quality / OCR (round 2)
# --------------------------------------------------------------------------


def _real_png(seed: int, mean: int = 170, shape=(60, 48)) -> bytes:
    import numpy as np

    from readur_spark.kernels.pixels import png_encode

    rng = np.random.RandomState(seed)
    lo, hi = max(0, mean - 20), min(255, mean + 20)
    return png_encode(rng.randint(lo, hi + 1, size=shape).astype(np.uint8))


def test_decode_images_png_real_path(spark):
    import numpy as np

    from readur_spark.kernels.pixels import png_decode
    from readur_spark.operators.multimodal import decode_images

    rows = [
        {"doc_id": "p1", "content": _real_png(1)},
        {"doc_id": "p2", "content": _real_png(2, mean=40)},
        {"doc_id": "j1", "content": make_jpeg(32, 16)},  # no codec -> stub
        {"doc_id": "x1", "content": b"not an image"},
    ]
    df = spark.createDataFrame(rows, "doc_id string, content binary")
    out = {r["doc_id"]: r for r in decode_images(df).collect()}
    assert out["p1"]["decode_stub"] is False
    assert out["p1"]["width"] == 48 and out["p1"]["height"] == 60
    # distributed pixels == local decode
    local = png_decode(_real_png(1))
    assert bytes(out["p1"]["pixels"]) == local.tobytes()
    assert out["j1"]["decode_stub"] is True and out["j1"]["width"] == 32
    assert out["x1"]["pixels"] is None


def test_image_quality_distributed_matches_kernel(spark):
    from readur_spark.kernels.pixels import analyze_quality, png_decode
    from readur_spark.operators.multimodal import image_quality

    rows = [{"doc_id": str(i), "content": _real_png(i, mean=60 + i * 30)} for i in range(4)]
    rows.append({"doc_id": "bad", "content": b"zz"})
    df = spark.createDataFrame(rows, "doc_id string, content binary")
    got = {r["doc_id"]: r for r in image_quality(df).collect()}
    for i in range(4):
        stats = analyze_quality(png_decode(rows[i]["content"]))
        r = got[str(i)]
        assert r["brightness"] == pytest.approx(stats.average_brightness)
        assert r["contrast_ratio"] == pytest.approx(stats.contrast_ratio)
        assert r["noise_level"] == pytest.approx(stats.noise_level)
        assert r["sharpness"] == pytest.approx(stats.sharpness)
    assert got["bad"]["brightness"] is None


def test_ocr_images_end_to_end_with_dead_letters(spark):
    """The full distributed image path: decode -> preprocess -> fake OCR ->
    W3 gate -> completed/dead-letter split (mirrors the reference's
    ocr pipeline tests, src/tests/ocr_tests.rs)."""
    from readur_spark.operators.multimodal import ocr_dead_letters, ocr_images

    rows = [
        {"doc_id": "bright", "content": _real_png(10, mean=180, shape=(350, 320))},
        {"doc_id": "dim", "content": _real_png(11, mean=25, shape=(350, 320))},
        {"doc_id": "garbage", "content": b"\x00\x01\x02"},
    ]
    df = spark.createDataFrame(rows, "doc_id string, content binary")
    out = {r["doc_id"]: r for r in ocr_images(df).collect()}
    assert out["bright"]["status"] == "completed"
    assert out["bright"]["word_count"] > 0
    assert out["bright"]["confidence"] > 60.0
    assert out["dim"]["status"] == "failed"
    assert out["garbage"]["status"] == "failed"
    dead = {r["doc_id"] for r in ocr_dead_letters(ocr_images(df)).collect()}
    assert dead == {"dim", "garbage"}


def test_ocr_images_deterministic_across_runs(spark):
    """Same input -> byte-identical OCR text on repeated distributed runs
    (the fake engine is seeded by pixel content, not by task/partition)."""
    from readur_spark.operators.multimodal import ocr_images

    rows = [
        {"doc_id": str(i), "content": _real_png(i, mean=170, shape=(120, 100))}
        for i in range(6)
    ]
    df = spark.createDataFrame(rows, "doc_id string, content binary").repartition(4)
    a = {r["doc_id"]: r["text"] for r in ocr_images(df).collect()}
    b = {r["doc_id"]: r["text"] for r in ocr_images(df.repartition(2)).collect()}
    assert a == b


def test_parse_tiff_dims():
    from readur_spark.kernels.media_meta import parse_image_meta

    # minimal little-endian TIFF: IFD at 8 with tags 256=80 (SHORT), 257=60 (LONG)
    ifd = (
        struct.pack("<H", 2)
        + struct.pack("<HHIHH", 256, 3, 1, 80, 0)
        + struct.pack("<HHII", 257, 4, 1, 60)
        + struct.pack("<I", 0)
    )
    data = b"II*\x00" + struct.pack("<I", 8) + ifd
    m = parse_image_meta(data)
    assert m == {"format": "tiff", "width": 80, "height": 60}
    # big-endian
    ifd_be = (
        struct.pack(">H", 1)
        + struct.pack(">HHIHH", 256, 3, 1, 33, 0)
        + struct.pack(">I", 0)
    )
    data_be = b"MM\x00*" + struct.pack(">I", 8) + ifd_be
    assert parse_image_meta(data_be)["width"] == 33
