"""Adversarial robustness: the in-repo codecs must fail CLEANLY (raise,
never hang or segfault-style crash) on malformed bytes — these parsers sit
in executors fed by untrusted web-scale content."""

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from readur_spark.kernels.minidoc import extract_doc
from readur_spark.kernels.minijpeg import jpeg_decode, jpeg_encode
from readur_spark.kernels.pixels import png_decode, png_encode

FUZZ = settings(
    max_examples=120, deadline=2000, suppress_health_check=[HealthCheck.too_slow]
)


@given(st.binary(min_size=0, max_size=400))
@FUZZ
def test_png_decode_never_hangs_on_garbage(data):
    try:
        png_decode(data)
    except Exception:
        pass  # any clean raise is fine; hang/crash is the failure mode


@given(st.binary(min_size=0, max_size=400))
@FUZZ
def test_jpeg_decode_never_hangs_on_garbage(data):
    try:
        jpeg_decode(b"\xff\xd8" + data)
    except Exception:
        pass


@given(st.binary(min_size=0, max_size=400))
@FUZZ
def test_doc_extract_never_hangs_on_garbage(data):
    text, err = extract_doc(b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1" + data)
    assert text is not None or err is not None


@given(st.integers(min_value=0, max_value=4000))
@FUZZ
def test_png_truncation(cut):
    arr = np.arange(300, dtype=np.uint8).reshape(15, 20) % 256
    data = png_encode(arr)
    truncated = data[: min(cut, len(data) - 1)]
    try:
        out = png_decode(truncated)
        # if it decodes, dims must still be sane
        assert out.shape == (15, 20)
    except Exception:
        pass


@given(st.integers(min_value=2, max_value=3000))
@FUZZ
def test_jpeg_truncation(cut):
    arr = (np.arange(400, dtype=np.uint16) % 256).astype(np.uint8).reshape(20, 20)
    data = jpeg_encode(arr, quality=80)
    truncated = data[: min(cut, len(data) - 1)]
    try:
        out = jpeg_decode(truncated)
        assert out.shape == (20, 20)  # bit-feeder pads with zeros past EOF
    except Exception:
        pass


@given(st.binary(min_size=0, max_size=300))
@FUZZ
def test_gif_decode_never_hangs_on_garbage(data):
    from readur_spark.kernels.pixels import gif_decode

    try:
        gif_decode(b"GIF89a" + data)
    except Exception:
        pass


@given(st.binary(min_size=0, max_size=300))
@FUZZ
def test_tiff_decode_never_hangs_on_garbage(data):
    from readur_spark.kernels.pixels import tiff_decode

    try:
        tiff_decode(b"II*\x00" + data)
    except Exception:
        pass


@given(st.binary(min_size=0, max_size=600))
@FUZZ
def test_warc_parse_never_hangs_on_garbage(data):
    from readur_spark.sources.warc import parse_warc

    for variant in (data, b"WARC/1.0\r\n" + data, b"\x1f\x8b" + data):
        try:
            list(parse_warc(variant))
        except Exception:
            pass  # clean raise acceptable; hang is the failure mode


@given(st.integers(min_value=0, max_value=5000))
@FUZZ
def test_warc_truncation_yields_prefix_records(cut):
    from readur_spark.sources.warc import build_warc, parse_warc

    recs = [
        {"warc_type": "resource", "target_uri": f"https://e.com/{i}",
         "payload": bytes([65 + i]) * 50}
        for i in range(4)
    ]
    data = build_warc(recs, gzip_per_record=False)
    got = list(parse_warc(data[: min(cut, len(data))]))
    # whatever parses must be a prefix with intact payloads
    for i, r in enumerate(got):
        assert r["target_uri"] == f"https://e.com/{i}"
        assert r["payload"] == bytes([65 + i]) * 50


@given(st.integers(min_value=2, max_value=4000))
@FUZZ
def test_progressive_jpeg_truncation(cut):
    from readur_spark.kernels.minijpeg import jpeg_encode_progressive

    arr = (np.arange(24 * 24, dtype=np.int64) % 233).astype(np.uint8).reshape(24, 24)
    data = jpeg_encode_progressive(arr, quality=70)
    try:
        out = jpeg_decode(data[: min(cut, len(data) - 1)])
        assert out.shape == (24, 24)  # partial scans may decode coarse pixels
    except Exception:
        pass


@given(st.integers(min_value=0, max_value=3000))
@FUZZ
def test_adam7_png_truncation(cut):
    import struct
    import zlib

    from readur_spark.kernels.pixels import _PNG_SIG, _chunk

    # valid interlaced stream, truncated raw payload re-wrapped so zlib
    # inflates cleanly — decode must raise PngError, never mis-scatter
    full = bytearray()
    from readur_spark.kernels.pixels import _ADAM7_PASSES

    h = w = 12
    a = (np.arange(h * w) % 256).astype(np.uint8).reshape(h, w)
    for x0, y0, dx, dy in _ADAM7_PASSES:
        sub = a[y0::dy, x0::dx]
        if sub.size == 0:
            continue
        for row in sub:
            full.append(0)
            full.extend(row.tobytes())
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 1)
    data = (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(full[: min(cut, len(full))]), 6))
        + _chunk(b"IEND", b"")
    )
    try:
        out = png_decode(data)
        assert out.shape == (h, w)  # only the full stream may succeed
        assert cut >= len(full)
    except Exception:
        pass
