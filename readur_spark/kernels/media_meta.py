"""Image metadata from raw bytes (no imaging libraries).

The reference extracts width/height/aspect/orientation/megapixels with the
``image`` crate (/root/reference/src/metadata_extraction.rs:52-81) and reads
the EXIF Orientation tag for auto-rotation
(src/ingestion/document_ingestion.rs:356-408). This container has no
Pillow/opencv, so dimensions are parsed straight from the container headers
(public format specs):

* PNG  — IHDR width/height at fixed offsets;
* JPEG — SOFn segment scan (and APP1/EXIF TIFF IFD walk for Orientation);
* GIF  — logical screen descriptor;
* BMP  — BITMAPINFOHEADER.

The EXIF 8-case orientation→transform table is reproduced exactly
(document_ingestion.rs:389-399); the pixel apply lives in
kernels/pixels.apply_orientation (real, all formats decode natively via
kernels/pixels + kernels/minijpeg).
"""

from __future__ import annotations

import struct


def parse_image_meta(data: bytes) -> dict | None:
    """Returns {format, width, height} or None if not a known image."""
    if len(data) < 16:
        return None
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        if data[12:16] == b"IHDR" and len(data) >= 24:
            w, h = struct.unpack(">II", data[16:24])
            return {"format": "png", "width": w, "height": h}
        return {"format": "png", "width": 0, "height": 0}
    if data[:3] == b"\xff\xd8\xff":
        dims = _jpeg_dims(data)
        return {"format": "jpeg", "width": dims[0], "height": dims[1]}
    if data[:6] in (b"GIF87a", b"GIF89a"):
        w, h = struct.unpack("<HH", data[6:10])
        return {"format": "gif", "width": w, "height": h}
    if data[:2] == b"BM" and len(data) >= 26:
        w, h = struct.unpack("<ii", data[18:26])
        return {"format": "bmp", "width": abs(w), "height": abs(h)}
    if data[:4] in (b"II*\x00", b"MM\x00*"):
        dims = _tiff_dims(data)
        return {"format": "tiff", "width": dims[0], "height": dims[1]}
    return None


def _tiff_dims(data: bytes) -> tuple[int, int]:
    """Width/height from the first IFD (tags 256/257; SHORT or LONG)."""
    le = data[:2] == b"II"
    e = "<" if le else ">"
    try:
        (ifd_off,) = struct.unpack(e + "I", data[4:8])
        (n_entries,) = struct.unpack(e + "H", data[ifd_off : ifd_off + 2])
        w = h = 0
        for i in range(min(n_entries, 256)):
            ent = data[ifd_off + 2 + 12 * i : ifd_off + 14 + 12 * i]
            if len(ent) < 12:
                break
            tag, dtype = struct.unpack(e + "HH", ent[:4])
            if tag in (256, 257):
                val = struct.unpack(e + ("H" if dtype == 3 else "I"), ent[8 : 10 if dtype == 3 else 12])[0]
                if tag == 256:
                    w = val
                else:
                    h = val
        return (w, h)
    except (struct.error, IndexError):
        return (0, 0)


def _jpeg_dims(data: bytes) -> tuple[int, int]:
    """Scan JPEG segments for SOF0–SOF15 (excluding DHT/DAC/markers without
    dimensions)."""
    i = 2
    n = len(data)
    sof = {0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF}
    while i + 4 <= n:
        if data[i] != 0xFF:
            i += 1
            continue
        marker = data[i + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        if i + 4 > n:
            break
        seglen = struct.unpack(">H", data[i + 2 : i + 4])[0]
        if marker in sof and i + 9 <= n:
            h, w = struct.unpack(">HH", data[i + 5 : i + 9])
            return (w, h)
        i += 2 + seglen
    return (0, 0)


def parse_exif_orientation(data: bytes) -> int:
    """EXIF Orientation (1–8) from a JPEG's APP1 segment; 1 (normal) when
    absent — matching the reference's default (document_ingestion.rs:389)."""
    if data[:3] != b"\xff\xd8\xff":
        return 1
    i = 2
    n = len(data)
    while i + 4 <= n:
        if data[i] != 0xFF:
            break
        marker = data[i + 1]
        seglen = struct.unpack(">H", data[i + 2 : i + 4])[0]
        if marker == 0xE1 and data[i + 4 : i + 10] == b"Exif\x00\x00":
            return _tiff_orientation(data[i + 10 : i + 2 + seglen])
        if marker == 0xDA:  # start of scan — no EXIF past here
            break
        i += 2 + seglen
    return 1


def _tiff_orientation(tiff: bytes) -> int:
    if len(tiff) < 8:
        return 1
    if tiff[:2] == b"II":
        endian = "<"
    elif tiff[:2] == b"MM":
        endian = ">"
    else:
        return 1
    try:
        ifd_off = struct.unpack(endian + "I", tiff[4:8])[0]
        count = struct.unpack(endian + "H", tiff[ifd_off : ifd_off + 2])[0]
        for k in range(count):
            e = ifd_off + 2 + 12 * k
            tag = struct.unpack(endian + "H", tiff[e : e + 2])[0]
            if tag == 0x0112:
                val = struct.unpack(endian + "H", tiff[e + 8 : e + 10])[0]
                return val if 1 <= val <= 8 else 1
    except (struct.error, IndexError):
        return 1
    return 1


#: EXIF orientation → (ops, swaps_dimensions) — the exact 8-case match of
#: document_ingestion.rs:389-399.
EXIF_TRANSFORMS: dict[int, tuple[list[str], bool]] = {
    1: ([], False),
    2: (["flip_horizontal"], False),
    3: (["rotate180"], False),
    4: (["flip_vertical"], False),
    5: (["rotate90", "flip_horizontal"], True),
    6: (["rotate90"], True),
    7: (["rotate270", "flip_horizontal"], True),
    8: (["rotate270"], True),
}


def orientation_transform(orientation: int, width: int, height: int) -> dict:
    """Resolve the 8-case table: operations + post-transform dimensions."""
    ops, swaps = EXIF_TRANSFORMS.get(orientation, ([], False))
    w, h = (height, width) if swaps else (width, height)
    return {"ops": ops, "width": w, "height": h}


def smart_resize_dims(width: int, height: int) -> tuple[int, int, str | None]:
    """I7 smart-resize decision (src/ocr/enhanced.rs:442-475): >2048 px on
    the long side → downscale to 2048; min dimension <300 → upscale to 600.
    Returns (new_w, new_h, op) with op None when unchanged."""
    if width <= 0 or height <= 0:
        return (width, height, None)
    long_side = max(width, height)
    if long_side > 2048:
        scale = 2048.0 / long_side
        return (max(1, round(width * scale)), max(1, round(height * scale)), "downscale")
    if min(width, height) < 300:
        scale = 600.0 / min(width, height)
        return (max(1, round(width * scale)), max(1, round(height * scale)), "upscale")
    return (width, height, None)


def orientation_label(width: int, height: int) -> str:
    """I17 orientation label (metadata_extraction.rs:52-81)."""
    if width > height:
        return "landscape"
    if height > width:
        return "portrait"
    return "square"
