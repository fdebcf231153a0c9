"""Real pixel layer: stdlib PNG codec + the reference's image
preprocessing math (I8–I16), pure numpy — no imaging library needed.

Reference parity (behavioral spec, not a port — the reference drives the
Rust ``image``/``imageproc`` crates; this is the same math on numpy):

* grayscale I8: ``to_luma8`` integer Rec.709 coefficients
  (image crate ``rgb_to_luma``: (2126 R + 7152 G + 722 B) / 10000)
* quality analysis I9: /root/reference/src/ocr/enhanced.rs:478-639
  (full vs every-10th-pixel sampled stats above 4 MP, 3×3-neighborhood
  noise estimate, central-difference gradient sharpness)
* brightness/contrast I11: enhanced.rs:642-681 (tiered boost table)
* noise removal I12: enhanced.rs:684-720 (median + gaussian ladder)
* adaptive threshold I13: enhanced.rs:723-764 (window-size selection with
  odd forcing, >1.5 Mpx overflow gate → histogram-equalization fallback)
* histogram equalization + contrast stretch I14: enhanced.rs:767-847
* unsharp mask I15: enhanced.rs:850-889 (exact 3×3 kernel, border copy)
* morphology I16: enhanced.rs:892-901 (LInf-norm radius-1 open then close)
* EXIF apply I5: document_ingestion.rs:356-408 (8-case transform table)
* orientation heuristic I6 + smart resize I7: enhanced.rs:424-475
* enhancement decision I10: enhanced.rs:306-341
* preprocessing pipeline order: enhanced.rs:210-290

The PNG codec handles what this pipeline produces and consumes: 8-bit
grayscale / RGB / RGBA, all five filter types, non-interlaced AND Adam7
interlaced. 16-bit PNGs raise ``PngError`` (callers degrade to the
metadata-only path, like the reference degrades on undecodable input).
"""

from __future__ import annotations

import struct
import zlib
from dataclasses import dataclass, field

import numpy as np

# --------------------------------------------------------------------------
# PNG codec (stdlib zlib + numpy)
# --------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"

#: Adam7 pass geometry (x0, y0, dx, dy) in pass order — PNG spec 8.2
_ADAM7_PASSES = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


class PngError(ValueError):
    pass


def _chunk(kind: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + kind
        + payload
        + struct.pack(">I", zlib.crc32(kind + payload) & 0xFFFFFFFF)
    )


def png_encode(arr: np.ndarray) -> bytes:
    """Encode (H,W) grayscale or (H,W,3)/(H,W,4) uint8 to PNG (filter 0)."""
    a = np.ascontiguousarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        color_type, channels = 0, 1
    elif a.ndim == 3 and a.shape[2] == 3:
        color_type, channels = 2, 3
    elif a.ndim == 3 and a.shape[2] == 4:
        color_type, channels = 6, 4
    else:
        raise PngError(f"unsupported array shape {a.shape}")
    h, w = a.shape[0], a.shape[1]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    raw = a.reshape(h, w * channels)
    # filter byte 0 (None) per scanline
    scanlines = np.empty((h, 1 + w * channels), dtype=np.uint8)
    scanlines[:, 0] = 0
    scanlines[:, 1:] = raw
    idat = zlib.compress(scanlines.tobytes(), 6)
    return _PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


def _unfilter(data: np.ndarray, h: int, w: int, channels: int) -> np.ndarray:
    """Reverse the 5 PNG scanline filters (spec §9). Row-sequential by
    necessity (each row depends on the previous reconstructed row), but
    Paeth/Sub recurrences are the only per-pixel Python work and rows are
    numpy-sliced."""
    stride = w * channels
    rows = data.reshape(h, 1 + stride)
    out = np.zeros((h, stride), dtype=np.uint8)
    bpp = channels
    for y in range(h):
        ftype = int(rows[y, 0])
        cur = rows[y, 1:].astype(np.int32)
        prev = out[y - 1].astype(np.int32) if y > 0 else np.zeros(stride, dtype=np.int32)
        if ftype == 0:
            rec = cur
        elif ftype == 2:  # Up
            rec = (cur + prev) & 0xFF
        elif ftype in (1, 3, 4):
            rec = np.zeros(stride, dtype=np.int32)
            for i in range(stride):
                a = rec[i - bpp] if i >= bpp else 0
                b = prev[i]
                if ftype == 1:  # Sub
                    rec[i] = (cur[i] + a) & 0xFF
                elif ftype == 3:  # Average
                    rec[i] = (cur[i] + ((a + b) >> 1)) & 0xFF
                else:  # Paeth
                    c = prev[i - bpp] if i >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    rec[i] = (cur[i] + pr) & 0xFF
        else:
            raise PngError(f"unknown filter type {ftype}")
        out[y] = rec.astype(np.uint8)
    return out


def png_decode(data: bytes) -> np.ndarray:
    """Decode a PNG to (H,W) uint8 for grayscale or (H,W,C) for RGB(A)."""
    if not data.startswith(_PNG_SIG):
        raise PngError("not a PNG")
    pos = 8
    ihdr = None
    idat = bytearray()
    palette = None
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        kind = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if kind == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", payload)
        elif kind == b"IDAT":
            idat.extend(payload)
        elif kind == b"PLTE":
            palette = np.frombuffer(payload, dtype=np.uint8).reshape(-1, 3)
        elif kind == b"IEND":
            break
    if ihdr is None:
        raise PngError("missing IHDR")
    w, h, bit_depth, color_type, _comp, _filt, interlace = ihdr
    if bit_depth != 8:
        raise PngError(f"unsupported bit depth {bit_depth}")
    if interlace not in (0, 1):
        raise PngError(f"unknown interlace method {interlace}")
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color_type)
    if channels is None:
        raise PngError(f"unsupported color type {color_type}")
    raw = np.frombuffer(zlib.decompress(bytes(idat)), dtype=np.uint8)
    if interlace:
        # Adam7: seven sub-images, each filtered independently, scattered
        # onto the strided output grid (PNG spec §8.2)
        out = np.zeros((h, w * channels), dtype=np.uint8)
        grid = out.reshape(h, w, channels)
        off = 0
        for x0, y0, dx, dy in _ADAM7_PASSES:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            take = ph * (1 + pw * channels)
            if off + take > len(raw):
                raise PngError("truncated interlaced IDAT")
            sub = _unfilter(raw[off : off + take], ph, pw, channels)
            off += take
            grid[y0::dy, x0::dx] = sub.reshape(ph, pw, channels)
        if off != len(raw):
            raise PngError(f"bad interlaced IDAT length {len(raw)} != {off}")
    else:
        expected = h * (1 + w * channels)
        if len(raw) != expected:
            raise PngError(f"bad IDAT length {len(raw)} != {expected}")
        out = _unfilter(raw, h, w, channels)
    if color_type == 3:
        if palette is None:
            raise PngError("paletted PNG without PLTE")
        return palette[out.reshape(h, w)]
    if channels == 1:
        return out.reshape(h, w)
    if channels == 2:  # gray+alpha → drop alpha
        return out.reshape(h, w, 2)[:, :, 0]
    return out.reshape(h, w, channels)


def decode_image(data: bytes, auto_orient: bool = True) -> np.ndarray:
    """Decode PNG, baseline JPEG, or GIF bytes to a pixel array; JPEGs
    with an EXIF orientation tag are auto-rotated (I5,
    document_ingestion.rs:356-408 applies the correction at ingest).
    Raises ValueError subclasses on undecodable input."""
    if data.startswith(_PNG_SIG):
        return png_decode(data)
    if data.startswith(b"GIF87a") or data.startswith(b"GIF89a"):
        return gif_decode(data)
    if data[:4] in (b"II*\x00", b"MM\x00*"):
        return tiff_decode(data)
    if data.startswith(b"BM"):
        return bmp_decode(data)
    if data.startswith(b"\xff\xd8"):
        from readur_spark.kernels.minijpeg import jpeg_decode

        img = jpeg_decode(data)
        if auto_orient:
            from readur_spark.kernels.media_meta import parse_exif_orientation

            orientation = parse_exif_orientation(data)
            if orientation != 1:
                img = apply_orientation(img, orientation)
        return img
    raise PngError("unrecognized image format")


# --------------------------------------------------------------------------
# I8: grayscale
# --------------------------------------------------------------------------


def to_luma(img: np.ndarray) -> np.ndarray:
    """RGB(A) → 8-bit luma with the image crate's integer Rec.709 weights
    ((2126 R + 7152 G + 722 B) / 10000, truncating) — enhanced.rs:231
    ``to_luma8``. Grayscale passes through."""
    if img.ndim == 2:
        return img.astype(np.uint8, copy=False)
    r = img[:, :, 0].astype(np.uint32)
    g = img[:, :, 1].astype(np.uint32)
    b = img[:, :, 2].astype(np.uint32)
    return ((2126 * r + 7152 * g + 722 * b) // 10000).astype(np.uint8)


# --------------------------------------------------------------------------
# I9: quality analysis (enhanced.rs:478-639)
# --------------------------------------------------------------------------


@dataclass
class ImageQualityStats:
    average_brightness: float
    contrast_ratio: float
    noise_level: float
    sharpness: float


def analyze_quality(img: np.ndarray) -> ImageQualityStats:
    """Faithful I9: full stats below 4 Mpx, every-10th-pixel sampling above
    (enhanced.rs:484-493); noise = mean |center − 3×3-neighbor-mean| over
    the every-10th interior grid (:585-624); sharpness = mean central-
    difference gradient magnitude, step 10 above 4 Mpx (:627-667)."""
    h, w = img.shape
    pixel_count = h * w
    f = img.astype(np.float64)
    if pixel_count > 4_000_000:
        sample = f[::10, ::10]
        if sample.size:
            avg = float(sample.mean())
            var = float(((sample - avg) ** 2).mean())
        else:  # pragma: no cover - empty image guard
            avg, var = 128.0, 0.0
    else:
        avg = float(f.mean()) if pixel_count else 128.0
        var = float(((f - avg) ** 2).mean()) if pixel_count else 0.0
    contrast_ratio = float(np.sqrt(var) / 255.0)

    # noise: sample grid y,x in (5..dim-5 step 10), 8-neighbor mean
    noise = 0.0
    if h > 10 and w > 10:
        ys = np.arange(5, h - 5, 10)
        xs = np.arange(5, w - 5, 10)
        if len(ys) and len(xs):
            yy, xx = np.meshgrid(ys, xs, indexing="ij")
            center = f[yy, xx]
            nsum = np.zeros_like(center)
            for dy in (-1, 0, 1):
                for dx in (-1, 0, 1):
                    if dy == 0 and dx == 0:
                        continue
                    nsum += f[yy + dy, xx + dx]
            noise = float(np.abs(center - nsum / 8.0).mean() / 255.0)

    # sharpness: central differences over interior, step 1 (<=4 Mpx) or 10
    sharp = 0.0
    if h > 2 and w > 2:
        step = 10 if pixel_count > 4_000_000 else 1
        ys = np.arange(1, h - 1, step)
        xs = np.arange(1, w - 1, step)
        yy, xx = np.meshgrid(ys, xs, indexing="ij")
        gx = (f[yy, xx + 1] - f[yy, xx - 1]) / 2.0
        gy = (f[yy + 1, xx] - f[yy - 1, xx]) / 2.0
        sharp = float(np.sqrt(gx * gx + gy * gy).mean() / 255.0)

    return ImageQualityStats(avg, contrast_ratio, noise, sharp)


# --------------------------------------------------------------------------
# OCR settings (reference Settings defaults, models/settings.rs:322-373)
# --------------------------------------------------------------------------


@dataclass
class OcrSettings:
    ocr_language: str = "eng"
    preferred_languages: list[str] = field(default_factory=lambda: ["eng"])
    primary_language: str = "eng"
    ocr_timeout_seconds: int = 300
    ocr_page_segmentation_mode: int = 3
    ocr_engine_mode: int = 3
    ocr_min_confidence: float = 30.0
    ocr_dpi: int = 300
    ocr_enhance_contrast: bool = True
    ocr_remove_noise: bool = True
    ocr_detect_orientation: bool = True
    ocr_brightness_boost: float = 1.0
    ocr_contrast_multiplier: float = 1.2
    ocr_noise_reduction_level: int = 1
    ocr_sharpening_strength: float = 0.5
    ocr_morphological_operations: bool = False
    ocr_adaptive_threshold_window_size: int = 15
    ocr_histogram_equalization: bool = False
    ocr_max_image_width: int = 10000
    ocr_max_image_height: int = 10000
    ocr_quality_threshold_brightness: float = 0.3
    ocr_quality_threshold_contrast: float = 0.2
    ocr_quality_threshold_noise: float = 0.7
    ocr_quality_threshold_sharpness: float = 0.3
    ocr_skip_enhancement: bool = False


def neutral_settings() -> OcrSettings:
    """Settings with every user-forced enhancement off, so only the
    quality-stat gates decide (useful to test the decision matrix)."""
    return OcrSettings(
        ocr_brightness_boost=0.0,
        ocr_contrast_multiplier=0.0,
        ocr_noise_reduction_level=0,
        ocr_sharpening_strength=0.0,
        ocr_adaptive_threshold_window_size=0,
        ocr_enhance_contrast=False,
        ocr_remove_noise=False,
    )


# --------------------------------------------------------------------------
# I10: enhancement decision (enhanced.rs:306-341)
# --------------------------------------------------------------------------


def needs_enhancement(stats: ImageQualityStats, settings: OcrSettings) -> bool:
    if settings.ocr_skip_enhancement:
        return False
    needs_brightness = stats.average_brightness < settings.ocr_quality_threshold_brightness
    needs_contrast = stats.contrast_ratio < settings.ocr_quality_threshold_contrast
    needs_noise = stats.noise_level > settings.ocr_quality_threshold_noise
    needs_sharp = stats.sharpness < settings.ocr_quality_threshold_sharpness
    user_wants = (
        settings.ocr_brightness_boost > 0.0
        or settings.ocr_contrast_multiplier > 1.0
        or settings.ocr_noise_reduction_level > 1
        or settings.ocr_sharpening_strength > 0.0
    )
    return needs_brightness or needs_contrast or needs_noise or needs_sharp or user_wants


# --------------------------------------------------------------------------
# I11: brightness/contrast (enhanced.rs:642-681)
# --------------------------------------------------------------------------


def _round_half_up(x: np.ndarray) -> np.ndarray:
    """Rust f32::round = half away from zero; values here are ≥ 0."""
    return np.floor(x + 0.5)


def enhance_brightness_contrast(
    img: np.ndarray, stats: ImageQualityStats, settings: OcrSettings
) -> np.ndarray:
    if settings.ocr_brightness_boost > 0.0:
        boost = settings.ocr_brightness_boost
    elif stats.average_brightness < 50.0:
        boost = 60.0 - stats.average_brightness
    elif stats.average_brightness < 80.0:
        boost = 30.0 - (stats.average_brightness - 50.0) * 0.5
    else:
        boost = 0.0
    if settings.ocr_contrast_multiplier > 0.0:
        mult = settings.ocr_contrast_multiplier
    elif stats.contrast_ratio < 0.2:
        mult = 2.5
    elif stats.contrast_ratio < 0.4:
        mult = 1.8
    else:
        mult = 1.2
    v = _round_half_up((img.astype(np.float64) + boost) * mult)
    return np.clip(v, 0, 255).astype(np.uint8)


# --------------------------------------------------------------------------
# I12: noise removal (enhanced.rs:684-720)
# --------------------------------------------------------------------------


def median_filter(img: np.ndarray, rx: int, ry: int) -> np.ndarray:
    """(2rx+1)×(2ry+1) median with edge-clamped borders (imageproc
    semantics: the window is taken over the clamped image)."""
    padded = np.pad(img, ((ry, ry), (rx, rx)), mode="edge")
    h, w = img.shape
    stack = [
        padded[dy : dy + h, dx : dx + w]
        for dy in range(2 * ry + 1)
        for dx in range(2 * rx + 1)
    ]
    return np.median(np.stack(stack), axis=0).astype(np.uint8)


def gaussian_blur(img: np.ndarray, sigma: float) -> np.ndarray:
    """Separable gaussian, kernel radius ceil(3σ), edge-clamped, rounded to
    u8 (imageproc's gaussian_blur_f32 shape)."""
    radius = max(1, int(np.ceil(3.0 * sigma)))
    xs = np.arange(-radius, radius + 1, dtype=np.float64)
    k = np.exp(-(xs * xs) / (2.0 * sigma * sigma))
    k /= k.sum()
    padded = np.pad(img.astype(np.float64), ((0, 0), (radius, radius)), mode="edge")
    tmp = np.zeros_like(img, dtype=np.float64)
    for i, kv in enumerate(k):
        tmp += kv * padded[:, i : i + img.shape[1]]
    padded = np.pad(tmp, ((radius, radius), (0, 0)), mode="edge")
    out = np.zeros_like(tmp)
    for i, kv in enumerate(k):
        out += kv * padded[i : i + img.shape[0], :]
    return np.clip(_round_half_up(out), 0, 255).astype(np.uint8)


def adaptive_noise_removal(
    img: np.ndarray, stats: ImageQualityStats, settings: OcrSettings
) -> np.ndarray:
    if settings.ocr_noise_reduction_level > 0:
        level = settings.ocr_noise_reduction_level
    elif stats.noise_level > 0.2:
        level = 3
    elif stats.noise_level > 0.1:
        level = 2
    else:
        level = 1
    if level == 3:
        return gaussian_blur(median_filter(img, 2, 2), 0.8)
    if level == 2:
        return gaussian_blur(median_filter(img, 1, 1), 0.5)
    return median_filter(img, 1, 1)


# --------------------------------------------------------------------------
# I13: adaptive threshold (enhanced.rs:723-764)
# --------------------------------------------------------------------------


def adaptive_threshold(img: np.ndarray, block_radius: int) -> np.ndarray:
    """Mean-threshold over the (2r+1)² window intersected with the image
    (integral-image formulation): 255 where pixel ≥ window mean, else 0."""
    h, w = img.shape
    ii = np.zeros((h + 1, w + 1), dtype=np.int64)
    ii[1:, 1:] = np.cumsum(np.cumsum(img.astype(np.int64), axis=0), axis=1)
    ys = np.arange(h)
    xs = np.arange(w)
    y0 = np.clip(ys - block_radius, 0, h)[:, None]
    y1 = np.clip(ys + block_radius + 1, 0, h)[:, None]
    x0 = np.clip(xs - block_radius, 0, w)[None, :]
    x1 = np.clip(xs + block_radius + 1, 0, w)[None, :]
    total = ii[y1, x1] - ii[y0, x1] - ii[y1, x0] + ii[y0, x0]
    count = (y1 - y0) * (x1 - x0)
    mean = total / count
    return np.where(img.astype(np.float64) >= mean, 255, 0).astype(np.uint8)


def select_threshold_window(
    width: int, height: int, stats: ImageQualityStats, settings: OcrSettings
) -> int:
    """Window-size selection with odd forcing (enhanced.rs:736-751)."""
    min_dimension = min(width, height)
    if settings.ocr_adaptive_threshold_window_size > 0:
        size = settings.ocr_adaptive_threshold_window_size
    elif stats.contrast_ratio < 0.2:
        size = min(max(min_dimension // 20, 11), 31)
    else:
        size = min(max(min_dimension // 15, 15), 41)
    return size + 1 if size % 2 == 0 else size


def adaptive_contrast_enhancement(
    img: np.ndarray, stats: ImageQualityStats, settings: OcrSettings
) -> np.ndarray:
    h, w = img.shape
    if h * w > 1_500_000:  # overflow gate (enhanced.rs:731) → fallback
        return alternative_contrast_enhancement(img, stats, settings)
    return adaptive_threshold(img, select_threshold_window(w, h, stats, settings))


# --------------------------------------------------------------------------
# I14: histogram equalization + contrast stretching (enhanced.rs:767-847)
# --------------------------------------------------------------------------


def histogram_equalization(img: np.ndarray) -> np.ndarray:
    """CDF lookup-table equalization; zero-count bins keep LUT 0
    (enhanced.rs:788-808 keeps lookup[i]=0 when cdf[i]==0)."""
    hist = np.bincount(img.ravel(), minlength=256).astype(np.uint64)
    cdf = np.cumsum(hist)
    total = img.size
    lut = np.where(cdf > 0, (cdf.astype(np.float64) / total * 255.0).astype(np.uint8), 0)
    return lut[img].astype(np.uint8)


def contrast_stretch(img: np.ndarray) -> np.ndarray:
    mn, mx = int(img.min()), int(img.max())
    if mx == mn:
        return img
    return (
        ((img.astype(np.float64) - mn) / (mx - mn) * 255.0).astype(np.uint8)
    )


def alternative_contrast_enhancement(
    img: np.ndarray, stats: ImageQualityStats, settings: OcrSettings
) -> np.ndarray:
    out = histogram_equalization(img)
    if stats.contrast_ratio < 0.3:
        out = contrast_stretch(out)
    return out


# --------------------------------------------------------------------------
# I15: unsharp mask (enhanced.rs:850-889)
# --------------------------------------------------------------------------

_SHARPEN_KERNEL = np.array([[0.0, -1.0, 0.0], [-1.0, 5.0, -1.0], [0.0, -1.0, 0.0]])


def sharpen(img: np.ndarray) -> np.ndarray:
    """Exact 3×3 kernel over interior pixels, borders copied unchanged."""
    f = img.astype(np.float64)
    out = img.copy()
    acc = np.zeros((img.shape[0] - 2, img.shape[1] - 2), dtype=np.float64)
    for ky in range(3):
        for kx in range(3):
            kv = _SHARPEN_KERNEL[ky, kx]
            if kv != 0.0:
                acc += kv * f[ky : ky + acc.shape[0], kx : kx + acc.shape[1]]
    # Rust: sum.round().max(0.0).min(255.0) — f32 round is half away from
    # zero, then clamp
    rounded = np.sign(acc) * np.floor(np.abs(acc) + 0.5)
    out[1:-1, 1:-1] = np.clip(rounded, 0, 255).astype(np.uint8)
    return out


# --------------------------------------------------------------------------
# I16: morphology (enhanced.rs:892-901) — LInf radius-1 open then close
# --------------------------------------------------------------------------


def _erode3(img: np.ndarray) -> np.ndarray:
    p = np.pad(img, 1, mode="edge")
    h, w = img.shape
    out = p[0:h, 0:w]
    for dy in range(3):
        for dx in range(3):
            out = np.minimum(out, p[dy : dy + h, dx : dx + w])
    return out


def _dilate3(img: np.ndarray) -> np.ndarray:
    p = np.pad(img, 1, mode="edge")
    h, w = img.shape
    out = p[0:h, 0:w]
    for dy in range(3):
        for dx in range(3):
            out = np.maximum(out, p[dy : dy + h, dx : dx + w])
    return out


def morphological_open_close(img: np.ndarray) -> np.ndarray:
    opened = _dilate3(_erode3(img))
    return _erode3(_dilate3(opened))


# --------------------------------------------------------------------------
# Deskew (the --deskew half of ocrmypdf strategy 1, P8): projection-profile
# skew estimation with a small-angle vertical shear — the classic document-
# deskew formulation (Baird 1987): text rows maximize the variance of the
# horizontal ink profile when the page is level.
# --------------------------------------------------------------------------


def estimate_skew_angle(
    gray: np.ndarray, max_deg: float = 5.0, step: float = 0.5
) -> float:
    """Skew angle in degrees (positive = text rises to the right). Shear
    candidates over ±max_deg; the profile-variance argmax wins. 0.0 for
    blank images."""
    ink = (gray < 128).astype(np.int64)
    if not ink.any():
        return 0.0
    h, w = ink.shape
    xs = np.arange(w) - w // 2
    best_var, best_a = -1.0, 0.0
    for a in np.arange(-max_deg, max_deg + step / 2, step):
        shift = np.round(np.tan(np.radians(a)) * xs).astype(np.int64)
        smin, smax = int(shift.min()), int(shift.max())
        prof = np.zeros(h + smax - smin, dtype=np.int64)
        for s in np.unique(shift):
            cols = ink[:, shift == s].sum(axis=1)
            prof[s - smin : s - smin + h] += cols
        var = float(prof.var())
        # prefer the smaller |angle| on ties so a level page stays level
        if var > best_var + 1e-9 or (
            abs(var - best_var) <= 1e-9 and abs(a) < abs(best_a)
        ):
            best_var, best_a = var, float(a)
    return best_a


def deskew_shear(gray: np.ndarray, angle_deg: float) -> np.ndarray:
    """Undo the skew measured by :func:`estimate_skew_angle` (its shear
    convention inverted): column x moves by +round(tan(angle)·(x−w/2))
    rows; vacated pixels fill white."""
    h, w = gray.shape
    xs = np.arange(w) - w // 2
    shift = -np.round(np.tan(np.radians(angle_deg)) * xs).astype(np.int64)
    out = np.full_like(gray, 255)
    for s in np.unique(shift):
        cols = shift == s
        s = int(s)
        if s >= 0:
            out[: h - s, cols] = gray[s:, cols]
        else:
            out[-s:, cols] = gray[: h + s, cols]
    return out


# --------------------------------------------------------------------------
# I5 apply + I6 + I7 pixels (document_ingestion.rs:356-408, enhanced.rs:424-475)
# --------------------------------------------------------------------------


def apply_orientation(img: np.ndarray, orientation: int) -> np.ndarray:
    """Apply the 8-case EXIF transform table to real pixels. Op names match
    kernels/media_meta.EXIF_TRANSFORMS; rotate90 is clockwise (image crate
    ``rotate90``)."""
    from readur_spark.kernels.media_meta import EXIF_TRANSFORMS

    ops, _ = EXIF_TRANSFORMS.get(orientation, ([], False))
    out = img
    for op in ops:
        if op == "flip_horizontal":
            out = out[:, ::-1]
        elif op == "flip_vertical":
            out = out[::-1, :]
        elif op == "rotate180":
            out = out[::-1, ::-1]
        elif op == "rotate90":  # clockwise
            out = np.rot90(out, k=-1)
        elif op == "rotate270":  # counter-clockwise
            out = np.rot90(out, k=1)
    return np.ascontiguousarray(out)


def detect_and_correct_orientation(img: np.ndarray) -> tuple[np.ndarray, bool]:
    """I6: width/height > 2.0 → rotate90 (enhanced.rs:424-437)."""
    h, w = img.shape[:2]
    if h > 0 and w / h > 2.0:
        return np.ascontiguousarray(np.rot90(img, k=-1)), True
    return img, False


def _lanczos3_weights(scale: float, dst_size: int, src_size: int):
    """Per-destination-pixel Lanczos3 taps (a=3), the image crate's
    FilterType::Lanczos3 shape: support widened by 1/scale when
    downscaling."""
    a = 3.0
    ratio = src_size / dst_size
    support = a * max(ratio, 1.0)
    centers = (np.arange(dst_size) + 0.5) * ratio
    idxs, weights = [], []
    for c in centers:
        lo = int(np.floor(c - support))
        hi = int(np.ceil(c + support))
        xs = np.arange(lo, hi + 1)
        t = (xs + 0.5 - c) / max(ratio, 1.0)
        w = np.sinc(t) * np.sinc(t / a)
        w[np.abs(t) >= a] = 0.0
        s = w.sum()
        if s != 0:
            w = w / s
        idxs.append(np.clip(xs, 0, src_size - 1))
        weights.append(w)
    return idxs, weights


def resize_lanczos3(img: np.ndarray, new_w: int, new_h: int) -> np.ndarray:
    """Separable Lanczos3 resampling (grayscale)."""
    h, w = img.shape
    if (new_w, new_h) == (w, h):
        return img
    f = img.astype(np.float64)
    idxs, weights = _lanczos3_weights(new_w / w, new_w, w)
    tmp = np.zeros((h, new_w), dtype=np.float64)
    for j, (ix, wt) in enumerate(zip(idxs, weights)):
        tmp[:, j] = f[:, ix] @ wt
    idxs, weights = _lanczos3_weights(new_h / h, new_h, h)
    out = np.zeros((new_h, new_w), dtype=np.float64)
    for i, (ix, wt) in enumerate(zip(idxs, weights)):
        out[i, :] = wt @ tmp[ix, :]
    return np.clip(_round_half_up(np.maximum(out, 0.0)), 0, 255).astype(np.uint8)


def smart_resize(img: np.ndarray) -> tuple[np.ndarray, str | None]:
    """I7 with real pixels: dims from media_meta.smart_resize_dims, pixels
    via Lanczos3 (the reference's FilterType::Lanczos3)."""
    from readur_spark.kernels.media_meta import smart_resize_dims

    h, w = img.shape
    # reference truncates (as u32), media_meta rounds for the decision
    # tables; follow the reference here for pixel parity
    long_side = max(w, h)
    if long_side > 2048:
        scale = 2048.0 / long_side
        return resize_lanczos3(img, int(w * scale), int(h * scale)), "downscale"
    if min(w, h) < 300:
        scale = 600.0 / min(w, h)
        return resize_lanczos3(img, int(w * scale), int(h * scale)), "upscale"
    _ = smart_resize_dims  # decision parity is tested against this helper
    return img, None


# --------------------------------------------------------------------------
# Preprocessing pipeline (enhanced.rs:210-290)
# --------------------------------------------------------------------------


def preprocess_image(
    img: np.ndarray, settings: OcrSettings | None = None
) -> tuple[np.ndarray, list[str], ImageQualityStats]:
    """The reference's full preprocess order: orientation → smart resize →
    luma → quality analysis → selective enhancement. Returns (processed
    grayscale, preprocessing_applied, quality stats)."""
    settings = settings or OcrSettings()
    applied: list[str] = []
    work = img
    if settings.ocr_detect_orientation:
        work, _rotated = detect_and_correct_orientation(work)
    gray = to_luma(work)
    gray, _resize_op = smart_resize(gray)
    stats = analyze_quality(gray)
    if not needs_enhancement(stats, settings):
        return gray, applied, stats
    if stats.average_brightness < 50.0 or settings.ocr_brightness_boost > 0.0:
        gray = enhance_brightness_contrast(gray, stats, settings)
        applied.append("Brightness/contrast correction")
    if stats.noise_level > 0.25 or (
        settings.ocr_remove_noise and settings.ocr_noise_reduction_level > 1
    ):
        gray = adaptive_noise_removal(gray, stats, settings)
        applied.append("Noise reduction")
    if stats.contrast_ratio < 0.2 or (
        settings.ocr_enhance_contrast and settings.ocr_adaptive_threshold_window_size > 0
    ):
        gray = adaptive_contrast_enhancement(gray, stats, settings)
        applied.append("Contrast enhancement")
    if stats.sharpness < 0.2 or settings.ocr_sharpening_strength > 0.5:
        gray = sharpen(gray)
        applied.append("Image sharpening")
    if settings.ocr_morphological_operations and stats.noise_level > 0.15:
        gray = morphological_open_close(gray)
        applied.append("Morphological operations")
    return gray, applied, stats


# --------------------------------------------------------------------------
# GIF decoder (LZW) — the last raster format in testdata fixtures
# --------------------------------------------------------------------------


def gif_decode(data: bytes) -> np.ndarray:
    """Decode the FIRST frame of a GIF87a/89a to (H,W,3) RGB uint8.

    Full LZW decompression (variable code width, clear/EOI codes), local
    or global color table, interlace pass reordering. Animated GIFs yield
    frame 1. Raises PngError-family ValueError on malformed input.
    """
    if not (data.startswith(b"GIF87a") or data.startswith(b"GIF89a")):
        raise PngError("not a GIF")
    if len(data) < 14:
        raise PngError("truncated GIF header")
    w, h = struct.unpack("<HH", data[6:10])
    packed = data[10]
    gct_size = 2 << (packed & 0x07)
    pos = 13
    gct = None
    if packed & 0x80:
        gct = np.frombuffer(data[pos : pos + gct_size * 3], dtype=np.uint8).reshape(-1, 3)
        pos += gct_size * 3

    def skip_subblocks(p: int) -> int:
        while p < len(data) and data[p] != 0:
            p += 1 + data[p]
        return p + 1

    while pos < len(data):
        b = data[pos]
        if b == 0x21:  # extension
            pos = skip_subblocks(pos + 2)
        elif b == 0x2C:  # image descriptor
            ix, iy, iw, ih = struct.unpack("<HHHH", data[pos + 1 : pos + 9])
            ipacked = data[pos + 9]
            pos += 10
            table = gct
            if ipacked & 0x80:
                lct_size = 2 << (ipacked & 0x07)
                table = np.frombuffer(
                    data[pos : pos + lct_size * 3], dtype=np.uint8
                ).reshape(-1, 3)
                pos += lct_size * 3
            if table is None:
                raise PngError("GIF image without color table")
            interlaced = bool(ipacked & 0x40)
            min_code_size = data[pos]
            pos += 1
            # concatenate LZW sub-blocks
            chunks = []
            p = pos
            while p < len(data) and data[p] != 0:
                n = data[p]
                chunks.append(data[p + 1 : p + 1 + n])
                p += 1 + n
            stream = b"".join(chunks)
            indices = _lzw_decode(stream, min_code_size, iw * ih)
            if len(indices) < iw * ih:
                raise PngError("GIF LZW stream truncated")
            idx = np.asarray(indices[: iw * ih], dtype=np.int32).reshape(ih, iw)
            if interlaced:
                out = np.empty_like(idx)
                rows = list(range(0, ih, 8)) + list(range(4, ih, 8)) + list(
                    range(2, ih, 4)
                ) + list(range(1, ih, 2))
                for src, dst in enumerate(rows):
                    out[dst] = idx[src]
                idx = out
            idx = np.clip(idx, 0, len(table) - 1)
            return table[idx]
        elif b == 0x3B:  # trailer
            break
        else:
            raise PngError(f"unexpected GIF block 0x{b:02x}")
    raise PngError("GIF contains no image data")


def _lzw_decode(stream: bytes, min_code_size: int, max_pixels: int) -> list[int]:
    """GIF-flavor LZW: LSB-first variable-width codes, CLEAR resets the
    table, EOI ends; code width grows after table fills (cap 12 bits)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out: list[int] = []
    bitpos = 0
    nbits = len(stream) * 8

    def base_table():
        return {i: [i] for i in range(clear)}

    table = base_table()
    next_code = eoi + 1
    width = min_code_size + 1
    prev: list[int] | None = None
    while bitpos + width <= nbits and len(out) < max_pixels:
        byte = bitpos >> 3
        # read `width` bits LSB-first
        chunk = int.from_bytes(stream[byte : byte + 3], "little")
        code = (chunk >> (bitpos & 7)) & ((1 << width) - 1)
        bitpos += width
        if code == clear:
            table = base_table()
            next_code = eoi + 1
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            entry = table.get(code)
            if entry is None:
                raise PngError("bad initial LZW code")
            out.extend(entry)
            prev = entry
            continue
        if code in table:
            entry = table[code]
        elif code == next_code:
            entry = prev + [prev[0]]
        else:
            raise PngError("bad LZW code")
        out.extend(entry)
        table[next_code] = prev + [entry[0]]
        next_code += 1
        if next_code == (1 << width) and width < 12:
            width += 1
        prev = entry
    return out


def gif_encode(arr: np.ndarray) -> bytes:
    """Encode (H,W) palette-index uint8 (≤128 colors, grayscale ramp
    palette) as an uncompressed-style GIF87a — fixture writer for tests:
    emits literal LZW codes with CLEAR injected before the table fills, so
    every conforming decoder reads it."""
    a = np.ascontiguousarray(arr, dtype=np.uint8)
    if a.ndim != 2:
        raise PngError("gif_encode takes a 2D index/gray array")
    if a.max() > 127:
        a = a >> 1  # fold into 7-bit palette space
    h, w = a.shape
    min_code_size = 7
    clear, eoi = 128, 129
    palette = np.zeros((128, 3), dtype=np.uint8)
    ramp = (np.arange(128, dtype=np.uint16) * 2).astype(np.uint8)
    palette[:, 0] = palette[:, 1] = palette[:, 2] = ramp

    bits = bytearray()
    acc = 0
    accbits = 0

    def put(code: int, width: int):
        nonlocal acc, accbits
        acc |= code << accbits
        accbits += width
        while accbits >= 8:
            bits.append(acc & 0xFF)
            acc >>= 8
            accbits -= 8

    width_bits = min_code_size + 1
    put(clear, width_bits)
    count = 0
    for v in a.flatten():
        put(int(v), width_bits)
        count += 1
        # keep the decoder's table from growing past 9 bits: clear often
        if count % 100 == 0:
            put(clear, width_bits)
    put(eoi, width_bits)
    if accbits:
        bits.append(acc & 0xFF)

    out = bytearray(b"GIF87a")
    out += struct.pack("<HH", w, h)
    out += bytes([0x80 | 0x06, 0, 0])  # GCT present, 128 entries (2<<6)
    out += palette.tobytes()
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
    out += bytes([min_code_size])
    for i in range(0, len(bits), 255):
        blk = bits[i : i + 255]
        out += bytes([len(blk)]) + blk
    out += b"\x00\x3b"
    return bytes(out)


# --------------------------------------------------------------------------
# TIFF decoder — completes the raster matrix (PNG/JPEG/GIF/TIFF all real)
# --------------------------------------------------------------------------


def _tiff_lzw_decode(stream: bytes, expected: int) -> bytes:
    """TIFF-flavor LZW (spec §13): MSB-first codes, early code-width
    change (width grows at table size 511/1023/2047), CLEAR=256, EOI=257."""
    clear, eoi = 256, 257
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    width = 9
    prev: bytes | None = None
    acc = 0
    accbits = 0
    for byte in stream:
        acc = (acc << 8) | byte
        accbits += 8
        while accbits >= width:
            code = (acc >> (accbits - width)) & ((1 << width) - 1)
            accbits -= width
            if code == clear:
                table = [bytes([i]) for i in range(256)] + [b"", b""]
                width = 9
                prev = None
                continue
            if code == eoi:
                return bytes(out)
            if prev is None:
                entry = table[code]
            elif code < len(table):
                entry = table[code]
            elif code == len(table):
                entry = prev + prev[:1]
            else:
                raise PngError("bad TIFF LZW code")
            out.extend(entry)
            if prev is not None:
                table.append(prev + entry[:1])
            # early change: width bumps one code BEFORE the table fills
            if len(table) + 1 >= (1 << width) and width < 12:
                width += 1
            prev = entry
            if len(out) >= expected:
                return bytes(out)
    return bytes(out)


def _packbits_decode(stream: bytes, expected: int) -> bytes:
    out = bytearray()
    i = 0
    while i < len(stream) and len(out) < expected:
        n = stream[i]
        i += 1
        if n < 128:
            out.extend(stream[i : i + n + 1])
            i += n + 1
        elif n > 128:
            if i < len(stream):
                out.extend(stream[i : i + 1] * (257 - n))
                i += 1
        # n == 128: no-op
    return bytes(out)


def tiff_decode(data: bytes) -> np.ndarray:
    """Decode a baseline TIFF (first IFD): 8-bit grayscale or RGB, strip
    layout, compression none (1) / LZW (5) / PackBits (32773), optional
    horizontal differencing predictor (2). Tiled, 16-bit, and palette
    TIFFs raise PngError."""
    if data[:4] not in (b"II*\x00", b"MM\x00*"):
        raise PngError("not a TIFF")
    e = "<" if data[:2] == b"II" else ">"
    (ifd_off,) = struct.unpack(e + "I", data[4:8])
    (n_entries,) = struct.unpack(e + "H", data[ifd_off : ifd_off + 2])
    tags: dict[int, list[int]] = {}
    for i in range(n_entries):
        ent = data[ifd_off + 2 + 12 * i : ifd_off + 14 + 12 * i]
        if len(ent) < 12:
            raise PngError("truncated TIFF IFD")
        tag, dtype, count = struct.unpack(e + "HHI", ent[:8])
        size = {1: 1, 3: 2, 4: 4}.get(dtype)
        if size is None:
            continue
        total = size * count
        raw = ent[8 : 8 + min(total, 4)]
        if total > 4:
            (off,) = struct.unpack(e + "I", ent[8:12])
            raw = data[off : off + total]
        fmt = {1: "B", 3: "H", 4: "I"}[dtype]
        tags[tag] = list(struct.unpack(e + fmt * count, raw[: size * count]))
    try:
        w = tags[256][0]
        h = tags[257][0]
    except KeyError:
        raise PngError("TIFF missing dimensions") from None
    bits = tags.get(258, [8])
    if any(b != 8 for b in bits):
        raise PngError("only 8-bit TIFF supported")
    spp = tags.get(277, [1])[0]
    if spp not in (1, 3):
        raise PngError(f"{spp} samples/pixel unsupported")
    compression = tags.get(259, [1])[0]
    predictor = tags.get(317, [1])[0]
    if 322 in tags:
        raise PngError("tiled TIFF unsupported")
    offsets = tags.get(273)
    counts = tags.get(279)
    if not offsets or not counts:
        raise PngError("TIFF missing strip layout")
    rows_per_strip = tags.get(278, [h])[0]
    out = bytearray()
    for si, (off, cnt) in enumerate(zip(offsets, counts)):
        strip_rows = min(rows_per_strip, h - si * rows_per_strip)
        expected = strip_rows * w * spp
        raw = data[off : off + cnt]
        if compression == 1:
            out.extend(raw[:expected])
        elif compression == 5:
            out.extend(_tiff_lzw_decode(raw, expected))
        elif compression == 32773:
            out.extend(_packbits_decode(raw, expected))
        else:
            raise PngError(f"TIFF compression {compression} unsupported")
    if len(out) < h * w * spp:
        raise PngError("TIFF pixel data truncated")
    arr = np.frombuffer(bytes(out[: h * w * spp]), dtype=np.uint8)
    arr = arr.reshape(h, w) if spp == 1 else arr.reshape(h, w, spp)
    if predictor == 2:
        # horizontal differencing: per-sample cumulative sum along the row
        # (mod 256; axis 1 is the pixel axis for both (h,w) and (h,w,3))
        arr = np.cumsum(arr.astype(np.uint64), axis=1).astype(np.uint8)
    return arr


def tiff_encode(arr: np.ndarray, compression: int = 1) -> bytes:
    """Fixture writer: little-endian single-strip TIFF, 8-bit gray or RGB,
    compression none (1) or PackBits (32773)."""
    a = np.ascontiguousarray(arr, dtype=np.uint8)
    gray = a.ndim == 2
    h, w = a.shape[0], a.shape[1]
    spp = 1 if gray else a.shape[2]
    pixels = a.tobytes()
    if compression == 32773:
        # naive packbits: literal runs of ≤128
        packed = bytearray()
        for i in range(0, len(pixels), 128):
            blk = pixels[i : i + 128]
            packed.append(len(blk) - 1)
            packed.extend(blk)
        pixels = bytes(packed)
    elif compression != 1:
        raise PngError("fixture writer supports none/packbits only")
    header = b"II*\x00" + struct.pack("<I", 8)
    entries = [
        (256, 3, 1, w),
        (257, 3, 1, h),
        (258, 3, 1, 8) if gray else (258, 3, 3, None),  # BitsPerSample
        (259, 3, 1, compression),
        (262, 3, 1, 1),  # BlackIsZero
        (273, 4, 1, None),  # StripOffsets (patched)
        (277, 3, 1, spp),
        (278, 3, 1, h),
        (279, 4, 1, len(pixels)),
    ]
    n = len(entries)
    ifd_off = 8
    extra = bytearray()
    extra_base = ifd_off + 2 + 12 * n + 4
    body = bytearray()
    body += struct.pack("<H", n)
    strip_off_pos = None
    for tag, dtype, count, val in entries:
        body += struct.pack("<HHI", tag, dtype, count)
        if tag == 273:
            strip_off_pos = len(body)
            body += struct.pack("<I", 0)
        elif tag == 258 and not gray:
            body += struct.pack("<I", extra_base + len(extra))
            extra += struct.pack("<HHH", 8, 8, 8) + b"\x00\x00"
        elif dtype == 3:
            body += struct.pack("<HH", val, 0)
        else:
            body += struct.pack("<I", val)
    body += struct.pack("<I", 0)  # next IFD
    pixel_off = extra_base + len(extra)
    struct.pack_into("<I", body, strip_off_pos, pixel_off)
    return header + bytes(body) + bytes(extra) + pixels


def bmp_decode(data: bytes) -> np.ndarray:
    """Uncompressed BI_RGB BMP (8-bit paletted or 24/32-bit), bottom-up or
    top-down rows, 4-byte row padding. Returns (H,W,3) RGB or (H,W) gray
    for an identity-gray palette."""
    if data[:2] != b"BM" or len(data) < 54:
        raise PngError("not a BMP")
    (pixel_off,) = struct.unpack("<I", data[10:14])
    (hdr_size,) = struct.unpack("<I", data[14:18])
    w, h = struct.unpack("<ii", data[18:26])
    planes, bpp = struct.unpack("<HH", data[26:30])
    (compression,) = struct.unpack("<I", data[30:34])
    if compression != 0:
        raise PngError(f"BMP compression {compression} unsupported")
    if bpp not in (8, 24, 32):
        raise PngError(f"{bpp}-bit BMP unsupported")
    top_down = h < 0
    h = abs(h)
    row_bytes = (w * bpp // 8 + 3) & ~3
    raw = data[pixel_off : pixel_off + row_bytes * h]
    if len(raw) < row_bytes * h:
        raise PngError("BMP pixel data truncated")
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(h, row_bytes)
    if not top_down:
        rows = rows[::-1]
    if bpp == 8:
        palette = np.frombuffer(
            data[14 + hdr_size : 14 + hdr_size + 1024], dtype=np.uint8
        ).reshape(-1, 4)[:, :3][:, ::-1]  # BGRA -> RGB
        idx = rows[:, :w]
        if len(palette) >= 256 and np.all(palette[:, 0] == palette[:, 1]) and np.all(
            palette[:, 1] == palette[:, 2]
        ):
            return palette[idx][:, :, 0]  # grayscale palette
        return palette[np.clip(idx, 0, len(palette) - 1)]
    nch = bpp // 8
    px = rows[:, : w * nch].reshape(h, w, nch)
    return np.ascontiguousarray(px[:, :, 2::-1])  # BGR(A) -> RGB
