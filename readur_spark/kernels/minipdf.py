"""Minimal PDF text-layer writer + parser (pure stdlib, zlib FlateDecode).

The reference shells out to poppler (``pdftotext -layout`` for the quick
text layer, ``pdfinfo`` for page counts, ``pdfimages -list`` for the
embedded-image probe — /root/reference/src/ocr/enhanced.rs:1232-1438).
This container has no PDF tooling, so the engine carries its own
deterministic implementation of the same contract, built from the public
PDF 1.7 spec (ISO 32000-1):

* object scan (``N 0 obj … endobj``), FlateDecode via stdlib zlib;
* page-tree walk (``/Type /Pages`` → ``/Kids`` order) for page ordering;
* content-stream tokenizer for the text operators
  (``BT/ET, Tf, Td, TD, Tm, T*, TL, Tj, ', ", TJ``) collecting positioned
  text runs;
* reading-order reconstruction: runs grouped into lines by y (descending —
  PDF y-axis points up), runs within a line ordered by x, runs joined with
  single spaces, pages joined with form-feed (pdftotext's page separator).

The writer produces small spec-conformant single/multi-page PDFs (optional
Flate compression, optional embedded image XObject) used as test fixtures —
the analog of the reference's ``create_test_pdfs.py``.
"""

from __future__ import annotations

import re
import zlib

# --------------------------------------------------------------------------
# Writer (fixtures)
# --------------------------------------------------------------------------


def _esc(text: str) -> str:
    return text.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def build_pdf(
    pages: list[list[tuple[float, float, str]]],
    compress: bool = False,
    with_image: bool = False,
) -> bytes:
    """Build a PDF whose page ``i`` shows the given ``(x, y, text)`` runs.

    ``y`` is in PDF points from the *bottom* of a 612×792 page — larger y is
    higher on the page."""
    objects: dict[int, bytes] = {}
    n_pages = len(pages)
    font_obj = 3 + 2 * n_pages
    image_obj = font_obj + 1

    kids = " ".join(f"{3 + 2 * i} 0 R" for i in range(n_pages))
    objects[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    objects[2] = f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode()

    for i, runs in enumerate(pages):
        page_num = 3 + 2 * i
        content_num = page_num + 1
        resources = f"<< /Font << /F1 {font_obj} 0 R >>"
        if with_image:
            resources += f" /XObject << /Im1 {image_obj} 0 R >>"
        resources += " >>"
        objects[page_num] = (
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            f"/Contents {content_num} 0 R /Resources {resources} >>"
        ).encode()
        ops = []
        for x, y, text in runs:
            ops.append(f"BT /F1 12 Tf {x:g} {y:g} Td ({_esc(text)}) Tj ET")
        if with_image:
            ops.append("q 10 0 0 10 500 700 cm /Im1 Do Q")
        stream = "\n".join(ops).encode("latin-1")
        if compress:
            comp = zlib.compress(stream)
            objects[content_num] = (
                f"<< /Length {len(comp)} /Filter /FlateDecode >>".encode(),
                comp,
            )
        else:
            objects[content_num] = (f"<< /Length {len(stream)} >>".encode(), stream)

    objects[font_obj] = b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    if with_image:
        pix = bytes([0, 64, 128, 255])
        objects[image_obj] = (
            b"<< /Type /XObject /Subtype /Image /Width 2 /Height 2 "
            b"/ColorSpace /DeviceGray /BitsPerComponent 8 /Length 4 >>",
            pix,
        )

    out = bytearray(b"%PDF-1.4\n")
    offsets = {}
    for num in sorted(objects):
        offsets[num] = len(out)
        val = objects[num]
        out += f"{num} 0 obj\n".encode()
        if isinstance(val, tuple):
            d, s = val
            out += d + b"\nstream\n" + s + b"\nendstream\nendobj\n"
        else:
            out += val + b"\nendobj\n"
    xref_at = len(out)
    maxnum = max(objects)
    out += f"xref\n0 {maxnum + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for num in range(1, maxnum + 1):
        off = offsets.get(num, 0)
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {maxnum + 1} /Root 1 0 R >>\nstartxref\n{xref_at}\n%%EOF\n"
    ).encode()
    return bytes(out)


# --------------------------------------------------------------------------
# Parser
# --------------------------------------------------------------------------

_OBJ_RE = re.compile(rb"(\d+)\s+\d+\s+obj(.*?)endobj", re.DOTALL)
_STREAM_RE = re.compile(rb"stream\r?\n(.*?)\r?\nendstream", re.DOTALL)
_KIDS_RE = re.compile(rb"/Kids\s*\[(.*?)\]", re.DOTALL)
_REF_RE = re.compile(rb"(\d+)\s+0\s+R")
_CONTENTS_RE = re.compile(rb"/Contents\s+(\d+)\s+0\s+R")
_CONTENTS_ARR_RE = re.compile(rb"/Contents\s*\[(.*?)\]", re.DOTALL)


def _objects(data: bytes) -> dict[int, bytes]:
    return {int(m.group(1)): m.group(2) for m in _OBJ_RE.finditer(data)}


def _dict_part(body: bytes) -> bytes:
    m = _STREAM_RE.search(body)
    return body[: m.start()] if m else body


def _stream_part(body: bytes) -> bytes | None:
    m = _STREAM_RE.search(body)
    if not m:
        return None
    raw = m.group(1)
    if b"/FlateDecode" in _dict_part(body):
        try:
            return zlib.decompress(raw)
        except zlib.error:
            return None
    return raw


def pdf_page_count(data: bytes) -> int:
    """P5 analog of ``pdfinfo`` Pages: (enhanced.rs:1379-1399)."""
    n = 0
    for body in _objects(data).values():
        d = _dict_part(body)
        if re.search(rb"/Type\s*/Page\b", d) and not re.search(rb"/Type\s*/Pages\b", d):
            n += 1
    return n


def pdf_has_images(data: bytes) -> bool:
    """P4 analog of ``pdfimages -list`` (enhanced.rs:1345-1376): any image
    XObject present. Image dicts are plaintext even when the pixel stream
    is compressed."""
    return re.search(rb"/Subtype\s*/Image\b", data) is not None


def _page_order(objs: dict[int, bytes]) -> list[int]:
    """Page object numbers in page-tree order; ascending-number fallback."""
    pages_nodes = {
        num: body
        for num, body in objs.items()
        if re.search(rb"/Type\s*/Pages\b", _dict_part(body))
    }
    leaves: list[int] = []

    def walk(num: int, seen: set[int]) -> None:
        if num in seen:
            return
        seen.add(num)
        body = objs.get(num)
        if body is None:
            return
        d = _dict_part(body)
        if re.search(rb"/Type\s*/Pages\b", d):
            m = _KIDS_RE.search(d)
            if m:
                for ref in _REF_RE.finditer(m.group(1)):
                    walk(int(ref.group(1)), seen)
        elif re.search(rb"/Type\s*/Page\b", d):
            leaves.append(num)

    # find root Pages node (one not referenced by another Pages node's Kids)
    kid_refs = set()
    for body in pages_nodes.values():
        m = _KIDS_RE.search(_dict_part(body))
        if m:
            kid_refs.update(int(r.group(1)) for r in _REF_RE.finditer(m.group(1)))
    roots = [n for n in pages_nodes if n not in kid_refs]
    seen: set[int] = set()
    for r in sorted(roots):
        walk(r, seen)
    if leaves:
        return leaves
    return sorted(
        num
        for num, body in objs.items()
        if re.search(rb"/Type\s*/Page\b", _dict_part(body))
        and not re.search(rb"/Type\s*/Pages\b", _dict_part(body))
    )


def _page_content(objs: dict[int, bytes], page_num: int) -> bytes:
    body = objs.get(page_num, b"")
    d = _dict_part(body)
    streams: list[bytes] = []
    m = _CONTENTS_RE.search(d)
    refs: list[int] = []
    if m:
        refs = [int(m.group(1))]
    else:
        ma = _CONTENTS_ARR_RE.search(d)
        if ma:
            refs = [int(r.group(1)) for r in _REF_RE.finditer(ma.group(1))]
    for ref in refs:
        s = _stream_part(objs.get(ref, b""))
        if s:
            streams.append(s)
    return b"\n".join(streams)


def _decode_pdf_string(raw: bytes) -> str:
    out = bytearray()
    i = 0
    esc = {
        ord("n"): 10, ord("r"): 13, ord("t"): 9, ord("b"): 8, ord("f"): 12,
        ord("("): 40, ord(")"): 41, ord("\\"): 92,
    }
    while i < len(raw):
        c = raw[i]
        if c == 0x5C and i + 1 < len(raw):  # backslash
            n = raw[i + 1]
            if n in esc:
                out.append(esc[n])
                i += 2
            elif 0x30 <= n <= 0x37:  # octal
                j = i + 1
                oct_digits = []
                while j < len(raw) and len(oct_digits) < 3 and 0x30 <= raw[j] <= 0x37:
                    oct_digits.append(raw[j])
                    j += 1
                out.append(int(bytes(oct_digits), 8) & 0xFF)
                i = j
            elif n in (10, 13):  # line continuation
                i += 2
            else:
                out.append(n)
                i += 2
        else:
            out.append(c)
            i += 1
    return out.decode("latin-1")


def _tokenize_content(stream: bytes):
    """Yield ('str'|'num'|'name'|'op'|'arr_open'|'arr_close', value)."""
    i = 0
    n = len(stream)
    while i < n:
        c = stream[i]
        if c in b" \t\r\n\x00":
            i += 1
        elif c == 0x28:  # (
            depth = 1
            j = i + 1
            buf = bytearray()
            while j < n and depth > 0:
                ch = stream[j]
                if ch == 0x5C and j + 1 < n:
                    buf.append(ch)
                    buf.append(stream[j + 1])
                    j += 2
                    continue
                if ch == 0x28:
                    depth += 1
                elif ch == 0x29:
                    depth -= 1
                    if depth == 0:
                        j += 1
                        break
                buf.append(ch)
                j += 1
            yield ("str", _decode_pdf_string(bytes(buf)))
            i = j
        elif c == 0x3C and i + 1 < n and stream[i + 1] != 0x3C:  # <hex>
            j = stream.find(b">", i)
            if j == -1:
                break
            hexs = re.sub(rb"\s", b"", stream[i + 1 : j])
            if len(hexs) % 2:
                hexs += b"0"
            yield ("str", bytes.fromhex(hexs.decode("ascii")).decode("latin-1"))
            i = j + 1
        elif c == 0x3C:  # << dict — skip to matching >>
            depth = 0
            j = i
            while j < n - 1:
                if stream[j : j + 2] == b"<<":
                    depth += 1
                    j += 2
                elif stream[j : j + 2] == b">>":
                    depth -= 1
                    j += 2
                    if depth == 0:
                        break
                else:
                    j += 1
            i = j
        elif c == 0x5B:  # [
            yield ("arr_open", None)
            i += 1
        elif c == 0x5D:  # ]
            yield ("arr_close", None)
            i += 1
        elif c == 0x2F:  # /name
            j = i + 1
            while j < n and stream[j] not in b" \t\r\n()<>[]{}/%":
                j += 1
            yield ("name", stream[i + 1 : j].decode("latin-1", "replace"))
            i = j
        elif c in b"+-.0123456789":
            j = i + 1
            while j < n and stream[j] in b"+-.0123456789eE":
                j += 1
            try:
                yield ("num", float(stream[i:j]))
            except ValueError:
                pass
            i = j
        else:  # operator
            j = i
            while j < n and stream[j] not in b" \t\r\n()<>[]{}/%" and not (
                stream[j] in b"+-.0123456789" and j > i
            ):
                j += 1
            if j == i:
                i += 1
                continue
            yield ("op", stream[i:j].decode("latin-1", "replace"))
            i = j


def _runs_from_content(stream: bytes) -> list[tuple[float, float, str]]:
    """(x, y, text) runs from one page's content stream(s)."""
    runs: list[tuple[float, float, str]] = []
    x = y = 0.0
    leading = 0.0
    operands: list = []
    in_array: list | None = None
    for kind, val in _tokenize_content(stream):
        if kind == "arr_open":
            in_array = []
        elif kind == "arr_close":
            operands.append(in_array or [])
            in_array = None
        elif kind in ("str", "num", "name"):
            (in_array if in_array is not None else operands).append(val)
        elif kind == "op":
            op = val
            try:
                if op == "BT":
                    x = y = 0.0
                elif op == "Tm" and len(operands) >= 6:
                    x, y = float(operands[-2]), float(operands[-1])
                elif op in ("Td", "TD") and len(operands) >= 2:
                    x += float(operands[-2])
                    y += float(operands[-1])
                    if op == "TD":
                        leading = -float(operands[-1])
                elif op == "TL" and operands:
                    leading = float(operands[-1])
                elif op == "T*":
                    y -= leading
                elif op == "Tj" and operands and isinstance(operands[-1], str):
                    runs.append((x, y, operands[-1]))
                elif op == "'" and operands and isinstance(operands[-1], str):
                    y -= leading
                    runs.append((x, y, operands[-1]))
                elif op == '"' and operands and isinstance(operands[-1], str):
                    y -= leading
                    runs.append((x, y, operands[-1]))
                elif op == "TJ" and operands and isinstance(operands[-1], list):
                    text = "".join(t for t in operands[-1] if isinstance(t, str))
                    if text:
                        runs.append((x, y, text))
            except (TypeError, ValueError):
                pass
            operands = []
    return runs


def _assemble_page(runs: list[tuple[float, float, str]]) -> str:
    """Reading order: lines by descending y (0.5 pt tolerance), runs within
    a line by ascending x, joined with single spaces."""
    if not runs:
        return ""
    lines: list[tuple[float, list[tuple[float, str]]]] = []
    for x, y, text in sorted(runs, key=lambda r: (-r[1], r[0])):
        if lines and abs(lines[-1][0] - y) <= 0.5:
            lines[-1][1].append((x, text))
        else:
            lines.append((y, [(x, text)]))
    out_lines = []
    for _, items in lines:
        out_lines.append(" ".join(t for _, t in sorted(items, key=lambda p: p[0])))
    return "\n".join(out_lines)


def extract_text_layer(data: bytes) -> list[str]:
    """Per-page text layer in page order (P1 analog of
    ``pdftotext -layout``)."""
    objs = _objects(data)
    pages = _page_order(objs)
    out = []
    for p in pages:
        out.append(_assemble_page(_runs_from_content(_page_content(objs, p))))
    return out


# --------------------------------------------------------------------------
# Multi-column reading order: recursive X-Y cut
# --------------------------------------------------------------------------

#: approximate glyph advance (pt per char at text size ~10) used to give
#: text runs a bounding box for white-band detection; the tokenizer keeps
#: baselines only, and column gutters dwarf this approximation
_CHAR_W = 6.0
_LINE_H = 10.0
#: minimum white-band widths (pt) recognized as column gutters / block
#: separators; they suit letter-size pages (a gutter is ≥0.3 in ≈ 22 pt
#: in print layouts)
_MIN_COL_GAP = 24.0
_MIN_BAND_GAP = 18.0


def _xycut(boxes):
    """Recursive X-Y cut (Nagy & Seth, "Hierarchical representation of
    optically scanned documents", ICPR 1984 — the classic layout-analysis
    decomposition): split the region at the widest horizontal white band
    (reading top-to-bottom), else at vertical white bands (columns,
    left-to-right), recursing until no qualifying gap remains; leaves
    assemble in the single-column line order. This is what fixes the
    naive y-sort interleaving two columns line-by-line.

    ``boxes``: (x0, x1, y0, y1, run) tuples; returns the reading-ordered
    LEAF BLOCKS (one list of runs per undividable region) so the caller
    can line-assemble each block independently.
    """
    if len(boxes) <= 1:
        return [[b[4] for b in boxes]] if boxes else []

    def gaps(intervals, min_gap):
        # maximal white gaps between merged occupied intervals
        out = []
        intervals = sorted(intervals)
        cur_end = intervals[0][1]
        for s, e in intervals[1:]:
            if s - cur_end >= min_gap:
                out.append((s - cur_end, cur_end, s))
            cur_end = max(cur_end, e)
        return out

    # 1) horizontal white band -> top block(s) read before bottom
    hg = gaps([(b[2], b[3]) for b in boxes], _MIN_BAND_GAP)
    if hg:
        _, lo, hi = max(hg)
        cut = (lo + hi) / 2.0
        top = [b for b in boxes if b[2] >= cut]  # PDF y points up
        bottom = [b for b in boxes if b[2] < cut]
        if top and bottom:
            return _xycut(top) + _xycut(bottom)
    # 2) vertical white band -> left column before right column
    vg = gaps([(b[0], b[1]) for b in boxes], _MIN_COL_GAP)
    if vg:
        _, lo, hi = max(vg)
        cut = (lo + hi) / 2.0
        left = [b for b in boxes if b[0] < cut]
        right = [b for b in boxes if b[0] >= cut]
        if left and right:
            return _xycut(left) + _xycut(right)
    # 3) leaf: emit as one block
    return [[b[4] for b in boxes]]


def _assemble_layout(runs) -> str:
    if not runs:
        return ""
    boxes = [
        (x, x + _CHAR_W * max(len(t), 1), y, y + _LINE_H, (x, y, t))
        for x, y, t in runs
    ]
    # each leaf assembles with EXACTLY the single-column line logic
    # (anchored 0.5pt baseline tolerance, runs within a line resorted by
    # x) — so a page with no qualifying cut equals extract_text_layer
    # verbatim, and sub-tolerance baseline jitter can't drift lines
    # apart (round-5 review)
    leaves = _xycut(boxes)
    return "\n".join(
        _assemble_page(leaf) for leaf in leaves if leaf
    )


def extract_text_layout(data: bytes) -> list[str]:
    """Per-page text with COLUMN-AWARE reading order (the north star's
    "layout parsing with reading-order reconstruction"): recursive X-Y
    cut segments each page into blocks/columns before line assembly, so
    a two-column article reads column by column instead of the naive
    y-sort's line-by-line interleave. Single-column pages degenerate to
    exactly :func:`extract_text_layer`'s order (tested)."""
    objs = _objects(data)
    pages = _page_order(objs)
    return [
        _assemble_layout(_runs_from_content(_page_content(objs, p)))
        for p in pages
    ]


def pdf_metadata(data: bytes) -> dict:
    """P12: lightweight PDF metadata by byte/regex scan
    (/root/reference/src/metadata_extraction.rs:84-136): version from the
    header, page count, encryption flag, creation date string, has-fonts /
    has-images flags."""
    version = None
    m = re.search(rb"%PDF-(\d+\.\d+)", data[:1024])
    if m:
        version = m.group(1).decode("ascii")
    created = None
    mc = re.search(rb"/CreationDate\s*\(([^)]*)\)", data)
    if mc:
        created = mc.group(1).decode("latin-1", "replace")
    return {
        "pdf_version": version,
        "page_count": pdf_page_count(data),
        "encrypted": re.search(rb"/Encrypt\b", data) is not None,
        "creation_date": created,
        "has_fonts": re.search(rb"/Type\s*/Font\b", data) is not None,
        "has_images": pdf_has_images(data),
    }


def ascii_salvage(data: bytes) -> str:
    """P10: last-resort raw-bytes text salvage
    (/root/reference/src/ocr/mod.rs:261-298): printable-ASCII runs longer
    than 3 bytes, then drop 1-char words."""
    words: list[str] = []
    cur = bytearray()
    for b in data:
        if 32 <= b <= 126:
            cur.append(b)
        else:
            if len(cur) > 3:
                words.append(cur.decode("ascii"))
            cur = bytearray()
    if len(cur) > 3:
        words.append(cur.decode("ascii"))
    joined = " ".join(words)
    return " ".join(w for w in joined.split() if len(w) > 1)


# --------------------------------------------------------------------------
# P6: page rendering (the pdftoppm analog, enhanced.rs:1402-1438)
# --------------------------------------------------------------------------

_MEDIABOX_RE = re.compile(rb"/MediaBox\s*\[\s*([\d.+-]+)\s+([\d.+-]+)\s+([\d.+-]+)\s+([\d.+-]+)\s*\]")


def pdf_media_boxes(data: bytes) -> list[tuple[float, float]]:
    """(width, height) in PDF points per page, in page order; US-Letter
    612x792 when a page carries no MediaBox (the PDF default inheritance
    is from /Pages, which this minimal parser folds to the default)."""
    objs = _objects(data)
    out = []
    for p in _page_order(objs):
        m = _MEDIABOX_RE.search(objs.get(p, b""))
        if m:
            x0, y0, x1, y1 = (float(m.group(i)) for i in range(1, 5))
            out.append((abs(x1 - x0), abs(y1 - y0)))
        else:
            out.append((612.0, 792.0))
    return out


def render_pdf_pages(data: bytes, dpi: int = 300):
    """Rasterize pages to grayscale numpy arrays (the ``pdftoppm -png -r
    300`` stage of the reference's per-page OCR path,
    enhanced.rs:1402-1438).

    Geometry is REAL: page count, MediaBox dimensions, DPI scaling, PDF
    y-up -> raster y-down mapping, and per-run ink placement all come from
    the parsed document. Glyph shapes are real too: each character is
    stamped with the built-in 5×7 bitmap font (kernels/font5x7.py) at font
    pixel ``k = max(1, round(dpi/72))`` — one font pixel per PDF point, so
    a char cell advances 6 pt and the glyph sits 7 pt above its baseline.
    ``GlyphOcrEngine`` reads these pages back exactly, closing the
    render→OCR loop end-to-end. A real deployment swaps in
    pdftoppm/pdfium; the page-iteration and assembly contracts stay."""
    import numpy as np

    from readur_spark.kernels.font5x7 import CELL_H, draw_text

    objs = _objects(data)
    pages = _page_order(objs)
    boxes = pdf_media_boxes(data)
    scale = dpi / 72.0
    k = max(1, int(round(scale)))
    out = []
    for p, (pw, ph) in zip(pages, boxes):
        w = max(1, int(round(pw * scale)))
        h = max(1, int(round(ph * scale)))
        img = np.full((h, w), 255, dtype=np.uint8)
        for x, y, text in _runs_from_content(_page_content(objs, p)):
            if not text:
                continue
            px = int(round(x * scale))
            # PDF origin bottom-left; the run's y is the baseline, and the
            # glyph cell extends CELL_H font pixels above it
            py_base = int(round((ph - y) * scale))
            draw_text(img, text, py_base - CELL_H * k, px, k)
        out.append(img)
    return out
