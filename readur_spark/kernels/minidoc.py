"""Minimal native legacy-DOC (.doc) text extraction: OLE2/CFB container
parser + Word FIB text-range read.

The reference shells out to antiword/catdoc/wvText and degrades with
guidance when none are installed (/root/reference/src/ocr/
xml_extractor.rs:1069-1152). No external tools exist in this container,
so this module is the in-repo first rung of that ladder: it natively
extracts text from NON-COMPLEX (non-incrementally-saved, unencrypted)
Word binary files — the common case for simple exports — and returns a
clear error for complex/encrypted ones so the caller degrades exactly
like the reference's all-tools-failed path.

Scope honestly stated: complex files (fComplex piece tables), encrypted
files, and embedded objects are NOT parsed — error, not silent garbage.

Format references (public): MS-CFB (compound file binary) and MS-DOC
(FIB layout: wIdent 0xA5EC, flags at 0x0A, fcMin/fcMac at 0x18/0x1C).
"""

from __future__ import annotations

import struct

_OLE_MAGIC = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"
_ENDOFCHAIN = 0xFFFFFFFE
_FREESECT = 0xFFFFFFFF


class DocError(ValueError):
    pass


def ole2_streams(data: bytes) -> dict[str, bytes]:
    """Parse an OLE2 compound file into {stream_name: bytes}. Supports the
    v3 layout (512-byte sectors), DIFAT continuation, and the miniFAT for
    streams under the cutoff."""
    if len(data) < 512 or not data.startswith(_OLE_MAGIC):
        raise DocError("not an OLE2 compound file")
    sector_shift = struct.unpack("<H", data[30:32])[0]
    mini_shift = struct.unpack("<H", data[32:34])[0]
    ssz = 1 << sector_shift
    msz = 1 << mini_shift
    num_fat = struct.unpack("<I", data[44:48])[0]
    first_dir = struct.unpack("<I", data[48:52])[0]
    mini_cutoff = struct.unpack("<I", data[56:60])[0]
    first_minifat = struct.unpack("<I", data[60:64])[0]
    first_difat = struct.unpack("<I", data[68:72])[0]
    num_difat = struct.unpack("<I", data[72:76])[0]

    def sector(n: int) -> bytes:
        off = (n + 1) * ssz
        return data[off : off + ssz]

    # DIFAT: 109 header entries + continuation sectors
    difat = list(struct.unpack("<109I", data[76 : 76 + 436]))
    nxt = first_difat
    for _ in range(num_difat):
        if nxt in (_ENDOFCHAIN, _FREESECT):
            break
        s = sector(nxt)
        entries = struct.unpack(f"<{ssz // 4}I", s)
        difat.extend(entries[:-1])
        nxt = entries[-1]
    fat_sectors = [x for x in difat if x != _FREESECT][:num_fat]
    fat: list[int] = []
    for fs in fat_sectors:
        fat.extend(struct.unpack(f"<{ssz // 4}I", sector(fs)))

    def chain(start: int, limit: int = 1 << 22) -> bytes:
        out = bytearray()
        n = start
        seen = 0
        while n not in (_ENDOFCHAIN, _FREESECT) and n < len(fat):
            out.extend(sector(n))
            n = fat[n]
            seen += 1
            if seen * ssz > limit:
                raise DocError("sector chain too long (corrupt FAT?)")
        return bytes(out)

    # directory
    dir_bytes = chain(first_dir)
    entries = []
    for off in range(0, len(dir_bytes) - 127, 128):
        e = dir_bytes[off : off + 128]
        name_len = struct.unpack("<H", e[64:66])[0]
        if name_len < 2 or name_len > 64:
            continue
        name = e[: name_len - 2].decode("utf-16-le", errors="replace")
        etype = e[66]
        start = struct.unpack("<I", e[116:120])[0]
        size = struct.unpack("<I", e[120:124])[0]
        entries.append({"name": name, "type": etype, "start": start, "size": size})
    root = next((e for e in entries if e["type"] == 5), None)

    # mini stream + miniFAT
    mini_stream = chain(root["start"]) if root and root["start"] != _ENDOFCHAIN else b""
    minifat: list[int] = []
    if first_minifat not in (_ENDOFCHAIN, _FREESECT):
        mf = chain(first_minifat)
        minifat = list(struct.unpack(f"<{len(mf) // 4}I", mf))

    def mini_chain(start: int) -> bytes:
        out = bytearray()
        n = start
        while n not in (_ENDOFCHAIN, _FREESECT) and n < len(minifat) + 1 and n * msz < len(mini_stream) + msz:
            out.extend(mini_stream[n * msz : (n + 1) * msz])
            if n >= len(minifat):
                break
            n = minifat[n]
        return bytes(out)

    streams: dict[str, bytes] = {}
    for e in entries:
        if e["type"] != 2:
            continue
        raw = mini_chain(e["start"]) if e["size"] < mini_cutoff else chain(e["start"])
        streams[e["name"]] = raw[: e["size"]]
    return streams


def extract_doc(data: bytes) -> tuple[str | None, str | None]:
    """(text, error) from a legacy .doc. Non-complex files only — complex,
    encrypted, or non-Word OLE2 containers return the error arm."""
    try:
        streams = ole2_streams(data)
    except DocError as e:
        return None, f"DOC parse failed: {e}"
    wd = streams.get("WordDocument")
    if wd is None or len(wd) < 32:
        return None, "OLE2 container has no WordDocument stream (not a Word file?)"
    wident = struct.unpack("<H", wd[0:2])[0]
    if wident != 0xA5EC:
        return None, f"WordDocument stream has wrong FIB magic 0x{wident:04x}"
    flags = struct.unpack("<H", wd[10:12])[0]
    if flags & 0x0100:
        return None, "DOC file is encrypted - decryption is unsupported"
    if flags & 0x0004:
        return None, (
            "DOC file uses a complex (incremental-save) piece table - "
            "native extraction handles non-complex files only; convert to DOCX"
        )
    fc_min = struct.unpack("<I", wd[24:28])[0]
    fc_mac = struct.unpack("<I", wd[28:32])[0]
    if not (0 < fc_min < fc_mac <= len(wd)):
        return None, "DOC text range (fcMin/fcMac) out of bounds - corrupted file?"
    raw = wd[fc_min:fc_mac]
    if flags & 0x1000:  # fExtChar → 16-bit text
        text = raw.decode("utf-16-le", errors="replace")
    else:
        text = raw.decode("cp1252", errors="replace")
    # Word control characters: \r = paragraph mark, \x07 = cell mark,
    # \x0b = soft line break; drop the rest of C0
    text = (
        text.replace("\r\n", "\n").replace("\r", "\n").replace("\x0b", "\n").replace("\x07", "\t")
    )
    text = "".join(c for c in text if c >= " " or c in "\n\t")
    stripped = text.strip()
    if not stripped:
        return None, "DOC contained no extractable text"
    alnum = sum(c.isalnum() for c in stripped)
    if alnum / max(len(stripped), 1) < 0.1:
        return None, "DOC text range decoded to <10% alphanumeric content - corrupted file?"
    return text, None


# --------------------------------------------------------------------------
# Fixture writer (tests only): minimal valid OLE2 + non-complex FIB
# --------------------------------------------------------------------------


def build_doc(text: str, extchar: bool = False, complex_flag: bool = False) -> bytes:
    """Build a minimal valid .doc: one FAT sector, one directory sector,
    a WordDocument stream (FIB + text, padded past the 4096-byte mini
    cutoff so it lives in the regular FAT)."""
    body = text.replace("\n", "\r").encode("utf-16-le" if extchar else "cp1252")
    fib = bytearray(1024)
    struct.pack_into("<H", fib, 0, 0xA5EC)
    struct.pack_into("<H", fib, 2, 0x00C1)
    flags = (0x1000 if extchar else 0) | (0x0004 if complex_flag else 0)
    struct.pack_into("<H", fib, 10, flags)
    struct.pack_into("<I", fib, 24, 1024)
    struct.pack_into("<I", fib, 28, 1024 + len(body))
    wd = bytes(fib) + body
    wd += b"\x00" * max(0, 4096 - len(wd))
    n_wd_sectors = (len(wd) + 511) // 512
    wd_padded = wd + b"\x00" * (n_wd_sectors * 512 - len(wd))

    # sector layout: 0 = FAT, 1 = directory, 2.. = WordDocument
    fat = [0xFFFFFFFD, _ENDOFCHAIN]  # FAT sector marker, dir end
    for i in range(n_wd_sectors):
        fat.append(3 + i if i < n_wd_sectors - 1 else _ENDOFCHAIN)
    fat += [_FREESECT] * (128 - len(fat))
    fat_sector = struct.pack("<128I", *fat)

    def dir_entry(name: str, etype: int, start: int, size: int, child: int = _FREESECT) -> bytes:
        e = bytearray(128)
        nb = name.encode("utf-16-le") + b"\x00\x00"
        e[: len(nb)] = nb
        struct.pack_into("<H", e, 64, len(nb))
        e[66] = etype
        e[67] = 1  # black
        struct.pack_into("<I", e, 68, _FREESECT)  # left
        struct.pack_into("<I", e, 72, _FREESECT)  # right
        struct.pack_into("<I", e, 76, child)
        struct.pack_into("<I", e, 116, start)
        struct.pack_into("<I", e, 120, size)
        return bytes(e)

    directory = (
        dir_entry("Root Entry", 5, _ENDOFCHAIN, 0, child=1)
        + dir_entry("WordDocument", 2, 2, len(wd))
        + b"\x00" * 256
    )

    header = bytearray(512)
    header[:8] = _OLE_MAGIC
    struct.pack_into("<H", header, 24, 0x003E)  # minor
    struct.pack_into("<H", header, 26, 0x0003)  # major (v3)
    struct.pack_into("<H", header, 28, 0xFFFE)  # little-endian
    struct.pack_into("<H", header, 30, 9)  # 512-byte sectors
    struct.pack_into("<H", header, 32, 6)  # 64-byte mini sectors
    struct.pack_into("<I", header, 44, 1)  # one FAT sector
    struct.pack_into("<I", header, 48, 1)  # directory starts at sector 1
    struct.pack_into("<I", header, 56, 4096)  # mini cutoff
    struct.pack_into("<I", header, 60, _ENDOFCHAIN)  # no miniFAT
    struct.pack_into("<I", header, 64, 0)
    struct.pack_into("<I", header, 68, _ENDOFCHAIN)  # no DIFAT chain
    struct.pack_into("<I", header, 72, 0)
    struct.pack_into("<I", header, 76, 0)  # DIFAT[0] = FAT at sector 0
    for i in range(1, 109):
        struct.pack_into("<I", header, 76 + 4 * i, _FREESECT)

    return bytes(header) + fat_sector + directory + wd_padded
