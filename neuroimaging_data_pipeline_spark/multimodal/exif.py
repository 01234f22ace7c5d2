"""EXIF metadata codec (JEITA CP-3451 / TIFF 6.0 IFDs inside a JPEG
APP1 segment), stdlib-only — the metadata-extraction stage an image
corpus runs before any pixel work (orientation fixing, capture-time
dedup, camera-source stratification).

What is REAL here, both directions:

- the APP1 envelope: ``Exif\\x00\\x00`` identifier inside a standard
  JPEG marker segment, spliced right after SOI into a REAL JPEG from
  multimodal/jpeg.py (whose decoder already skips APPn segments, so
  the same bytes still decode to pixels);
- the TIFF structure: byte-order mark (``II`` little-endian for even
  ids, ``MM`` big-endian for odd — both orders written and parsed),
  the 42 magic, IFD0 entry tables (tag / type / count / value-or-
  offset), the 4-byte inline-value rule with out-of-line storage for
  longer values, and the chained Exif private sub-IFD reached
  through tag 0x8769;
- typed values: ASCII (NUL-terminated, offset-stored), SHORT, LONG,
  and RATIONAL (two LONGs, always offset-stored — exercised by
  ExposureTime).

The m24 oracle recomputes every field from the fixture formulas, so
an endianness, inline/offset, IFD-chain or type-decode bug breaks
the hash match.

Scale: opaque binary + Arrow ``map_rows``, narrow, zero shuffle.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from neuroimaging_data_pipeline_spark.functions.rowmap import map_rows

_TYPE_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8}  # BYTE ASCII SHORT LONG RATIONAL
TAG_MAKE = 0x010F
TAG_MODEL = 0x0110
TAG_ORIENTATION = 0x0112
TAG_DATETIME = 0x0132
TAG_EXIF_IFD = 0x8769
TAG_EXPOSURE = 0x829A  # RATIONAL
TAG_ISO = 0x8827
TAG_PIXEL_X = 0xA002
TAG_PIXEL_Y = 0xA003


def _entry_bytes(end: str, tag: int, typ: int, values) -> tuple[bytes, bytes]:
    """One IFD entry; returns (12-byte entry with a placeholder
    offset if out-of-line, payload-or-empty). The caller patches the
    offset."""
    if typ == 2:  # ASCII
        payload = values.encode() + b"\x00"
        count = len(payload)
    elif typ == 5:  # RATIONAL
        payload = b"".join(struct.pack(end + "II", n, d) for n, d in values)
        count = len(values)
    else:
        fmt = {3: "H", 4: "I"}[typ]
        payload = b"".join(struct.pack(end + fmt, v) for v in values)
        count = len(values)
    if len(payload) <= 4:
        inline = payload + b"\x00" * (4 - len(payload))
        return struct.pack(end + "HHI", tag, typ, count) + inline, b""
    return (
        struct.pack(end + "HHI", tag, typ, count) + b"\x00\x00\x00\x00",
        payload,
    )


def _ifd_bytes(end: str, at: int, entries: list[tuple]) -> bytes:
    """Serialize one IFD placed at absolute TIFF offset ``at``:
    count, entries, next-IFD 0, then the out-of-line value area."""
    packed = []
    payloads = []
    data_at = at + 2 + 12 * len(entries) + 4
    for tag, typ, values in sorted(entries):
        entry, payload = _entry_bytes(end, tag, typ, values)
        if payload:
            entry = entry[:8] + struct.pack(end + "I", data_at)
            payloads.append(payload)
            data_at += len(payload)
        packed.append(entry)
    return (
        struct.pack(end + "H", len(entries))
        + b"".join(packed)
        + struct.pack(end + "I", 0)
        + b"".join(payloads)
    )


def build_exif_app1(
    make: str,
    model: str,
    orientation: int,
    datetime: str,
    iso: int,
    exposure: tuple[int, int],
    pixel_x: int,
    pixel_y: int,
    little_endian: bool = True,
) -> bytes:
    """APP1 Exif segment (marker + length + Exif\\0\\0 + TIFF)."""
    end = "<" if little_endian else ">"
    bom = b"II" if little_endian else b"MM"
    # IFD0 first; the Exif sub-IFD pointer needs the sub-IFD offset,
    # which depends on IFD0's serialized size -> two-pass
    ifd0_entries = [
        (TAG_MAKE, 2, make),
        (TAG_MODEL, 2, model),
        (TAG_ORIENTATION, 3, [orientation]),
        (TAG_DATETIME, 2, datetime),
        (TAG_EXIF_IFD, 4, [0]),  # patched below
    ]
    ifd0 = _ifd_bytes(end, 8, ifd0_entries)
    sub_at = 8 + len(ifd0)
    ifd0_entries[-1] = (TAG_EXIF_IFD, 4, [sub_at])
    ifd0 = _ifd_bytes(end, 8, ifd0_entries)
    sub = _ifd_bytes(
        end,
        sub_at,
        [
            (TAG_EXPOSURE, 5, [exposure]),
            (TAG_ISO, 3, [iso]),
            (TAG_PIXEL_X, 4, [pixel_x]),
            (TAG_PIXEL_Y, 4, [pixel_y]),
        ],
    )
    tiff = bom + struct.pack(end + "HI", 42, 8) + ifd0 + sub
    body = b"Exif\x00\x00" + tiff
    return b"\xff\xe1" + struct.pack(">H", len(body) + 2) + body


def insert_exif(jpeg: bytes, app1: bytes) -> bytes:
    """Splice an APP1 segment right after SOI of a real JPEG."""
    if jpeg[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI)")
    return jpeg[:2] + app1 + jpeg[2:]


def _read_ifd(tiff: bytes, end: str, at: int) -> tuple[dict, int]:
    (count,) = struct.unpack_from(end + "H", tiff, at)
    fields: dict[int, object] = {}
    for i in range(count):
        tag, typ, n = struct.unpack_from(end + "HHI", tiff, at + 2 + 12 * i)
        if typ not in _TYPE_SIZES:
            raise ValueError(f"unknown TIFF type {typ} for tag {tag:#06x}")
        size = _TYPE_SIZES[typ] * n
        vat = at + 2 + 12 * i + 8
        if size > 4:
            (vat,) = struct.unpack_from(end + "I", tiff, vat)
        raw = tiff[vat : vat + size]
        if len(raw) != size:
            raise ValueError(f"TIFF value for tag {tag:#06x} out of bounds")
        if typ == 2:
            fields[tag] = raw.rstrip(b"\x00").decode()
        elif typ == 5:
            vals = struct.unpack(end + "I" * (2 * n), raw)
            fields[tag] = [
                (vals[2 * k], vals[2 * k + 1]) for k in range(n)
            ]
            if n == 1:
                fields[tag] = fields[tag][0]
        else:
            fmt = {1: "B", 3: "H", 4: "I"}[typ]
            vals = struct.unpack(end + fmt * n, raw)
            fields[tag] = vals[0] if n == 1 else list(vals)
    (nxt,) = struct.unpack_from(end + "I", tiff, at + 2 + 12 * count)
    return fields, nxt


def parse_exif(jpeg: bytes) -> dict:
    """Find the APP1 Exif segment in a JPEG and parse IFD0 + the Exif
    sub-IFD. Returns a tag->value dict plus '_byte_order'."""
    buf = bytes(jpeg)
    if buf[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI)")
    pos = 2
    tiff = None
    while pos + 4 <= len(buf):
        if buf[pos] != 0xFF:
            raise ValueError("bad JPEG marker stream")
        marker = buf[pos + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        (seglen,) = struct.unpack_from(">H", buf, pos + 2)
        if marker == 0xE1 and buf[pos + 4 : pos + 10] == b"Exif\x00\x00":
            tiff = buf[pos + 10 : pos + 2 + seglen]
            break
        if marker == 0xDA:  # SOS: no Exif before scan data
            break
        pos += 2 + seglen
    if tiff is None:
        raise ValueError("no APP1 Exif segment found")
    bom = tiff[:2]
    if bom == b"II":
        end = "<"
    elif bom == b"MM":
        end = ">"
    else:
        raise ValueError(f"bad TIFF byte-order mark {bom!r}")
    magic, ifd0_at = struct.unpack_from(end + "HI", tiff, 2)
    if magic != 42:
        raise ValueError("bad TIFF magic")
    fields, _ = _read_ifd(tiff, end, ifd0_at)
    if TAG_EXIF_IFD in fields:
        sub, _ = _read_ifd(tiff, end, int(fields[TAG_EXIF_IFD]))
        fields.update(sub)
    fields["_byte_order"] = "II" if end == "<" else "MM"
    return fields


# --- Spark surface ---------------------------------------------------------------


def synthesize_exif_jpegs(
    docs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Real 16x16 grayscale JPEGs (multimodal/jpeg.py) with a spliced
    deterministic EXIF block: even ids little-endian, odd big-endian."""
    import numpy as np

    from neuroimaging_data_pipeline_spark.multimodal.jpeg import (
        encode_jpeg_gray,
    )

    out_schema = "media_id long, content binary"

    def build(i):
        img = np.full((16, 16), (i * 37) % 256, np.uint8)
        app1 = build_exif_app1(
            make="CamCo",
            model=f"M{i % 10}",
            orientation=1 + i % 8,
            datetime=f"2026:01:01 00:00:{i % 60:02d}",
            iso=100 * (1 + i % 32),
            exposure=(1, 1 + i % 1000),
            pixel_x=16,
            pixel_y=16,
            little_endian=(i % 2 == 0),
        )
        yield i, insert_exif(encode_jpeg_gray(img), app1)

    return map_rows(docs, build, out_schema, cols=(id_col,))


def exif_features(
    media: DataFrame,
    id_col: str = "media_id",
    content_col: str = "content",
) -> DataFrame:
    out_schema = (
        f"{id_col} long, byte_order string, make string, model string, "
        "orientation int, datetime string, iso int, "
        "exposure_den int, pixel_x int, pixel_y int"
    )

    def feat(mid, payload):
        f = parse_exif(payload)
        yield (
            mid,
            f["_byte_order"],
            f[TAG_MAKE],
            f[TAG_MODEL],
            f[TAG_ORIENTATION],
            f[TAG_DATETIME],
            f[TAG_ISO],
            f[TAG_EXPOSURE][1],
            f[TAG_PIXEL_X],
            f[TAG_PIXEL_Y],
        )

    return map_rows(media, feat, out_schema, cols=(id_col, content_col))
