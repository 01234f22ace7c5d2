"""REAL BMP (Windows DIB) codec, stdlib-only — the uncompressed
interchange format.

Full BITMAPFILEHEADER (14 bytes) + BITMAPINFOHEADER (40 bytes),
24 bpp BGR pixel array with 4-byte row padding, BOTH row orders:
positive ``biHeight`` stores rows bottom-up (the common case),
negative stores top-down — the wrinkle that breaks naive readers.
The fixture alternates orders per id so the decoder's row flip is
oracle-sealed, not just exercised.

Same posture as the sibling codecs (PPM/PNG/JPEG): encode/decode run
inside Arrow-batched map_rows over an opaque binary column, zero
shuffle, embarrassingly parallel.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from neuroimaging_data_pipeline_spark.functions.rowmap import map_rows
from neuroimaging_data_pipeline_spark.multimodal.jpeg import malformed_as_valueerror

BMP_W, BMP_H = 10, 7


def encode_bmp(
    pixels: list[list[tuple[int, int, int]]], top_down: bool = False
) -> bytes:
    """pixels[y][x] = (r, g, b), y=0 is the TOP row. Writes 24 bpp
    with padded rows; ``top_down`` selects negative-height layout."""
    h = len(pixels)
    w = len(pixels[0])
    row_bytes = (w * 3 + 3) & ~3
    img = bytearray()
    ys = range(h) if top_down else range(h - 1, -1, -1)
    for y in ys:
        row = bytearray()
        for x in range(w):
            r, g, b = pixels[y][x]
            row += bytes((b, g, r))  # BGR on disk
        row += b"\x00" * (row_bytes - len(row))
        img += row
    off = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", off + len(img), 0, 0, off)
    dib = struct.pack(
        "<IiiHHIIiiII",
        40,
        w,
        -h if top_down else h,
        1,        # planes
        24,       # bpp
        0,        # BI_RGB
        len(img),
        2835,     # ~72 dpi
        2835,
        0,
        0,
    )
    return header + dib + bytes(img)


@malformed_as_valueerror("BMP")
def decode_bmp(data: bytes) -> list[list[tuple[int, int, int]]]:
    """Returns pixels[y][x] = (r, g, b) with y=0 the TOP row,
    whichever on-disk order the file uses. Raises ValueError on
    non-BMP, a compressed stream, a bit depth other than 24, or a
    header or pixel rows cut short."""
    if data[:2] != b"BM":
        raise ValueError("not a BMP: missing BM magic")
    (off,) = struct.unpack_from("<I", data, 10)
    size, w, h_signed, planes, bpp, comp = struct.unpack_from(
        "<IiiHHI", data, 14
    )
    if size < 40:
        raise ValueError(f"unsupported DIB header size {size}")
    if comp != 0:
        raise ValueError(f"unsupported compression {comp}")
    if bpp != 24:
        raise ValueError(f"unsupported bit depth {bpp}")
    top_down = h_signed < 0
    h = -h_signed if top_down else h_signed
    row_bytes = (w * 3 + 3) & ~3
    # checked before the row loop: a hostile width or height would
    # otherwise drive it for up to 2**31 rows
    if w <= 0 or h <= 0 or off + h * row_bytes > len(data):
        raise ValueError(f"BMP {w}x{h} pixel rows do not fit the payload")
    rows = []
    for i in range(h):
        base = off + i * row_bytes
        row = [
            (
                data[base + x * 3 + 2],
                data[base + x * 3 + 1],
                data[base + x * 3],
            )
            for x in range(w)
        ]
        rows.append(row)
    return rows if top_down else rows[::-1]


def _pixel(doc_id: int, x: int, y: int) -> tuple[int, int, int]:
    return (
        (doc_id * 3 + x * 5 + y * 11) % 256,
        (doc_id * 7 + x * 13 + y * 3) % 256,
        (doc_id * 11 + x * 2 + y * 7) % 256,
    )


def synthesize_bmp_images(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(media_id, content binary): one real BMP per document from the
    integer pixel formula; odd ids use the top-down (negative-height)
    layout so both row orders cross the decoder."""
    out_schema = "media_id long, content binary"

    def build(i):
        px = [
            [_pixel(i, x, y) for x in range(BMP_W)]
            for y in range(BMP_H)
        ]
        yield i, encode_bmp(px, top_down=bool(i % 2))

    return map_rows(docs, build, out_schema, cols=(id_col,))


def bmp_features(
    media: DataFrame, id_col: str = "media_id", content_col: str = "content"
) -> DataFrame:
    """Decode with the REAL parser; per-image (width, height, channel
    means). Any header/layout/row-order/padding bug shifts the means
    and breaks the oracle hash."""
    out_schema = (
        f"{id_col} long, width int, height int, "
        "mean_r double, mean_g double, mean_b double"
    )

    def feat(mid, payload):
        px = decode_bmp(payload)
        n = len(px) * len(px[0])
        sums = [0, 0, 0]
        for row in px:
            for p in row:
                for c in range(3):
                    sums[c] += p[c]
        yield (
            mid,
            len(px[0]),
            len(px),
            sums[0] / n,
            sums[1] / n,
            sums[2] / n,
        )

    return map_rows(media, feat, out_schema, cols=(id_col, content_col))
