"""Real animated-GIF codec, stdlib-only — the tenth real media format
(after WAV, PPM, PNG+ADAM7, JPEG gray/color/420/progressive, gzip,
MP4, TAR, JSONL, BMP, NIfTI, Avro on the sources side).

Everything is implemented from the GIF89a specification: the logical
screen descriptor, global color table, graphic control extensions
(per-frame delays — this is an ANIMATED codec, the second true
multi-frame format next to the MJPEG/MP4 profile), image descriptors,
and — the real work — LZW with variable code width (N+1..12 bits,
LSB-first bit packing, CLEAR/EOI codes, dictionary reset at 4096),
framed into 255-byte sub-blocks. LZW is lossless, so fixtures
round-trip exactly and a SQL oracle can recompute every emitted pixel
stat from the fixture formulas.

Spark boundary: identical to the sibling codecs — opaque binary
columns, Arrow-batched map_rows, narrow zero-shuffle plans.
"""

from __future__ import annotations

import struct

import numpy as np
from pyspark.sql import DataFrame

from neuroimaging_data_pipeline_spark.functions.rowmap import map_rows
from neuroimaging_data_pipeline_spark.multimodal.jpeg import malformed_as_valueerror

# ------------------------------------------------------------------ LZW


def lzw_encode(indices: bytes, min_code_size: int) -> bytes:
    """GIF-flavor LZW: variable width starting at min_code_size+1,
    CLEAR emitted first and on dictionary overflow (4096), EOI last;
    output bits packed LSB-first."""
    clear = 1 << min_code_size
    eoi = clear + 1

    out_bits: list[tuple[int, int]] = []  # (code, width)

    def fresh_dict():
        return {bytes([i]): i for i in range(clear)}

    table = fresh_dict()
    next_code = eoi + 1
    width = min_code_size + 1
    out_bits.append((clear, width))

    w = b""
    for ch in indices:
        wk = w + bytes([ch])
        if wk in table:
            w = wk
            continue
        out_bits.append((table[w], width))
        table[wk] = next_code
        next_code += 1
        if next_code > (1 << width) and width < 12:
            width += 1
        elif next_code > 4096:
            out_bits.append((clear, width))
            table = fresh_dict()
            next_code = eoi + 1
            width = min_code_size + 1
        w = bytes([ch])
    if w:
        out_bits.append((table[w], width))
        # the decoder appends one more table entry while processing
        # this final (flush) code — which has no paired insert here —
        # and grows its read width if that append fills the current
        # code space; EOI must be emitted at the width the decoder
        # will actually read it with
        if next_code == (1 << width) and width < 12:
            width += 1
    out_bits.append((eoi, width))

    # LSB-first bit packing
    acc = 0
    nbits = 0
    data = bytearray()
    for code, wd in out_bits:
        acc |= code << nbits
        nbits += wd
        while nbits >= 8:
            data.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        data.append(acc & 0xFF)
    return bytes(data)


def lzw_decode(data: bytes, min_code_size: int) -> bytes:
    """Inverse of :func:`lzw_encode` (standard GIF LZW decoder with
    the KwKwK case)."""
    clear = 1 << min_code_size
    eoi = clear + 1

    pos = 0  # bit position
    total_bits = len(data) * 8

    def read(width: int) -> int:
        nonlocal pos
        if pos + width > total_bits:
            raise ValueError("LZW stream truncated")
        v = 0
        for i in range(width):
            byte = data[(pos + i) >> 3]
            bit = (byte >> ((pos + i) & 7)) & 1
            v |= bit << i
        pos += width
        return v

    out = bytearray()
    table: list[bytes] = []

    def reset():
        nonlocal table, width, prev
        table = [bytes([i]) for i in range(clear)] + [b"", b""]
        width = min_code_size + 1
        prev = None

    width = min_code_size + 1
    prev: bytes | None = None
    reset()
    while True:
        code = read(width)
        if code == clear:
            reset()
            continue
        if code == eoi:
            break
        if prev is None:
            if code >= clear:  # first code after CLEAR must be a literal
                raise ValueError(
                    f"LZW first code {code} is not a literal (< {clear})"
                )
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):
            entry = prev + prev[:1]  # KwKwK
            table.append(entry)
        else:
            raise ValueError(f"LZW code {code} out of range")
        out += entry
        prev = entry
        if len(table) == (1 << width) and width < 12:
            width += 1
    return bytes(out)


# ------------------------------------------------------------------ GIF


def encode_gif(
    frames: list[np.ndarray],
    palette: list[tuple[int, int, int]],
    delays_cs: list[int] | None = None,
    local_palettes: list[list[tuple[int, int, int]] | None] | None = None,
    interlaced: bool = False,
) -> bytes:
    """GIF89a with one graphic-control extension + image descriptor
    per frame. ``frames`` are (H, W) uint8 palette indices; palette
    length must be a power of two in [2, 256]. ``local_palettes``
    (per frame, None = use global) emits real LOCAL color tables so
    the decoder's per-frame palette resolution is exercised;
    ``interlaced`` transmits rows in the 4-pass GIF89a §20 schedule
    (the decoder de-interlaces)."""
    n_colors = len(palette)
    bits = max(2, (n_colors - 1).bit_length())
    if n_colors != 1 << bits and n_colors not in (2, 4, 8, 16, 32, 64, 128, 256):
        raise ValueError("palette length must be a power of two")
    h, w = frames[0].shape
    delays = delays_cs or [10] * len(frames)

    out = bytearray()
    out += b"GIF89a"
    # logical screen descriptor: global color table, bits-1 size field
    out += struct.pack("<HHBBB", w, h, 0x80 | ((bits - 1) << 4) | (bits - 1), 0, 0)
    # the size field declares 1<<bits entries — pad short palettes
    # (a 2-entry palette under the bits>=2 floor) so the table length
    # matches what the descriptor promises
    for r, g, b in palette + [(0, 0, 0)] * ((1 << bits) - n_colors):
        out += bytes((r, g, b))
    # NETSCAPE looping extension (exercises app-extension skipping)
    out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"
    lcts = local_palettes or [None] * len(frames)
    for fr, delay, lct in zip(frames, delays, lcts):
        assert fr.shape == (h, w)
        out += b"\x21\xf9\x04\x00" + struct.pack("<H", delay) + b"\x00\x00"
        iflags = 0x40 if interlaced else 0x00
        if lct is None:
            out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + bytes(
                [iflags]
            )
        else:
            lbits = max(2, (len(lct) - 1).bit_length())
            out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + bytes(
                [0x80 | iflags | (lbits - 1)]
            )
            for r, g, b in lct + [(0, 0, 0)] * ((1 << lbits) - len(lct)):
                out += bytes((r, g, b))
        min_code = max(2, bits)
        out += bytes([min_code])
        payload = fr.astype(np.uint8)
        if interlaced:  # transmit rows in the 4-pass schedule
            payload = payload[_interlace_rows(h)]
        lz = lzw_encode(payload.tobytes(), min_code)
        for i in range(0, len(lz), 255):
            chunk = lz[i : i + 255]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"  # block terminator
    out += b"\x3b"  # trailer
    return bytes(out)


def _interlace_rows(h: int) -> list[int]:
    """GIF interlace row schedule (GIF89a §20): the i-th TRANSMITTED
    row lands at the returned display row — passes start at rows
    0, 4, 2, 1 with strides 8, 8, 4, 2."""
    return (
        list(range(0, h, 8))
        + list(range(4, h, 8))
        + list(range(2, h, 4))
        + list(range(1, h, 2))
    )


@malformed_as_valueerror("GIF")
def decode_gif(data: bytes) -> dict:
    """Parse header, global color table, extensions and every frame;
    returns {width, height, palette, frames: [(delay_cs, ndarray)]}.
    Validates the trailer and each LZW stream's pixel count."""
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    w, h, flags, _bg, _ar = struct.unpack("<HHBBB", data[6:13])
    pos = 13
    palette: list[tuple[int, int, int]] = []
    if flags & 0x80:
        n = 2 << (flags & 7)
        for i in range(n):
            palette.append(tuple(data[pos + 3 * i : pos + 3 * i + 3]))
        pos += 3 * n
    frames: list[tuple[int, np.ndarray]] = []
    frame_palettes: list[list[tuple[int, int, int]]] = []
    delay = 0
    while True:
        b0 = data[pos]
        pos += 1
        if b0 == 0x3B:  # trailer
            break
        if b0 == 0x21:  # extension
            label = data[pos]
            pos += 1
            if label == 0xF9:  # graphic control
                size = data[pos]
                delay = struct.unpack("<H", data[pos + 2 : pos + 4])[0]
                pos += 1 + size
                if data[pos] != 0:
                    raise ValueError("bad GCE terminator")
                pos += 1
            else:  # skip sub-blocks of any other extension
                while data[pos] != 0:
                    pos += 1 + data[pos]
                pos += 1
            continue
        if b0 == 0x2C:  # image descriptor
            left, top, fw, fh, iflags = struct.unpack(
                "<HHHHB", data[pos : pos + 9]
            )
            pos += 9
            # a frame with a LOCAL color table must be mapped through
            # it, not the global palette (GIF89a §21) — skipping the
            # bytes but using the global colors would silently
            # miscolor every LCT frame
            frame_pal = palette
            if iflags & 0x80:
                n = 2 << (iflags & 7)
                frame_pal = [
                    tuple(data[pos + 3 * i : pos + 3 * i + 3])
                    for i in range(n)
                ]
                pos += 3 * n
            min_code = data[pos]
            pos += 1
            lz = bytearray()
            while data[pos] != 0:
                ln = data[pos]
                lz += data[pos + 1 : pos + 1 + ln]
                pos += 1 + ln
            pos += 1
            px = lzw_decode(bytes(lz), min_code)
            if len(px) != fw * fh:
                raise ValueError(
                    f"frame pixel count {len(px)} != {fw}x{fh}"
                )
            arr = np.frombuffer(px, dtype=np.uint8).reshape(fh, fw)
            if iflags & 0x40:  # interlaced: 4-pass row order (§20)
                out_rows = np.empty_like(arr)
                order = _interlace_rows(fh)
                for src, dst in enumerate(order):
                    out_rows[dst] = arr[src]
                arr = out_rows
            frames.append((delay, arr))
            frame_palettes.append(frame_pal)
            continue
        raise ValueError(f"unknown GIF block 0x{b0:02x}")
    return {
        "width": w,
        "height": h,
        "palette": palette,
        "frames": frames,
        "frame_palettes": frame_palettes,
    }


# ------------------------------------------------- fixture + operators


def gif_frame_index(doc_id: int, i: int) -> int:
    """Palette index of frame i — the SQL-oracle formula."""
    return (doc_id * 7 + i * 3) % 8


def gif_palette() -> list[tuple[int, int, int]]:
    return [((c * 31) % 256, (c * 57) % 256, (c * 89) % 256) for c in range(8)]


def encode_gif_fixture(doc_id: int) -> bytes:
    """2 + doc_id % 3 frames of 16x12 constant palette indices with
    per-frame delays 10*(i+1) cs."""
    n = 2 + doc_id % 3
    frames = [
        np.full((12, 16), gif_frame_index(doc_id, i), dtype=np.uint8)
        for i in range(n)
    ]
    return encode_gif(frames, gif_palette(), [10 * (i + 1) for i in range(n)])


def synthesize_gifs(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    out_schema = "media_id long, content binary"

    def enc(i):
        yield i, encode_gif_fixture(i)

    return map_rows(docs, enc, out_schema, cols=(id_col,))


def gif_frame_stats(
    media: DataFrame,
    id_col: str = "media_id",
    content_col: str = "content",
) -> DataFrame:
    """(media_id, frame_idx, delay_cs, width, height, idx_sum, r_sum)
    — every frame LZW-decoded to palette indices, then mapped through
    the color table for the red-channel sum. Zero shuffle."""
    out_schema = (
        f"{id_col} long, frame_idx int, delay_cs int, width int, "
        "height int, idx_sum long, r_sum long"
    )

    def dec(mid, payload):
        g = decode_gif(payload)
        for i, (delay, px) in enumerate(g["frames"]):
            pal_r = np.array(
                [p[0] for p in g["frame_palettes"][i]],
                dtype=np.int64,
            )
            yield (
                mid,
                i,
                delay,
                px.shape[1],
                px.shape[0],
                int(px.astype(np.int64).sum()),
                int(pal_r[px].sum()),
            )

    return map_rows(media, dec, out_schema, cols=(id_col, content_col))
