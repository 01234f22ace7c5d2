"""MP3 (MPEG-1 Audio Layer III) frame PAYLOAD decode, stdlib-only.

Closes the round-8 declared audio gate (multimodal/mp3.py carried
frame payloads as filler, "NOT decoded"): the Layer III main-data
path down to spec-exact frequency lines, the way FLAC pinned PCM —

- SIDE INFORMATION parse (ISO 11172-3 2.4.1.7): main_data_begin,
  scfsi, and per granule/channel part2_3_length, big_values,
  global_gain, scalefac_compress, window switching (block_type,
  mixed_block_flag, subblock_gain) / region counts, preflag,
  scalefac_scale, count1table_select — mono and stereo layouts;
- the BIT RESERVOIR (2.4.2.3): main_data_begin points back into
  previous frames' main-data regions; the decoder reassembles the
  contiguous main-data stream exactly, and the encoder genuinely
  exercises it (frames deliberately under-fill so the next frame's
  data starts inside an earlier frame);
- SCALEFACTOR decode (2.4.2.7): the 16-entry slen1/slen2 table,
  long-block band groups with scfsi reuse, short-block windows, AND
  (r9 second pass) MIXED blocks — 8 long scalefactors plus short
  bands 3..11, with requantize_mixed applying the long/pretab path
  to the first 36 lines and the subblock_gain short path above;
- HUFFMAN decode of the big_values and count1 regions (2.4.2.7 /
  Annex B Table B.7), LUT-first through the codecs' shared
  ``bitio.BitReader.prefix`` (main data and side info are written
  and read with the shared ``bitio`` writer and reader). Shipped
  tables: 0, 1, 2, 3, 5, 6 and both
  count1 tables A/B — every table the fixture encoder emits, each
  verified bit-exactly by the encoder<->decoder round-trip AND
  structurally (each is a complete prefix code; Kraft sum pinned in
  tests). The remaining big-value tables (7..31, incl. the linbits
  ESC family) raise a LOUD per-table gate naming the missing
  transcription — the gate narrowed from "payload not decoded" to
  "ESC-family Huffman tables not yet transcribed";
- REQUANTIZATION (2.4.3.4) to spec-exact frequency lines:
  xr = sign(is)*|is|^(4/3) * 2^((global_gain-210)/4)
       * 2^(-(scalefac_scale+1)/2 * (scalefac + preflag*pretab)),
  with the short-block subblock_gain term — float64, pinned against
  a direct numpy evaluation in tests.

The integer spectral lines are emitted as oracle features (sums,
counts, an order-weighted checksum) — exact integers, recomputable
from the fixture formulas in pure SQL. r9 second pass: MS joint
stereo (mode 1 / mode_extension MS bit: the 1/sqrt(2) butterfly on
requantized lines, both encode and decode), pure-SHORT and MIXED
granules encode+decode with subblock_gain requantization, and the
HYBRID FILTERBANK (alias reduction, IMDCT, all four windows,
overlap-add, frequency inversion) in the sibling ``mp3synth.py``
down to subband time samples (m39), and INTENSITY STEREO (long
blocks): bands in the right channel's zero part pan the left
channel by ratio = tan(is_pos * pi/12), is_pos 7 falling back to
MS/passthrough, composing with MS below the intensity bound.
r10 third pass: Huffman tables 7/8/9/10/12 transcribed and
Kraft-validated, the ESC/linbits mechanism (big-value escape
decode), and pure-short intensity stereo. r11: MIXED-BLOCK
intensity stereo (intensity_process_mixed: per-window short-region
bound over bands 3..12 + long-region intensity when the zero part
reaches below line 36), and START/STOP window types (1/3: long
layout under window-switching syntax, implied 7/13 region split).
Remaining loud gates (matching the ``_huff_dec_pair`` error
message): tables 11/13/15, the shared ESC code tables 16/24, and
the polyphase Table B.3 window. A capability-gated
ffmpeg cross-check belongs on machines that have ffmpeg (this
container has none).

Scale: opaque binary + Arrow ``map_rows``, narrow, zero shuffle;
at 100 TB one task per audio shard, linear per-clip CPU.
"""

from __future__ import annotations


import numpy as np
from pyspark.sql import DataFrame

from neuroimaging_data_pipeline_spark.functions.rowmap import map_rows
from neuroimaging_data_pipeline_spark.multimodal.bitio import (
    BitReader,
    BitWriter,
    prefix_table,
)
from neuroimaging_data_pipeline_spark.multimodal.mp3 import (
    _BITRATE_KBPS,
    _SAMPLE_RATES,
    build_id3v2,
    parse_id3v2,
)

# scalefactor band boundaries, 44.1 kHz long blocks (Table B.8)
_SFB_LONG_44 = (
    0, 4, 8, 12, 16, 20, 24, 30, 36, 44, 52, 62, 74, 90, 110,
    134, 162, 196, 238, 288, 342, 418, 576,
)
# 44.1 kHz short blocks (per-window widths)
_SFB_SHORT_44 = (0, 4, 8, 12, 16, 22, 30, 40, 52, 66, 84, 106, 136, 192)

# scalefac_compress -> (slen1, slen2) (2.4.2.7)
_SLEN = (
    (0, 0), (0, 1), (0, 2), (0, 3), (3, 0), (1, 1), (1, 2), (1, 3),
    (2, 1), (2, 2), (2, 3), (3, 1), (3, 2), (3, 3), (4, 2), (4, 3),
)

# preemphasis table, long blocks (Table B.6)
_PRETAB = (0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 2, 2, 3, 3, 3, 2)

# Annex B Table B.7 Huffman tables, (hlen, hcod) row-major over
# (x, y). Only the non-ESC small tables are shipped (see module
# docstring); each is a COMPLETE prefix code — Kraft sums pinned in
# tests/test_mp3l3.py as a transcription check.
_HUFF_BIG: dict[int, tuple[int, tuple[int, ...], tuple[int, ...]]] = {
    # table id -> (xmax+1, hlen, hcod)
    1: (2, (1, 3, 2, 3), (1, 1, 1, 0)),
    2: (3, (1, 3, 6, 3, 3, 5, 5, 5, 6), (1, 2, 1, 3, 1, 1, 3, 2, 0)),
    3: (3, (2, 2, 6, 3, 2, 5, 5, 5, 6), (3, 2, 1, 1, 1, 1, 3, 2, 0)),
    5: (4, (1, 3, 6, 7, 3, 3, 6, 7, 6, 6, 7, 8, 7, 6, 7, 8),
        (1, 2, 6, 5, 3, 1, 4, 4, 7, 5, 7, 1, 6, 1, 1, 0)),
    6: (4, (3, 3, 5, 7, 3, 2, 4, 5, 4, 4, 5, 6, 6, 5, 6, 7),
        (7, 3, 5, 1, 6, 2, 3, 2, 5, 4, 4, 1, 3, 3, 2, 0)),
    # r10: mid-range tables 7..10 and 12 (6x6 / 8x8, no linbits).
    # Each validated as a COMPLETE prefix code (Kraft sum exactly 1,
    # no codeword a prefix of another) — the sharpest structural
    # transcription check available without conformance streams; the
    # ffmpeg cross-pin in tests covers machines that have real
    # encoders. Table 11 did not survive that validation and stays a
    # loud gate rather than shipping a structurally-plausible fake.
    # r11: a fresh table-11 length-matrix transcription attempt was
    # made and failed the Kraft check again (sum 1033/1024) — the
    # gate stands; 13/15 and the shared ESC code tables 16/24 (256
    # entries each) were not attempted from memory at all, as the
    # failure mode the validator guards against (confidently wrong
    # verbatim data) is near-certain at that size.
    7: (6,
        (1, 3, 6, 8, 8, 9, 3, 4, 6, 7, 7, 8, 6, 5, 7, 8, 8, 9,
         7, 7, 8, 9, 9, 9, 7, 7, 8, 9, 9, 10, 8, 8, 9, 10, 10, 10),
        (1, 2, 10, 19, 16, 10, 3, 3, 7, 10, 5, 3, 11, 4, 13, 17, 8, 4,
         12, 11, 18, 15, 11, 2, 7, 6, 9, 14, 3, 1, 6, 4, 5, 3, 2, 0)),
    8: (6,
        (2, 3, 6, 8, 8, 9, 3, 2, 4, 8, 8, 8, 6, 4, 6, 8, 8, 9,
         8, 8, 8, 9, 9, 10, 8, 7, 8, 9, 10, 10, 9, 8, 9, 9, 11, 11),
        (3, 4, 6, 18, 12, 5, 5, 1, 2, 16, 9, 3, 7, 3, 5, 14, 7, 3,
         19, 17, 15, 13, 10, 4, 13, 5, 8, 11, 5, 1, 12, 4, 4, 1, 1,
         0)),
    9: (6,
        (3, 3, 5, 6, 8, 9, 3, 3, 4, 5, 6, 8, 4, 4, 5, 6, 7, 8,
         6, 5, 6, 7, 7, 8, 7, 6, 7, 7, 8, 9, 8, 7, 8, 8, 9, 9),
        (7, 5, 9, 14, 15, 7, 6, 4, 5, 5, 6, 7, 7, 6, 8, 8, 8, 5,
         15, 6, 9, 10, 5, 1, 11, 7, 9, 6, 4, 1, 14, 4, 6, 2, 6, 0)),
    10: (8,
         (1, 3, 6, 8, 9, 9, 9, 10, 3, 4, 6, 7, 8, 9, 8, 8,
          6, 6, 7, 8, 9, 10, 9, 9, 7, 7, 8, 9, 10, 10, 9, 10,
          8, 8, 9, 10, 10, 10, 10, 10, 9, 9, 10, 10, 11, 11, 10, 11,
          8, 8, 9, 10, 10, 10, 11, 11, 9, 8, 10, 9, 11, 11, 10, 11),
         (1, 2, 10, 23, 35, 30, 12, 17, 3, 3, 8, 12, 18, 21, 12, 7,
          11, 9, 15, 21, 32, 40, 19, 6, 14, 13, 22, 34, 46, 23, 18, 7,
          20, 19, 33, 47, 27, 22, 9, 3, 31, 22, 41, 26, 21, 20, 5, 3,
          14, 13, 10, 11, 16, 6, 5, 4, 9, 8, 8, 7, 2, 1, 4, 0)),
    12: (8,
         (4, 3, 5, 7, 8, 9, 9, 9, 3, 3, 4, 5, 7, 7, 8, 8,
          5, 4, 5, 6, 7, 8, 7, 8, 6, 5, 6, 6, 7, 8, 8, 8,
          7, 6, 7, 7, 8, 8, 8, 9, 8, 7, 8, 8, 8, 9, 8, 9,
          8, 7, 7, 8, 8, 9, 9, 10, 9, 8, 8, 9, 9, 9, 9, 10),
         (9, 6, 16, 33, 41, 39, 38, 26, 7, 5, 6, 9, 23, 16, 26, 11,
          17, 7, 11, 14, 21, 30, 10, 7, 17, 10, 15, 12, 18, 28, 14, 5,
          32, 13, 22, 19, 18, 16, 9, 5, 40, 17, 31, 29, 17, 13, 4, 2,
          27, 12, 11, 15, 10, 7, 4, 1, 27, 12, 8, 12, 6, 3, 1, 0)),
}

# ESC family (tables 16..23 share one 16x16 code table with linbits
# 1,2,3,4,6,8,10,13; tables 24..31 share another with linbits
# 4,5,6,7,8,9,11,13). The LINBITS MECHANISM below is implemented and
# tested; the two shared 16x16 code tables remain transcription
# gates (256 (hlen, hcod) pairs each did not survive the
# completeness validation from memory).
_LINBITS = {
    16: 1, 17: 2, 18: 3, 19: 4, 20: 6, 21: 8, 22: 10, 23: 13,
    24: 4, 25: 5, 26: 6, 27: 7, 28: 8, 29: 9, 30: 11, 31: 13,
}
# base table id -> (nx, lens, cods); populated when the table data
# lands — the mechanism reads through this indirection.
_HUFF_ESC: dict[int, tuple[int, tuple[int, ...], tuple[int, ...]]] = {}

# count1 tables: quadruple (v,w,x,y) indexed v*8+w*4+x*2+y
_HUFF_C1A_LEN = (1, 4, 4, 5, 4, 6, 5, 6, 4, 5, 5, 6, 5, 6, 6, 6)
_HUFF_C1A_COD = (1, 5, 4, 5, 6, 5, 4, 4, 7, 3, 6, 0, 7, 2, 3, 1)


def _invert_table(lens, cods):
    """((code length, code value) -> index) decode map — int-pair
    keys, so the bit-walk never builds strings. Prefix-freedom makes
    the pair unique."""
    out = {}
    for i, (ln, cd) in enumerate(zip(lens, cods)):
        key = (ln, cd)
        if key in out:
            raise ValueError("duplicate Huffman code")
        out[key] = i
    return out


def _dec_pair_tab(lens, cods) -> tuple[dict, list]:
    return prefix_table(_invert_table(lens, cods))


_DEC_BIG = {
    t: (_nx, _dec_pair_tab(lens, cods))
    for t, (_nx, lens, cods) in _HUFF_BIG.items()
}
_DEC_C1A = _dec_pair_tab(_HUFF_C1A_LEN, _HUFF_C1A_COD)
_DEC_ESC = {
    t: (_nx, _dec_pair_tab(lens, cods))
    for t, (_nx, lens, cods) in _HUFF_ESC.items()
}


# ---------------------------------------------------------------------------
# Encoder (the conformance fixture writer)
# ---------------------------------------------------------------------------


def _huff_enc_pair(bw: BitWriter, table: int, x: int, y: int) -> None:
    if table in _LINBITS:
        base = 16 if table < 24 else 24
        if base not in _HUFF_ESC:
            raise NotImplementedError(
                f"Layer III ESC Huffman table {table}: the shared "
                f"16x16 code table {base} is not transcribed (Annex B "
                "Table B.7) — the linbits mechanism itself is "
                "implemented and tested"
            )
        nx, lens, cods = _HUFF_ESC[base]
        _esc_enc_pair(bw, nx, lens, cods, _LINBITS[table], x, y)
        return
    nx, lens, cods = _HUFF_BIG[table]
    ax, ay = abs(x), abs(y)
    if ax >= nx or ay >= nx:
        raise ValueError(f"value ({x},{y}) exceeds table {table} range")
    idx = ax * nx + ay
    # fold code + sign bits into ONE writer call (r13: the per-field
    # BitWriter.u calls were the encoder's hottest leaf)
    acc, n = cods[idx], lens[idx]
    if ax:
        acc = (acc << 1) | (1 if x < 0 else 0)
        n += 1
    if ay:
        acc = (acc << 1) | (1 if y < 0 else 0)
        n += 1
    bw.u(acc, n)


def _esc_enc_pair(
    bw: BitWriter, nx: int, lens, cods, linbits: int, x: int, y: int
) -> None:
    """ESC/linbits big-value pair (2.4.2.7): |v| >= 15 codes the
    Huffman symbol 15 followed by ``linbits`` raw bits of |v| - 15;
    syntax order hcod, linbits_x, sign_x, linbits_y, sign_y."""
    ax, ay = abs(x), abs(y)
    limit = 15 + (1 << linbits) - 1 if linbits else 15
    if ax > limit or ay > limit:
        raise ValueError(
            f"value ({x},{y}) exceeds linbits-{linbits} range {limit}"
        )
    cx, cy = min(ax, 15), min(ay, 15)
    idx = cx * nx + cy
    # hcod, linbits_x, sign_x, linbits_y, sign_y folded into one write
    acc, n = cods[idx], lens[idx]
    if cx == 15 and linbits:
        acc = (acc << linbits) | (ax - 15)
        n += linbits
    if ax:
        acc = (acc << 1) | (1 if x < 0 else 0)
        n += 1
    if cy == 15 and linbits:
        acc = (acc << linbits) | (ay - 15)
        n += linbits
    if ay:
        acc = (acc << 1) | (1 if y < 0 else 0)
        n += 1
    bw.u(acc, n)


def _huff_enc_quad(bw: BitWriter, table_b: bool, quad: list[int]) -> None:
    idx = 0
    for v in quad:
        idx = (idx << 1) | (1 if v else 0)
    if table_b:
        acc, n = 15 - idx, 4
    else:
        acc, n = _HUFF_C1A_COD[idx], _HUFF_C1A_LEN[idx]
    for v in quad:
        if v:
            acc = (acc << 1) | (1 if v < 0 else 0)
            n += 1
    bw.u(acc, n)


class GranuleSpec:
    """One long-block granule's content (the fixture unit)."""

    def __init__(
        self,
        lines: list[int],
        big_values: int,
        table_sel: tuple[int, int, int],
        count1: int,
        count1_table_b: bool,
        global_gain: int,
        scalefac_compress: int,
        scalefacs: list[int],
        preflag: int = 0,
        scalefac_scale: int = 0,
        region0_count: int = 5,
        region1_count: int = 5,
        block_type: int = 0,
        mixed: bool = False,
        subblock_gain: tuple[int, int, int] = (0, 0, 0),
        short_scalefacs: list | None = None,
    ) -> None:
        assert len(lines) == 576
        self.lines = lines
        self.big_values = big_values
        self.table_sel = table_sel
        self.count1 = count1
        self.count1_table_b = count1_table_b
        self.global_gain = global_gain
        self.scalefac_compress = scalefac_compress
        self.scalefacs = scalefacs  # 21 long-block scalefactors
        self.preflag = preflag
        self.scalefac_scale = scalefac_scale
        self.region0_count = region0_count
        self.region1_count = region1_count
        # window switching (r9 extension): block_type 2 = short
        # windows; mixed = long low subbands + short above
        self.block_type = block_type
        self.mixed = mixed
        self.subblock_gain = subblock_gain
        # pure short: 12 bands x 3 windows; mixed: dict with
        # "long" (8 values, bands 0..7) and "short" (bands 3..11 x 3)
        self.short_scalefacs = short_scalefacs
        if block_type == 2:
            if mixed:
                assert short_scalefacs is not None
                assert len(short_scalefacs["long"]) == 8
                assert len(short_scalefacs["short"]) == 9
            else:
                assert short_scalefacs is not None
                assert len(short_scalefacs) == 12
        elif block_type in (1, 3):
            # START/STOP windows (r11): long-layout granules under
            # window-switching syntax — 21 long scalefactors, the
            # implied region split 7/13 (2.4.2.7), two table selects
            assert scalefacs is not None and len(scalefacs) == 21
            self.region0_count = 7
            self.region1_count = 13
        elif block_type != 0:
            raise ValueError(f"bad block_type {block_type}")


def _encode_granule_maindata(
    g: GranuleSpec, scfsi: int, first_granule: bool
) -> tuple[BitWriter, int]:
    """Returns (bit writer with part2+part3 data, part2_3_length)."""
    bw = BitWriter()
    slen1, slen2 = _SLEN[g.scalefac_compress]
    if g.block_type in (1, 3) and scfsi:
        raise ValueError("scfsi must be 0 when window switching occurs")
    if g.block_type == 2:
        if scfsi:
            raise ValueError("scfsi must be 0 when short blocks occur")
        if g.mixed:
            for b in range(8):  # long bands 0..7, slen1
                bw.u(g.short_scalefacs["long"][b], slen1)
            for bi, b in enumerate(range(3, 12)):  # short bands 3..11
                sl = slen1 if b < 6 else slen2
                for w in range(3):
                    bw.u(g.short_scalefacs["short"][bi][w], sl)
        else:
            for b in range(12):
                sl = slen1 if b < 6 else slen2
                for w in range(3):
                    bw.u(g.short_scalefacs[b][w], sl)
    else:
        # part2: scalefactors (long; scfsi groups skipped in gr1)
        groups = ((0, 6, slen1), (6, 11, slen1), (11, 16, slen2),
                  (16, 21, slen2))
        for gi, (lo, hi, sl) in enumerate(groups):
            if not first_granule and (scfsi >> (3 - gi)) & 1:
                continue  # reused from granule 0
            for b in range(lo, hi):
                if g.scalefacs[b] >= (1 << sl):
                    raise ValueError("scalefactor exceeds slen")
                bw.u(g.scalefacs[b], sl)
    # part3: big values
    if g.block_type == 2:
        r0_end = min(36, 2 * g.big_values)
        r1_end = 2 * g.big_values
    else:
        r0_end = min(_SFB_LONG_44[g.region0_count + 1], 2 * g.big_values)
        r1_end = min(
            _SFB_LONG_44[g.region0_count + g.region1_count + 2],
            2 * g.big_values,
        )
    for i in range(0, 2 * g.big_values, 2):
        region = 0 if i < r0_end else (1 if i < r1_end else 2)
        _huff_enc_pair(
            bw, g.table_sel[region], g.lines[i], g.lines[i + 1]
        )
    # count1 quadruples
    base = 2 * g.big_values
    for q in range(g.count1):
        quad = g.lines[base + 4 * q : base + 4 * q + 4]
        if any(abs(v) > 1 for v in quad):
            raise ValueError("count1 values must be in -1..1")
        _huff_enc_quad(bw, g.count1_table_b, quad)
    for v in g.lines[base + 4 * g.count1 :]:
        if v:
            raise ValueError("rzero region must be zero")
    return bw, bw.nbits()


def encode_mp3_l3(
    granules: list[GranuleSpec],
    scfsi: int = 0,
    tags: dict[str, str] | None = None,
    nch: int = 1,
    ms: bool = False,
    intensity: bool = False,
) -> bytes:
    """Write a mono or stereo MPEG-1 Layer III stream (44.1 kHz)
    whose frames carry the given granules — ordered (frame, granule,
    channel), 2*nch per frame — with REAL bit-reservoir packing: each
    frame's bitrate index is chosen as the smallest whose cumulative
    capacity holds the cumulative main data, so main_data_begin is
    genuinely non-zero wherever a frame under-fills. ``scfsi``
    applies to every frame and channel (granule 1 reuses granule 0's
    scalefactor groups per its bits — the caller must make those
    groups equal)."""
    if nch not in (1, 2):
        raise ValueError("nch must be 1 or 2")
    if (ms or intensity) and nch != 2:
        raise ValueError("joint stereo requires two channels")
    if len(granules) % (2 * nch):
        raise ValueError("granules must fill whole frames")
    n_frames = len(granules) // (2 * nch)
    # main data per frame: side-info scfsi + granule fields live in
    # the side info; main_data = scalefacs + huffman bits
    frame_md = []
    part23 = []
    for f in range(n_frames):
        bw_f = BitWriter()
        p23 = []
        for gi in range(2):
            for ch in range(nch):
                g = granules[(2 * f + gi) * nch + ch]
                bw, n = _encode_granule_maindata(g, scfsi, gi == 0)
                bw_f.extend(bw)
                p23.append(n)
        frame_md.append(bw_f.bytes_())
        part23.append(p23)
    # pick bitrates: smallest cumulative-capacity-covering index
    side_len = 17 if nch == 1 else 32
    caps, brs = [], []
    cum_cap = cum_md = 0
    for f in range(n_frames):
        cum_md += len(frame_md[f])
        bi = 1
        while True:
            flen = 144000 * _BITRATE_KBPS[bi] // _SAMPLE_RATES[0]
            cap = flen - 4 - side_len
            # reservoir lookback is capped at 511 bytes
            if cum_cap + cap >= cum_md and (
                f == 0 or cum_cap - sum(len(m) for m in frame_md[:f]) <= 511
            ):
                break
            bi += 1
            if bi > 14:
                raise ValueError("granule data exceeds max bitrate")
        caps.append(cap)
        brs.append(bi)
        cum_cap += cap
    # pack main data through the reservoir
    md_all = b"".join(frame_md)
    out = bytearray(build_id3v2(tags or {"TIT2": "l3"}))
    offsets = []
    off = 0
    for f in range(n_frames):
        offsets.append(off)
        off += len(frame_md[f])
    # the oracle asserts reservoir_used = TRUE: if every frame's
    # capacity happens to EXACTLY equal its main data (all begins
    # zero), bump frame 0 one bitrate step to create genuine slack
    if n_frames > 1:
        begins = [
            sum(caps[:f]) - offsets[f] for f in range(n_frames)
        ]
        if all(b == 0 for b in begins):
            brs[0] += 1
            caps[0] = (
                144000 * _BITRATE_KBPS[brs[0]] // _SAMPLE_RATES[0]
                - 4 - side_len
            )
    placed = 0
    for f in range(n_frames):
        begin = placed - offsets[f]
        if not 0 <= begin <= 511:
            raise AssertionError(f"reservoir out of range: {begin}")
        # header: MPEG-1 Layer III, no CRC
        b3 = (brs[f] << 4) | (0 << 2) | (0 << 1)
        # mode/mode_extension: mono, plain stereo, or joint stereo
        # (mode_extension bit1 = MS, bit0 = intensity)
        ext = (2 if ms else 0) | (1 if intensity else 0)
        mode_byte = 0xC0 if nch == 1 else (
            0x40 | (ext << 4) if ext else 0x00
        )
        out += bytes([0xFF, 0xFB, b3, mode_byte])
        si = BitWriter()
        si.u(begin, 9)
        si.u(0, 5 if nch == 1 else 3)  # private_bits
        for _ch in range(nch):
            si.u(scfsi, 4)
        for idx in range(2 * nch):
            g = granules[(2 * f) * nch + idx]
            si.u(part23[f][idx], 12)
            si.u(g.big_values, 9)
            si.u(g.global_gain, 8)
            si.u(g.scalefac_compress, 4)
            if g.block_type != 0:
                si.u(1, 1)  # windows_switching_flag
                si.u(g.block_type, 2)  # 1 start / 2 short / 3 stop
                si.u(1 if g.mixed else 0, 1)
                si.u(g.table_sel[0], 5)
                si.u(g.table_sel[1], 5)
                for w in range(3):
                    si.u(g.subblock_gain[w], 3)
            else:
                si.u(0, 1)  # windows_switching_flag: long block
                si.u(g.table_sel[0], 5)
                si.u(g.table_sel[1], 5)
                si.u(g.table_sel[2], 5)
                si.u(g.region0_count, 4)
                si.u(g.region1_count, 3)
            si.u(g.preflag, 1)
            si.u(g.scalefac_scale, 1)
            si.u(1 if g.count1_table_b else 0, 1)
        sib = si.bytes_()
        assert len(sib) == side_len
        out += sib
        # this frame's data region: next cap bytes of md_all
        chunk = md_all[placed : placed + caps[f]]
        chunk += b"\x00" * (caps[f] - len(chunk))  # final-frame stuffing
        out += chunk
        placed += caps[f]
    return bytes(out)


# ---------------------------------------------------------------------------
# Decoder
# ---------------------------------------------------------------------------


def _huff_dec_pair(br: BitReader, table: int) -> tuple[int, int]:
    if table == 0:
        return 0, 0
    if table in _LINBITS:
        base = 16 if table < 24 else 24
        if base not in _DEC_ESC:
            raise NotImplementedError(
                f"Layer III ESC Huffman table {table}: the shared "
                f"16x16 code table {base} is not transcribed (Annex B "
                "Table B.7) — the linbits mechanism itself is "
                "implemented and tested"
            )
        nx, dmap = _DEC_ESC[base]
        return _esc_dec_pair(br, nx, dmap, _LINBITS[table])
    if table not in _DEC_BIG:
        raise NotImplementedError(
            f"Layer III Huffman table {table} — tables 0,1,2,3,5,6,7,"
            "8,9,10,12 are transcribed (each a validated complete "
            "prefix code); 11/13/15 plus the shared ESC code tables "
            "16/24 are the remaining transcription gates (Annex B "
            "Table B.7)"
        )
    nx, dmap = _DEC_BIG[table]
    x, y = divmod(br.prefix(dmap), nx)
    if x and br.u(1):
        x = -x
    if y and br.u(1):
        y = -y
    return x, y


def _esc_dec_pair(
    br: BitReader, nx: int, dmap: dict, linbits: int
) -> tuple[int, int]:
    """Decode one ESC/linbits big-value pair (2.4.2.7 syntax order)."""
    x, y = divmod(br.prefix(dmap), nx)
    if x == 15 and linbits:
        x += br.u(linbits)
    if x and br.u(1):
        x = -x
    if y == 15 and linbits:
        y += br.u(linbits)
    if y and br.u(1):
        y = -y
    return x, y


def _huff_dec_quad(br: BitReader, table_b: bool) -> list[int]:
    if table_b:
        idx = 15 - br.u(4)
    else:
        idx = br.prefix(_DEC_C1A)
    quad = [(idx >> k) & 1 for k in (3, 2, 1, 0)]
    return [(-v if v and br.u(1) else v) for v in quad]


def _parse_side_info(data: bytes, nch: int) -> dict:
    br = BitReader(data)
    out: dict = {"main_data_begin": br.u(9)}
    br.u(5 if nch == 1 else 3)  # private_bits
    out["scfsi"] = [br.u(4) for _ in range(nch)]
    grs = []
    for _gr in range(2):
        chs = []
        for _ch in range(nch):
            g = {
                "part2_3_length": br.u(12),
                "big_values": br.u(9),
                "global_gain": br.u(8),
                "scalefac_compress": br.u(4),
                "windows_switching": br.u(1),
            }
            if g["windows_switching"]:
                g["block_type"] = br.u(2)
                g["mixed_block_flag"] = br.u(1)
                g["table_select"] = [br.u(5), br.u(5)]
                g["subblock_gain"] = [br.u(3), br.u(3), br.u(3)]
                # implied regions (2.4.2.7)
                g["region0_count"] = (
                    8 if g["block_type"] == 2 and not g["mixed_block_flag"]
                    else 7
                )
                g["region1_count"] = 20 - g["region0_count"]
                if g["block_type"] == 0:
                    raise ValueError(
                        "windows_switching with block_type 0 is forbidden"
                    )
            else:
                g["block_type"] = 0
                g["mixed_block_flag"] = 0
                g["table_select"] = [br.u(5), br.u(5), br.u(5)]
                g["region0_count"] = br.u(4)
                g["region1_count"] = br.u(3)
            g["preflag"] = br.u(1)
            g["scalefac_scale"] = br.u(1)
            g["count1table_select"] = br.u(1)
            chs.append(g)
        grs.append(chs)
    out["granules"] = grs
    return out


def _decode_scalefacs(br: BitReader, g: dict, scfsi: int, gr0_sf, first: bool):
    slen1, slen2 = _SLEN[g["scalefac_compress"]]
    if g["windows_switching"] and g["block_type"] == 2:
        if g["mixed_block_flag"]:
            # mixed granule (2.4.2.7): 8 long scalefactors (bands
            # 0..7, slen1), then short bands 3..5 at slen1 and
            # 6..11 at slen2, three windows each
            longsf = [br.u(slen1) for _ in range(8)]
            short = []
            for b in range(3, 12):
                sl = slen1 if b < 6 else slen2
                short.append([br.u(sl) for _ in range(3)])
            return {"long": longsf, "short": short}
        sf = []
        for b in range(6):
            sf.append([br.u(slen1) for _ in range(3)])
        for b in range(6, 12):
            sf.append([br.u(slen2) for _ in range(3)])
        return sf
    sf = [0] * 21
    groups = ((0, 6, slen1), (6, 11, slen1), (11, 16, slen2), (16, 21, slen2))
    for gi, (lo, hi, sl) in enumerate(groups):
        if not first and (scfsi >> (3 - gi)) & 1:
            for b in range(lo, hi):
                sf[b] = gr0_sf[b]
        else:
            for b in range(lo, hi):
                sf[b] = br.u(sl)
    return sf


def _decode_granule_lines(br: BitReader, g: dict, limit: int) -> list[int]:
    lines = [0] * 576
    if g["windows_switching"] and g["block_type"] == 2:
        r0_end = min(36, 2 * g["big_values"])
        r1_end = 2 * g["big_values"]
    else:
        r0_end = min(_SFB_LONG_44[g["region0_count"] + 1],
                     2 * g["big_values"])
        r1_end = min(
            _SFB_LONG_44[g["region0_count"] + g["region1_count"] + 2],
            2 * g["big_values"],
        )
    for i in range(0, 2 * g["big_values"], 2):
        region = 0 if i < r0_end else (1 if i < r1_end else 2)
        x, y = _huff_dec_pair(br, g["table_select"][region])
        lines[i], lines[i + 1] = x, y
    i = 2 * g["big_values"]
    while br.pos < limit and i + 4 <= 576:
        quad = _huff_dec_quad(br, bool(g["count1table_select"]))
        lines[i : i + 4] = quad
        i += 4
    if br.pos > limit:
        raise ValueError("Layer III Huffman decode overran part2_3_length")
    br.pos = limit  # skip stuffing bits
    return lines


def requantize_long(
    lines, global_gain: int, scalefacs, scalefac_scale: int, preflag: int
) -> np.ndarray:
    """Spec-exact frequency lines (2.4.3.4), long blocks, float64."""
    v = np.asarray(lines, dtype=np.float64)
    xr = np.sign(v) * np.abs(v) ** (4.0 / 3.0)
    xr *= 2.0 ** ((global_gain - 210) / 4.0)
    mult = 0.5 * (scalefac_scale + 1)
    for b in range(21):
        lo, hi = _SFB_LONG_44[b], _SFB_LONG_44[b + 1]
        xr[lo:hi] *= 2.0 ** (
            -mult * (scalefacs[b] + preflag * _PRETAB[b])
        )
    return xr


def requantize_short(
    lines, global_gain: int, scalefacs, scalefac_scale: int,
    subblock_gain,
) -> np.ndarray:
    """Spec-exact frequency lines (2.4.3.4), PURE SHORT blocks, in
    bitstream order (band, window, position): per band b / window w,
    xr = sign*|is|^(4/3) * 2^((gg - 210 - 8*sbg[w])/4)
       * 2^(-(scalefac_scale+1)/2 * sf[b][w]); the 136..192 tail
    carries no scalefactor."""
    v = np.asarray(lines, dtype=np.float64)
    xr = np.sign(v) * np.abs(v) ** (4.0 / 3.0)
    mult = 0.5 * (scalefac_scale + 1)
    gains = np.zeros(576)
    for b in range(13):
        lo, hi = _SFB_SHORT_44[b], _SFB_SHORT_44[b + 1]
        width = hi - lo
        for w in range(3):
            sf = scalefacs[b][w] if b < 12 else 0
            g = (
                2.0 ** ((global_gain - 210 - 8 * subblock_gain[w]) / 4.0)
                * 2.0 ** (-mult * sf)
            )
            s = 3 * lo + w * width
            gains[s : s + width] = g
    return xr * gains


def requantize_mixed(
    lines, global_gain: int, scalefacs, scalefac_scale: int,
    subblock_gain, preflag: int,
) -> np.ndarray:
    """Spec-exact frequency lines for MIXED granules: the first 36
    lines requantize as LONG bands 0..7 (with pretab), the rest as
    short bands 3..12 in bitstream order."""
    v = np.asarray(lines, dtype=np.float64)
    xr = np.sign(v) * np.abs(v) ** (4.0 / 3.0)
    mult = 0.5 * (scalefac_scale + 1)
    gains = np.zeros(576)
    gg = 2.0 ** ((global_gain - 210) / 4.0)
    for b in range(8):
        lo, hi = _SFB_LONG_44[b], _SFB_LONG_44[b + 1]
        gains[lo:hi] = gg * 2.0 ** (
            -mult * (scalefacs["long"][b] + preflag * _PRETAB[b])
        )
    for b in range(3, 13):
        lo, hi = _SFB_SHORT_44[b], _SFB_SHORT_44[b + 1]
        width = hi - lo
        for w in range(3):
            sf = scalefacs["short"][b - 3][w] if b < 12 else 0
            g = (
                2.0 ** ((global_gain - 210 - 8 * subblock_gain[w]) / 4.0)
                * 2.0 ** (-mult * sf)
            )
            s = 3 * lo + w * width
            gains[s : s + width] = g
    return xr * gains


def intensity_process_short(
    xr_l: np.ndarray,
    xr_r: np.ndarray,
    right_sf,
    right_lines,
    ms_on: bool,
):
    """Intensity stereo (2.4.3.4.9.3), PURE SHORT blocks: the zero
    part — and therefore the intensity bound — is derived PER WINDOW.
    For each window w, short scalefactor bands at/above the highest
    band holding a nonzero right-channel line in that window are
    intensity bands: the right granule's short scalefactor
    sf[b][w] is the position is_pos, the pan is
    ratio = tan(is_pos * pi / 12) exactly as for long blocks, and
    is_pos == 7 falls back to MS (when enabled) or passthrough. The
    136..192 tail (no scalefactor of its own) uses band 11's
    position, mirroring the long-block band-20 convention. Lines are
    in bitstream (band, window, position) order."""
    out_l = xr_l.copy()
    out_r = xr_r.copy()
    inv = 1.0 / np.sqrt(2.0)
    r = np.asarray(right_lines)
    for w in range(3):
        bound_b = 0  # first band where window w's zero part starts
        for b in range(13):
            lo, hi = _SFB_SHORT_44[b], _SFB_SHORT_44[b + 1]
            s = 3 * lo + w * (hi - lo)
            if np.any(r[s : s + (hi - lo)]):
                bound_b = b + 1
        for b in range(13):
            lo, hi = _SFB_SHORT_44[b], _SFB_SHORT_44[b + 1]
            s = 3 * lo + w * (hi - lo)
            e = s + (hi - lo)
            if b >= bound_b:  # intensity band (this window)
                is_pos = right_sf[min(b, 11)][w]
                if is_pos != 7:
                    ratio = np.tan(is_pos * np.pi / 12.0)
                    out_l[s:e] = xr_l[s:e] * (ratio / (1.0 + ratio))
                    out_r[s:e] = xr_l[s:e] * (1.0 / (1.0 + ratio))
                    continue
            if ms_on:
                out_l[s:e] = (xr_l[s:e] + xr_r[s:e]) * inv
                out_r[s:e] = (xr_l[s:e] - xr_r[s:e]) * inv
    return out_l, out_r


def intensity_process_mixed(
    xr_l: np.ndarray,
    xr_r: np.ndarray,
    right_sf,
    right_lines,
    ms_on: bool,
):
    """Intensity stereo (2.4.3.4.9.3), MIXED blocks: the granule is
    long bands 0..7 over lines 0..35 and short bands 3..12 above, so
    the two regions compose the two existing rules. SHORT region:
    the per-window bound/pan of intensity_process_short over bands
    3..12, positions from the mixed granule's short scalefactors
    (bands 3..11; band 12 reuses band 11, the pure-short
    convention). LONG region: long bands become intensity bands only
    when the right channel's zero part reaches down into them —
    which requires the ENTIRE short region to be zero in every
    window — using the mixed granule's long scalefactors as
    positions. is_pos == 7 falls back to MS (when enabled) or
    passthrough everywhere, and non-intensity bands take MS when
    enabled, exactly as in the long/short variants."""
    out_l = xr_l.copy()
    out_r = xr_r.copy()
    inv = 1.0 / np.sqrt(2.0)
    r = np.asarray(right_lines)
    for w in range(3):
        bound_b = 3  # first short band of a mixed granule
        for b in range(3, 13):
            lo, hi = _SFB_SHORT_44[b], _SFB_SHORT_44[b + 1]
            sidx = 3 * lo + w * (hi - lo)
            if np.any(r[sidx : sidx + (hi - lo)]):
                bound_b = b + 1
        for b in range(3, 13):
            lo, hi = _SFB_SHORT_44[b], _SFB_SHORT_44[b + 1]
            sidx = 3 * lo + w * (hi - lo)
            e = sidx + (hi - lo)
            if b >= bound_b:  # intensity band (this window)
                is_pos = right_sf["short"][min(b, 11) - 3][w]
                if is_pos != 7:
                    ratio = np.tan(is_pos * np.pi / 12.0)
                    out_l[sidx:e] = xr_l[sidx:e] * (ratio / (1.0 + ratio))
                    out_r[sidx:e] = xr_l[sidx:e] * (1.0 / (1.0 + ratio))
                    continue
            if ms_on:
                out_l[sidx:e] = (xr_l[sidx:e] + xr_r[sidx:e]) * inv
                out_r[sidx:e] = (xr_l[sidx:e] - xr_r[sidx:e]) * inv
    if r[36:].any():
        bound = 36  # zero part never reaches the long region
    else:
        nz = [i for i, v in enumerate(r[:36]) if v]
        bound = (nz[-1] + 1) if nz else 0
    for b in range(8):
        lo, hi = _SFB_LONG_44[b], _SFB_LONG_44[b + 1]
        if lo >= bound:  # intensity band
            is_pos = right_sf["long"][b]
            if is_pos != 7:
                ratio = np.tan(is_pos * np.pi / 12.0)
                out_l[lo:hi] = xr_l[lo:hi] * (ratio / (1.0 + ratio))
                out_r[lo:hi] = xr_l[lo:hi] * (1.0 / (1.0 + ratio))
                continue
        if ms_on:
            out_l[lo:hi] = (xr_l[lo:hi] + xr_r[lo:hi]) * inv
            out_r[lo:hi] = (xr_l[lo:hi] - xr_r[lo:hi]) * inv
    return out_l, out_r


def ms_butterfly(xr_m: np.ndarray, xr_s: np.ndarray):
    """MS joint stereo (2.4.3.4.9.1): left/right from mid/side."""
    inv = 1.0 / np.sqrt(2.0)
    return (xr_m + xr_s) * inv, (xr_m - xr_s) * inv


def intensity_process(
    xr_l: np.ndarray,
    xr_r: np.ndarray,
    right_sf,
    right_lines,
    ms_on: bool,
):
    """Intensity stereo (2.4.3.4.9.3), long blocks: scalefactor bands
    lying entirely in the right channel's zero part are intensity
    bands — the right granule's scalefactor there is a POSITION
    is_pos, and the left channel's lines are panned by
    ratio = tan(is_pos * pi / 12):
      L = xr * ratio / (1 + ratio),  R = xr * 1 / (1 + ratio).
    is_pos == 7 is the illegal position: the band falls back to MS
    (when mode_extension also has MS) or L/R passthrough. Bands below
    the intensity bound take MS when enabled, else passthrough. The
    418..576 tail (no scalefactor of its own) uses band 20's
    position, the conventional decoder choice."""
    nz = [i for i, v in enumerate(right_lines) if v]
    bound = (nz[-1] + 1) if nz else 0
    out_l = xr_l.copy()
    out_r = xr_r.copy()
    inv = 1.0 / np.sqrt(2.0)
    for b in range(22):
        lo = _SFB_LONG_44[b]
        hi = _SFB_LONG_44[b + 1]
        if lo >= bound:  # intensity band
            is_pos = right_sf[min(b, 20)]
            if is_pos != 7:
                ratio = np.tan(is_pos * np.pi / 12.0)
                out_l[lo:hi] = xr_l[lo:hi] * (ratio / (1.0 + ratio))
                out_r[lo:hi] = xr_l[lo:hi] * (1.0 / (1.0 + ratio))
                continue
        if ms_on:
            out_l[lo:hi] = (xr_l[lo:hi] + xr_r[lo:hi]) * inv
            out_r[lo:hi] = (xr_l[lo:hi] - xr_r[lo:hi]) * inv
    return out_l, out_r


def decode_mp3_l3(buf: bytes) -> dict:
    """Decode an MPEG-1 Layer III mono/stereo 44.1 kHz stream down to
    integer frequency lines + requantized xr per granule/channel.
    Returns {n_frames, n_granules, reservoir_used, granules: [
    {lines, xr, global_gain, ...} per (frame, granule, channel)]}."""
    pos = 0
    if buf[:3] == b"ID3":
        _, tag_len = parse_id3v2(buf)
        pos = tag_len
    reservoir = bytearray()
    pending = []  # (side_info, md_start_in_reservoir)
    n_frames = 0
    reservoir_used = False
    granules = []
    while pos + 4 <= len(buf):
        h = buf[pos : pos + 4]
        if h[0] != 0xFF or (h[1] & 0xE0) != 0xE0:
            raise ValueError(f"lost sync at byte {pos}")
        if (h[1] & 0x1E) != 0x1A:
            raise NotImplementedError("MPEG-1 Layer III only")
        bi = h[2] >> 4
        si_idx = (h[2] >> 2) & 3
        if bi == 0:
            raise NotImplementedError("free-format Layer III bitrate")
        if bi == 15 or si_idx == 3:
            raise ValueError(f"reserved Layer III header field at byte {pos}")
        padding = (h[2] >> 1) & 1
        mode = h[3] >> 6
        mode_ext = (h[3] >> 4) & 3
        nch = 1 if mode == 3 else 2
        ms_stereo = mode == 1 and bool(mode_ext & 2)
        is_stereo = mode == 1 and bool(mode_ext & 1)
        flen = (
            144000 * _BITRATE_KBPS[bi] // _SAMPLE_RATES[si_idx] + padding
        )
        side_len = 17 if nch == 1 else 32
        side = _parse_side_info(buf[pos + 4 : pos + 4 + side_len], nch)
        md_region = buf[pos + 4 + side_len : pos + flen]
        begin = side["main_data_begin"]
        if begin > len(reservoir):
            raise ValueError("main_data_begin reaches before the stream")
        if begin:
            reservoir_used = True
        md_start = len(reservoir) - begin
        reservoir.extend(md_region)
        br = BitReader(bytes(reservoir), md_start * 8)
        frame_gr0: list[dict] = []
        for gi in range(2):
            if gi == 1:
                frame_gr0 = granules[-nch:]
            for ch in range(nch):
                g = side["granules"][gi][ch]
                start = br.pos
                limit = start + g["part2_3_length"]
                sf = _decode_scalefacs(
                    br, g, side["scfsi"][ch],
                    frame_gr0[ch]["scalefacs"] if gi else None,
                    gi == 0,
                )
                lines = _decode_granule_lines(br, g, limit)
                if g["block_type"] != 2:
                    xr = requantize_long(
                        lines, g["global_gain"], sf,
                        g["scalefac_scale"], g["preflag"],
                    )
                elif g["mixed_block_flag"]:
                    xr = requantize_mixed(
                        lines, g["global_gain"], sf,
                        g["scalefac_scale"], g["subblock_gain"],
                        g["preflag"],
                    )
                else:
                    xr = requantize_short(
                        lines, g["global_gain"], sf,
                        g["scalefac_scale"], g["subblock_gain"],
                    )
                granules.append(
                    {
                        "frame": n_frames,
                        "granule": gi,
                        "channel": ch,
                        "lines": lines,
                        "scalefacs": sf,
                        "xr": xr,
                        "global_gain": g["global_gain"],
                        "big_values": g["big_values"],
                        "block_type": g["block_type"],
                        "mixed": bool(g["mixed_block_flag"]),
                    }
                )
            if ms_stereo or is_stereo:
                gl, gr_ = granules[-2], granules[-1]
                if is_stereo:
                    gr_info = side["granules"][gi][1]
                    if (gr_info["block_type"] == 2
                            and gr_info["mixed_block_flag"]):
                        gl["xr"], gr_["xr"] = intensity_process_mixed(
                            gl["xr"], gr_["xr"], gr_["scalefacs"],
                            gr_["lines"], ms_stereo,
                        )
                    elif gr_info["block_type"] == 2:
                        gl["xr"], gr_["xr"] = intensity_process_short(
                            gl["xr"], gr_["xr"], gr_["scalefacs"],
                            gr_["lines"], ms_stereo,
                        )
                    else:
                        gl["xr"], gr_["xr"] = intensity_process(
                            gl["xr"], gr_["xr"], gr_["scalefacs"],
                            gr_["lines"], ms_stereo,
                        )
                    gl["intensity"] = gr_["intensity"] = True
                else:
                    gl["xr"], gr_["xr"] = ms_butterfly(
                        gl["xr"], gr_["xr"]
                    )
                if ms_stereo:
                    gl["ms"] = gr_["ms"] = True
        n_frames += 1
        pos += flen
        # trailing stuffing after the last frame is all zeros
        if pos < len(buf) and all(
            b == 0 for b in buf[pos : pos + 4]
        ):
            break
    return {
        "n_frames": n_frames,
        "n_granules": len(granules),
        "reservoir_used": reservoir_used,
        "granules": granules,
    }


# ---------------------------------------------------------------------------
# Fixture + Spark surface
# ---------------------------------------------------------------------------


def _fixture_granule(d: int, k: int) -> GranuleSpec:
    """Deterministic long-block granule for doc d, granule index k —
    the shared formula contract between the encoder and the SQL
    oracle (M34_SQL recomputes lines from EXACTLY these)."""
    big = 40 + (d * 7 + k * 11) % 30
    count1 = 8 + (d + k) % 8
    t0 = 1 + (d + k) % 3
    m0 = 1 if t0 == 1 else 2
    t1 = 5 + (d + k) % 2
    t2 = 5 + (d + k + 1) % 2
    lines = [0] * 576
    for i in range(2 * big):
        if i < 24:  # region 0 (region0_count=5 -> band[6]=24)
            lines[i] = (d + k + i * 3) % (2 * m0 + 1) - m0
        else:
            lines[i] = (d * 3 + k * 5 + i * 7) % 7 - 3
    base = 2 * big
    for j in range(4 * count1):
        lines[base + j] = (d + k + j) % 3 - 1
    slen1, slen2 = _SLEN[(d + k) % 16]
    sf = [
        (d + k + b) % (1 << (slen1 if b < 11 else slen2))
        if (slen1 if b < 11 else slen2)
        else 0
        for b in range(21)
    ]
    return GranuleSpec(
        lines=lines,
        big_values=big,
        table_sel=(t0, t1, t2),
        count1=count1,
        count1_table_b=bool((d + k) % 2),
        global_gain=120 + (d + k) % 64,
        scalefac_compress=(d + k) % 16,
        scalefacs=sf,
        preflag=(d + k) % 2,
        scalefac_scale=d % 2,
    )


def synthesize_mp3_l3_clips(
    docs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Per-document mono Layer III stream: 3 + id%3 frames (2 granules
    each), every granule's spectral lines / tables / gains pure id
    formulas, bit-reservoir packing live."""
    out_schema = f"{id_col} long, content binary"

    def build(i):
        n_frames = 3 + i % 3
        gs = [
            _fixture_granule(i, k) for k in range(2 * n_frames)
        ]
        yield i, encode_mp3_l3(gs, scfsi=0, tags={"TIT2": f"doc{i}"})

    return map_rows(docs, build, out_schema, cols=(id_col,))


def mp3_l3_features(
    media: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "content",
) -> DataFrame:
    """Decode Layer III payloads and emit integer spectral-line
    features the oracle recomputes: per-doc granule count, sum of
    |lines|, nonzero count, and an order-weighted checksum
    sum(v_i * (i+1) * (k+1)) over granules k and line positions i."""
    out_schema = (
        f"{id_col} long, n_frames int, n_granules int,"
        " reservoir_used boolean, sum_abs bigint, n_nonzero bigint,"
        " weighted_sum bigint"
    )

    def feat(i, content):
        d = decode_mp3_l3(content)
        sum_abs = n_nz = wsum = 0
        for k, g in enumerate(d["granules"]):
            for idx, v in enumerate(g["lines"]):
                if v:
                    sum_abs += abs(v)
                    n_nz += 1
                    wsum += v * (idx + 1) * (k + 1)
        yield (
            i,
            d["n_frames"],
            d["n_granules"],
            bool(d["reservoir_used"]),
            sum_abs,
            n_nz,
            wsum,
        )

    return map_rows(media, feat, out_schema, cols=(id_col, content_col))


# ---------------------------------------------------------------------------
# r10 fixture: mid-range Huffman tables + intensity stereo (m41)
# ---------------------------------------------------------------------------


def _m41_long_left(d: int, k: int) -> GranuleSpec:
    """Long-block left granule: region tables (7, 10, 12) with values
    to the tables' limits (±5 / ±7) — the r10 mid-range family."""
    big = 50 + (d + k) % 10
    lines = [0] * 576
    for i in range(2 * big):
        if i < 20:  # region 0 (region0_count=4 -> band[5]=20)
            lines[i] = (d + k + i * 3) % 11 - 5
        elif i < 62:  # region 1 (bands 5..10 -> 62)
            lines[i] = (d * 3 + k + i * 5) % 15 - 7
        else:
            lines[i] = (d + k * 5 + i * 7) % 15 - 7
    count1 = 4 + (d + k) % 4
    base = 2 * big
    for j in range(4 * count1):
        lines[base + j] = (d + k + j) % 3 - 1
    return GranuleSpec(
        lines=lines, big_values=big, table_sel=(7, 10, 12),
        count1=count1, count1_table_b=False,
        global_gain=206 + d % 8, scalefac_compress=0,
        scalefacs=[0] * 21, region0_count=4, region1_count=5,
    )


def _m41_long_right(d: int, k: int) -> GranuleSpec:
    """Long-block right granule: zero above line 36 (intensity bound
    = band 8), tables (8, 9); scalefactors above the bound carry the
    intensity POSITIONS (d + b) % 3."""
    big = 18
    lines = [0] * 576
    for i in range(2 * big):
        lines[i] = (d + k + i * 3) % 11 - 5
    sf = [0] * 21
    for b in range(8, 21):
        sf[b] = (d + b) % 3
    return GranuleSpec(
        lines=lines, big_values=big, table_sel=(8, 9, 0),
        count1=0, count1_table_b=False,
        global_gain=200 + d % 8, scalefac_compress=9,  # slen (2,2)
        scalefacs=sf, region0_count=4, region1_count=5,
    )


def _m41_short_left(d: int, k: int) -> GranuleSpec:
    """Pure-short left granule: region tables (9, 10)."""
    big = 40 + (d + k) % 6
    lines = [0] * 576
    for i in range(2 * big):
        if i < 36:
            lines[i] = (d + k + i * 3) % 11 - 5
        else:
            lines[i] = (d * 5 + k + i * 7) % 15 - 7
    return GranuleSpec(
        lines=lines, big_values=big, table_sel=(9, 10),
        count1=0, count1_table_b=False,
        global_gain=206 + d % 8, scalefac_compress=0,
        scalefacs=None, block_type=2, subblock_gain=(0, 0, 0),
        short_scalefacs=[[0] * 3 for _ in range(12)],
    )


def _m41_short_right(d: int, k: int) -> GranuleSpec:
    """Pure-short right granule: zero above line 36 = bands 0..2 in
    every window, so each window's intensity bound is band 3; short
    scalefactors at/above band 3 carry positions (d + b + w) % 3."""
    big = 18
    lines = [0] * 576
    for i in range(2 * big):
        lines[i] = (d + k + i * 3) % 11 - 5
    ssf = [
        [((d + b + w) % 3 if b >= 3 else 0) for w in range(3)]
        for b in range(12)
    ]
    return GranuleSpec(
        lines=lines, big_values=big, table_sel=(8, 0),
        count1=0, count1_table_b=False,
        global_gain=200 + d % 8, scalefac_compress=9,
        scalefacs=None, block_type=2, subblock_gain=(0, 0, 0),
        short_scalefacs=ssf,
    )


def synthesize_mp3_intensity_clips(
    docs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Per-document STEREO Layer III stream (mode joint stereo,
    mode_extension intensity): frame 0 long-block granules through
    tables 7/10/12 (left) and 8/9 (right, zero tail -> intensity
    bound at band 8), frame 1 pure-short granules through 9/10 and 8
    with per-window intensity bounds at band 3."""
    out_schema = f"{id_col} long, content binary"

    def build(i):
        gs = [
            _m41_long_left(i, 0), _m41_long_right(i, 0),
            _m41_long_left(i, 1), _m41_long_right(i, 1),
            _m41_short_left(i, 2), _m41_short_right(i, 2),
            _m41_short_left(i, 3), _m41_short_right(i, 3),
        ]
        yield i, encode_mp3_l3(gs, scfsi=0, nch=2, intensity=True)

    return map_rows(docs, build, out_schema, cols=(id_col,))


def mp3_intensity_features(
    media: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "content",
) -> DataFrame:
    """Decode the m41 stereo clips and emit exact integer line
    features (sum_abs / n_nonzero / weighted_sum across all 8
    granules — pins the mid-range Huffman tables) plus the
    intensity-processed xr sums of the left and right channels
    rounded to 3 decimals (pins the tan(is_pos*pi/12) pan, long and
    short; the engines sum identical doubles in different groupings
    — the m39/w8 rounding exception class)."""
    out_schema = (
        f"{id_col} long, n_granules int, sum_abs bigint,"
        " n_nonzero bigint, weighted_sum bigint,"
        " sum_xl double, sum_xr double"
    )

    def feat(i, content):
        d = decode_mp3_l3(content)
        sum_abs = n_nz = wsum = 0
        sum_xl = sum_xr = 0.0
        for k, g in enumerate(d["granules"]):
            if not g.get("intensity"):
                raise ValueError(
                    f"doc {i} granule {k}: intensity flag "
                    "missing — joint-stereo decode did not run"
                )
            for idx, v in enumerate(g["lines"]):
                if v:
                    sum_abs += abs(v)
                    n_nz += 1
                    wsum += v * (idx + 1) * (k + 1)
            if k % 2 == 0:
                sum_xl += float(np.sum(g["xr"]))
            else:
                sum_xr += float(np.sum(g["xr"]))
        yield (i, d["n_granules"], sum_abs, n_nz, wsum,
               round(sum_xl, 3), round(sum_xr, 3))

    return map_rows(media, feat, out_schema, cols=(id_col, content_col))
