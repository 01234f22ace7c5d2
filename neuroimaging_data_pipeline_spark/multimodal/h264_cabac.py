"""H.264 CABAC entropy layer for intra slices (ITU-T H.264 clause 9.3).

Closes the round-8 declared gate (h264_intra.py raised "CABAC PPS
unsupported"): the context-adaptive binary arithmetic coder used by
virtually all real-world H.264 video, implemented from the published
spec for the intra tool set this codec family already decodes
bit-exactly under CAVLC:

- the binary arithmetic DECODING engine (9.3.3.2): 9-bit offset
  register, rangeTabLPS (Table 9-44), state transitions (Table 9-45),
  decision / bypass / terminate decoding with renormalization;
- the matching arithmetic ENCODER (9.3.4): low/range registers,
  outstanding-bit carry resolution (PutBit), bypass and terminate
  encoding, the final flush that plants the rbsp_stop_one_bit;
- context-variable initialization (9.3.1.1): the I-slice column of
  the published (m, n) tables for every context an intra 4:2:0 slice
  can touch (ctxIdx 3..10 mb_type, 60..69 qp-delta/chroma-mode/intra
  modes, 73..84 CBP, 85..104 coded_block_flag, 105..165 / 166..226
  frame-coded significance maps, 227..275 level magnitudes);
- binarizations (9.3.2): the I mb_type tree with its mid-string
  terminate bin, TU / FL / mapped-unary, and UEG0 suffixes for
  coefficient levels;
- residual_block_cabac (7.3.5.3.3): per-block coded_block_flag with
  spatial neighbor contexts, significant / last-significant scan
  flags, and reverse-scan level decoding with the Eq1/Gt1 context
  ramp;
- a full IDR encoder emitting MIXED Intra_16x16 + I_4x4 macroblocks
  in one CABAC slice, and the matching decoder. Prediction,
  transform, quantization and reconstruction are SHARED with the
  proven CAVLC implementation (h264_intra.py) — this module is
  exactly the entropy layer.

Conformance: the engine and tables are transcribed from the published
spec; the encoder<->decoder round-trip is bit-exact by construction
(pinned across QPs and macroblock mixes in tests/test_h264_cabac.py),
and the same test file carries a capability-gated ffmpeg cross-pin
that verifies decoder parity against libavcodec wherever ffmpeg is
installed (this container has none — the gate skips loudly).

Reference parity: preprocess_parallel.sh shells out to external tools
for any video-adjacent work; this is the engine-side equivalent for
H.264 corpora (SURVEY.md multimodal lane).
"""

from __future__ import annotations


import numpy as np
from pyspark.sql import DataFrame

from neuroimaging_data_pipeline_spark.functions.rowmap import map_rows
from neuroimaging_data_pipeline_spark.multimodal.bitio import (
    BitReader,
    BitWriter,
)
from neuroimaging_data_pipeline_spark.multimodal.h264 import (
    _check_planes,
    _nal,
    _parse_slice_header,
    _pps_rbsp,
    _slice_header,
    _slice_nals,
    _sps_rbsp,
    yuv_features,
)
from neuroimaging_data_pipeline_spark.multimodal.h264_intra import (
    _CF,
    _H2,
    _H4,
    _MF,
    _MODE_NEEDS,
    _ZBLK,
    _ZIGA,
    _ZIGA1,
    _chroma_qp,
    _decoded_before_factory,
    _dequant_ac,
    _fwd4x4,
    _inv4x4,
    _pred4,
    _pred8_chroma_dc,
    _pred16,
    _quant,
    _quant_dc4,
    _recon_chroma8,
    _recon_mb16,
)

# ---------------------------------------------------------------------------
# Arithmetic coding engine (9.3.3.2 decode / 9.3.4 encode)
# ---------------------------------------------------------------------------

# Table 9-44: rangeTabLPS[pStateIdx][qCodIRangeIdx]
_RANGE_LPS = (
    (128, 176, 208, 240), (128, 167, 197, 227), (128, 158, 187, 216),
    (123, 150, 178, 205), (116, 142, 169, 195), (111, 135, 160, 185),
    (105, 128, 152, 175), (100, 122, 144, 166), (95, 116, 137, 158),
    (90, 110, 130, 150), (85, 104, 123, 142), (81, 99, 117, 135),
    (77, 94, 111, 128), (73, 89, 105, 122), (69, 85, 100, 116),
    (66, 80, 95, 110), (62, 76, 90, 104), (59, 72, 86, 99),
    (56, 69, 81, 94), (53, 65, 77, 89), (51, 62, 73, 85),
    (48, 59, 69, 80), (46, 56, 66, 76), (43, 53, 63, 72),
    (41, 50, 59, 69), (39, 48, 56, 65), (37, 45, 54, 62),
    (35, 43, 51, 59), (33, 41, 48, 56), (32, 39, 46, 53),
    (30, 37, 43, 50), (28, 35, 41, 48), (27, 33, 39, 45),
    (25, 31, 37, 43), (24, 30, 35, 41), (23, 28, 33, 39),
    (22, 27, 32, 37), (21, 26, 30, 35), (20, 24, 29, 33),
    (19, 23, 27, 31), (18, 22, 26, 30), (17, 21, 25, 28),
    (16, 20, 23, 27), (15, 19, 22, 25), (14, 18, 21, 24),
    (14, 17, 20, 23), (13, 16, 19, 22), (12, 15, 18, 21),
    (12, 14, 17, 20), (11, 14, 16, 19), (11, 13, 15, 18),
    (10, 12, 15, 17), (10, 12, 14, 16), (9, 11, 13, 15),
    (9, 11, 12, 14), (8, 10, 12, 14), (8, 9, 11, 13),
    (7, 9, 11, 12), (7, 9, 10, 12), (7, 8, 10, 11),
    (6, 8, 9, 11), (6, 7, 9, 10), (6, 7, 8, 9),
    (2, 2, 2, 2),
)

# Table 9-45: transIdxLPS (transIdxMPS is min(pStateIdx + 1, 62))
_TRANS_LPS = (
    0, 0, 1, 2, 2, 4, 4, 5, 6, 7, 8, 9, 9, 11, 11, 12,
    13, 13, 15, 15, 16, 16, 18, 18, 19, 19, 21, 21, 23, 23, 24, 24,
    25, 26, 26, 27, 27, 28, 29, 29, 30, 30, 30, 31, 32, 32, 33, 33,
    33, 34, 34, 35, 35, 35, 36, 36, 36, 37, 37, 37, 38, 38, 38, 63,
)

# I-slice context initialization (9.3.1.1): ctxIdx -> (m, n), the
# I-slice column of the published tables, for every context reachable
# in a frame-coded intra 4:2:0 slice. P/B-only contexts (11..59,
# mb_skip/sub_mb/motion) and field-coded maps (277..398) are omitted
# on purpose — touching one raises a KeyError, which is the honest
# behavior for an intra-only decoder.
_CTX_INIT_I: dict[int, tuple[int, int]] = {}


def _ctx_fill(start: int, pairs) -> None:
    for off, mn in enumerate(pairs):
        _CTX_INIT_I[start + off] = mn


# mb_type (I), ctxIdx 3..10
_ctx_fill(3, [
    (20, -15), (2, 54), (3, 74), (-28, 127),
    (-23, 104), (-6, 53), (-1, 54), (7, 51),
])
# mb_qp_delta 60..63, intra_chroma_pred_mode 64..67,
# prev_intra4x4_pred_mode_flag 68, rem_intra4x4_pred_mode 69
_ctx_fill(60, [
    (0, 41), (0, 63), (0, 63), (0, 63),
    (-9, 83), (4, 86), (0, 97), (-7, 72),
    (13, 41), (3, 62),
])
# coded_block_pattern: luma 73..76, chroma 77..84
_ctx_fill(73, [
    (-17, 127), (-13, 102), (0, 82), (-7, 74),
    (-21, 107), (-27, 127), (-31, 127), (-24, 127),
    (-18, 95), (-27, 127), (-21, 114), (-30, 127),
])
# coded_block_flag 85..104 (ctxBlockCat 0..4, 4 contexts each)
_ctx_fill(85, [
    (-17, 123), (-12, 115), (-16, 122), (-11, 115),
    (-12, 63), (-2, 68), (-15, 84), (-13, 104),
    (-3, 70), (-8, 93), (-10, 90), (-30, 127),
    (-1, 74), (-6, 97), (-7, 91), (-20, 127),
    (-4, 56), (-5, 82), (-7, 76), (-22, 125),
])
# significant_coeff_flag, frame-coded, 105..165
_ctx_fill(105, [
    (-7, 93), (-11, 87), (-3, 77), (-5, 71), (-4, 63),
    (-4, 68), (-12, 84), (-7, 62), (-7, 65), (8, 61),
    (5, 56), (-2, 66), (1, 64), (0, 61), (-2, 78),
    (1, 50), (7, 52), (10, 35), (0, 44), (11, 38),
    (1, 45), (0, 46), (5, 44), (31, 17), (1, 51),
    (7, 50), (28, 19), (16, 33), (14, 62), (-13, 108),
    (-15, 100), (-13, 101), (-13, 91), (-12, 94), (-10, 88),
    (-16, 84), (-10, 86), (-7, 83), (-13, 87), (-19, 94),
    (1, 70), (0, 72), (-5, 74), (18, 59), (-8, 102),
    (-15, 100), (0, 95), (-4, 75), (2, 72), (-11, 75),
    (-3, 71), (15, 46), (-13, 69), (0, 62), (0, 65),
    (21, 37), (-15, 72), (9, 57), (16, 54), (0, 62),
    (12, 72),
])
# last_significant_coeff_flag, frame-coded, 166..226
_ctx_fill(166, [
    (24, 0), (15, 9), (8, 25), (13, 18), (15, 9),
    (13, 19), (10, 37), (12, 18), (6, 29), (20, 33),
    (15, 30), (4, 45), (1, 58), (0, 62), (7, 61),
    (12, 38), (11, 45), (15, 39), (11, 42), (13, 44),
    (16, 45), (12, 41), (10, 49), (30, 34), (18, 42),
    (10, 55), (17, 51), (17, 46), (0, 89), (26, -19),
    (22, -17), (26, -17), (30, -25), (28, -20), (33, -23),
    (37, -27), (33, -23), (40, -28), (38, -17), (33, -11),
    (40, -15), (41, -6), (38, 1), (41, 17), (30, -6),
    (27, 3), (26, 22), (37, -16), (35, -4), (38, -8),
    (38, -3), (37, 3), (38, 5), (42, 0), (35, 16),
    (39, 22), (14, 48), (27, 37), (21, 60), (12, 68),
    (2, 97),
])
# coeff_abs_level_minus1, 227..275
_ctx_fill(227, [
    (-3, 71), (-6, 42), (-5, 50), (-3, 54), (-2, 62),
    (0, 58), (1, 63), (-2, 72), (-1, 74), (-9, 91),
    (-5, 67), (-4, 76), (-4, 77), (-6, 76), (10, 58),
    (-1, 76), (-1, 83), (-7, 99), (-14, 95), (2, 95),
    (0, 76), (-5, 82), (0, 79), (-11, 104), (-2, 75),
    (-3, 75), (0, 70), (-2, 84), (-9, 85), (-13, 89),
    (-1, 85), (-13, 94), (-9, 92), (-14, 107), (-10, 103),
    (-11, 97), (-12, 73), (-5, 70), (-12, 88), (-11, 89),
    (-15, 103), (-8, 91), (-8, 91), (-8, 91), (-9, 93),
    (-1, 73), (-2, 73), (-7, 81), (0, 64),
])

# syntax-element context offsets per ctxBlockCat (0: Intra16x16 luma
# DC, 1: Intra16x16 luma AC, 2: luma 4x4, 3: chroma DC, 4: chroma AC)
_CBF_OFF = (85, 89, 93, 97, 101)
_SIG_OFF = (105, 120, 134, 149, 152)
_LAST_OFF = (166, 181, 195, 210, 213)
_LEVEL_OFF = (227, 237, 247, 257, 266)


class _Ctx:
    """Per-slice context variable array (9.3.1.1 initialization)."""

    __slots__ = ("state", "mps")

    def __init__(self, qp: int) -> None:
        self.state = {}
        self.mps = {}
        q = min(max(qp, 0), 51)
        for ctx, (m, n) in _CTX_INIT_I.items():
            pre = min(max(1, ((m * q) >> 4) + n), 126)
            if pre <= 63:
                self.state[ctx], self.mps[ctx] = 63 - pre, 0
            else:
                self.state[ctx], self.mps[ctx] = pre - 64, 1


class _Enc:
    """Arithmetic encoder (9.3.4): writes into a BitWriter that must be
    byte-aligned (cabac_alignment_one_bit already written).

    r14: the hot paths (``decision``, ``bypass``) inline the
    renormalization loop and fold emitted bits into a local integer
    accumulator that is flushed to the BitWriter in chunks — one writer
    call per ~KB instead of per bit (the r13 profile charged ~40% of
    m33's encode CPU to the per-bit _put/_renorm/u call chain). The
    put/outstanding semantics — including the swallowed FIRST bit and
    the k inverted outstanding bits after each put — are replicated
    exactly, so the emitted bitstream is unchanged bit for bit."""

    __slots__ = ("w", "low", "range", "outstanding", "first",
                 "acc", "nb")

    #: flush the accumulator down to _KEEP bits once it crosses _LIM
    #: (keeps bigint shifts bounded; any split point preserves the
    #: MSB-first stream; 512/64 measured fastest — larger windows make
    #: every bin shift a big accumulator)
    _LIM = 512
    _KEEP = 64

    def __init__(self, w: BitWriter) -> None:
        self.w = w
        self.low = 0
        self.range = 510
        self.outstanding = 0
        self.first = True
        self.acc = 0
        self.nb = 0

    def _put(self, b: int) -> None:
        if self.first:
            self.first = False
        else:
            self.acc = (self.acc << 1) | b
            self.nb += 1
        k = self.outstanding
        if k:
            # k copies of (1-b) as ONE accumulated field
            self.acc = (self.acc << k) | (0 if b else (1 << k) - 1)
            self.nb += k
            self.outstanding = 0

    def _renorm(self) -> None:
        while self.range < 256:
            if self.low >= 512:
                self.low -= 512
                self._put(1)
            elif self.low < 256:
                self._put(0)
            else:
                self.low -= 256
                self.outstanding += 1
            self.range <<= 1
            self.low <<= 1

    def decision(self, ctxs: _Ctx, ctx: int, b: int) -> None:
        st = ctxs.state[ctx]
        rng = self.range
        lps = _RANGE_LPS[st][(rng >> 6) & 3]
        rng -= lps
        low = self.low
        if b != ctxs.mps[ctx]:
            low += rng
            rng = lps
            if st == 0:
                ctxs.mps[ctx] = 1 - ctxs.mps[ctx]
            ctxs.state[ctx] = _TRANS_LPS[st]
        else:
            ctxs.state[ctx] = st + 1 if st < 62 else 62
        if rng < 256:
            acc = self.acc
            nb = self.nb
            out = self.outstanding
            first = self.first
            while rng < 256:
                if 256 <= low < 512:
                    low -= 256
                    out += 1
                else:
                    if low >= 512:
                        low -= 512
                        if first:
                            first = False
                        else:
                            acc = (acc << 1) | 1
                            nb += 1
                        if out:
                            acc <<= out
                            nb += out
                            out = 0
                    else:
                        if first:
                            first = False
                        else:
                            acc <<= 1
                            nb += 1
                        if out:
                            acc = (acc << out) | ((1 << out) - 1)
                            nb += out
                            out = 0
                rng <<= 1
                low <<= 1
            if nb >= self._LIM:
                cut = nb - self._KEEP
                self.w.u(acc >> self._KEEP, cut)
                acc &= (1 << self._KEEP) - 1
                nb = self._KEEP
            self.acc = acc
            self.nb = nb
            self.outstanding = out
            self.first = first
        self.range = rng
        self.low = low

    def bypass(self, b: int) -> None:
        low = self.low << 1
        if b:
            low += self.range
        if low >= 1024:
            low -= 1024
            self._put(1)
        elif low < 512:
            self._put(0)
        else:
            low -= 512
            self.outstanding += 1
        self.low = low
        if self.nb >= self._LIM:
            cut = self.nb - self._KEEP
            self.w.u(self.acc >> self._KEEP, cut)
            self.acc &= (1 << self._KEEP) - 1
            self.nb = self._KEEP

    def terminate(self, b: int) -> None:
        self.range -= 2
        if b:
            self.low += self.range
            self._flush()
        else:
            self._renorm()

    def _flush(self) -> None:
        self.range = 2
        self._renorm()
        self._put((self.low >> 9) & 1)
        # the final two bits carry the rbsp_stop_one_bit
        self.acc = (self.acc << 2) | (((self.low >> 7) & 3) | 1)
        self.nb += 2
        if self.nb:
            self.w.u(self.acc, self.nb)
            self.acc = 0
            self.nb = 0


class _Dec:
    """Arithmetic decoder (9.3.3.2). Reads zero-fill past the end of
    the buffer (renormalization legally consumes a few bits beyond
    the last meaningful one)."""

    def __init__(self, data: bytes, pos_bits: int) -> None:
        self.data = data
        self.pos = pos_bits
        self.range = 510
        self.offset = 0
        for _ in range(9):
            self.offset = (self.offset << 1) | self._bit()

    def _bit(self) -> int:
        i = self.pos
        self.pos += 1
        byte = i >> 3
        if byte >= len(self.data):
            return 0
        return (self.data[byte] >> (7 - (i & 7))) & 1

    def decision(self, ctxs: _Ctx, ctx: int) -> int:
        # hot loop: local caching + inlined renorm bit fetch (same
        # math as the attribute-access form, bit-for-bit)
        rng = self.range
        off = self.offset
        st = ctxs.state[ctx]
        mps = ctxs.mps[ctx]
        lps = _RANGE_LPS[st][(rng >> 6) & 3]
        rng -= lps
        if off >= rng:
            b = 1 - mps
            off -= rng
            rng = lps
            if st == 0:
                ctxs.mps[ctx] = b
            ctxs.state[ctx] = _TRANS_LPS[st]
        else:
            b = mps
            if st < 62:
                ctxs.state[ctx] = st + 1
        if rng < 256:
            data = self.data
            pos = self.pos
            n = len(data)
            while rng < 256:
                rng <<= 1
                i = pos >> 3
                off = (off << 1) | (
                    (data[i] >> (7 - (pos & 7))) & 1 if i < n else 0
                )
                pos += 1
            self.pos = pos
        self.range = rng
        self.offset = off
        return b

    def bypass(self) -> int:
        pos = self.pos
        self.pos = pos + 1
        i = pos >> 3
        bit = (self.data[i] >> (7 - (pos & 7))) & 1 if i < len(self.data) else 0
        off = (self.offset << 1) | bit
        if off >= self.range:
            self.offset = off - self.range
            return 1
        self.offset = off
        return 0

    def terminate(self) -> int:
        self.range -= 2
        if self.offset >= self.range:
            return 1
        while self.range < 256:
            self.range <<= 1
            self.offset = (self.offset << 1) | self._bit()
        return 0


# ---------------------------------------------------------------------------
# Residual block coding (7.3.5.3.3 syntax, 9.3.2.3 binarization)
# ---------------------------------------------------------------------------


def _sig_inc(cat: int, i: int) -> int:
    # 4:2:0 chroma DC: Min(levelListIdx / NumC8x8, 2) with NumC8x8=1
    return min(i, 2) if cat == 3 else i


def _enc_residual(
    enc: _Enc, ctxs: _Ctx, coeffs: list[int], cat: int, cbf_inc: int
) -> int:
    """Encode one residual block (coeffs in scan order). Returns the
    coded_block_flag value (for neighbor-context tracking)."""
    n = len(coeffs)
    cbf = 1 if any(coeffs) else 0
    enc.decision(ctxs, _CBF_OFF[cat] + cbf_inc, cbf)
    if not cbf:
        return 0
    last = max(i for i, c in enumerate(coeffs) if c)
    for i in range(n - 1):
        sig = 1 if coeffs[i] else 0
        enc.decision(ctxs, _SIG_OFF[cat] + _sig_inc(cat, i), sig)
        if sig:
            enc.decision(
                ctxs, _LAST_OFF[cat] + _sig_inc(cat, i), 1 if i == last else 0
            )
            if i == last:
                break
    eq1 = gt1 = 0
    for i in range(last, -1, -1):
        c = coeffs[i]
        if not c:
            continue
        mag = abs(c) - 1
        inc0 = 0 if gt1 else min(4, 1 + eq1)
        incn = 5 + min(4 - (1 if cat == 3 else 0), gt1)
        base = _LEVEL_OFF[cat]
        prefix = min(mag, 14)
        for k in range(prefix):
            enc.decision(ctxs, base + (inc0 if k == 0 else incn), 1)
        if prefix < 14:
            enc.decision(ctxs, base + (inc0 if prefix == 0 else incn), 0)
        else:
            # UEG0 suffix, bypass-coded
            v = mag - 14
            k = 0
            while v >= (1 << k):
                enc.bypass(1)
                v -= 1 << k
                k += 1
            enc.bypass(0)
            for kk in range(k - 1, -1, -1):
                enc.bypass((v >> kk) & 1)
        enc.bypass(1 if c < 0 else 0)
        if abs(c) == 1:
            eq1 += 1
        else:
            gt1 += 1
    return 1


def _dec_residual(
    dec: _Dec, ctxs: _Ctx, cat: int, cbf_inc: int, n: int
) -> tuple[list[int], int]:
    """Decode one residual block; returns (coeffs in scan order,
    coded_block_flag)."""
    cbf = dec.decision(ctxs, _CBF_OFF[cat] + cbf_inc)
    coeffs = [0] * n
    if not cbf:
        return coeffs, 0
    sig = [0] * n
    last = n - 1
    for i in range(n - 1):
        if dec.decision(ctxs, _SIG_OFF[cat] + _sig_inc(cat, i)):
            sig[i] = 1
            if dec.decision(ctxs, _LAST_OFF[cat] + _sig_inc(cat, i)):
                last = i
                break
    else:
        sig[n - 1] = 1
    eq1 = gt1 = 0
    for i in range(last, -1, -1):
        if not sig[i]:
            continue
        inc0 = 0 if gt1 else min(4, 1 + eq1)
        incn = 5 + min(4 - (1 if cat == 3 else 0), gt1)
        base = _LEVEL_OFF[cat]
        mag = 0
        while mag < 14 and dec.decision(
            ctxs, base + (inc0 if mag == 0 else incn)
        ):
            mag += 1
        if mag == 14:
            k = 0
            while dec.bypass():
                mag += 1 << k
                k += 1
            for kk in range(k - 1, -1, -1):
                mag += dec.bypass() << kk
        level = mag + 1
        if dec.bypass():
            level = -level
        coeffs[i] = level
        if abs(level) == 1:
            eq1 += 1
        else:
            gt1 += 1
    return coeffs, 1


# ---------------------------------------------------------------------------
# Macroblock-layer neighbor state
# ---------------------------------------------------------------------------


class _MbState:
    """Cross-macroblock context state shared by encoder and decoder:
    everything 9.3.3.1.1.x needs to derive ctxIdxInc values."""

    def __init__(self, mbw: int, mbh: int) -> None:
        self.mbw, self.mbh = mbw, mbh
        self.is_i4x4 = np.zeros((mbh, mbw), bool)
        self.coded = np.zeros((mbh, mbw), bool)  # availability
        self.cbp_luma = np.zeros((mbh, mbw), np.int64)
        self.cbp_chroma = np.zeros((mbh, mbw), np.int64)
        self.cbf_luma4 = np.zeros((mbh * 4, mbw * 4), np.int64)
        self.cbf_lumadc = np.zeros((mbh, mbw), np.int64)
        self.has_lumadc = np.zeros((mbh, mbw), bool)  # is Intra16x16
        self.cbf_cdc = {0: np.zeros((mbh, mbw), np.int64),
                        1: np.zeros((mbh, mbw), np.int64)}
        self.cbf_c4 = {0: np.zeros((mbh * 2, mbw * 2), np.int64),
                       1: np.zeros((mbh * 2, mbw * 2), np.int64)}
        self.prev_qp_delta_nz = 0

    # --- mb_type bin0 (9.3.3.1.1.3) ---
    def mb_type_inc(self, mx: int, my: int) -> int:
        inc = 0
        if mx > 0 and self.coded[my, mx - 1] and not self.is_i4x4[my, mx - 1]:
            inc += 1
        if my > 0 and self.coded[my - 1, mx] and not self.is_i4x4[my - 1, mx]:
            inc += 1
        return inc

    # --- coded_block_pattern luma bins (9.3.3.1.1.4) ---
    def _cbp_bit(self, mx: int, my: int, blk: int, cur_bits: int,
                 cur_mx: int, cur_my: int) -> int | None:
        """cbp bit of 8x8 block blk in mb (mx,my); None = unavailable.
        The current (partially coded) mb uses cur_bits."""
        if mx < 0 or my < 0:
            return None
        if mx == cur_mx and my == cur_my:
            return (cur_bits >> blk) & 1
        if not self.coded[my, mx]:
            return None
        return (int(self.cbp_luma[my, mx]) >> blk) & 1

    def cbp_luma_inc(self, mx: int, my: int, blk: int,
                     cur_bits: int) -> int:
        bx, by = blk & 1, blk >> 1
        # left neighbor 8x8
        if bx == 0:
            a = self._cbp_bit(mx - 1, my, by * 2 + 1, cur_bits, mx, my)
        else:
            a = self._cbp_bit(mx, my, by * 2, cur_bits, mx, my)
        if by == 0:
            b = self._cbp_bit(mx, my - 1, 2 + bx, cur_bits, mx, my)
        else:
            b = self._cbp_bit(mx, my, bx, cur_bits, mx, my)
        cond_a = 1 if (a is not None and a == 0) else 0
        cond_b = 1 if (b is not None and b == 0) else 0
        return cond_a + 2 * cond_b

    def cbp_chroma_inc(self, mx: int, my: int, binidx: int) -> int:
        def cond(nx: int, ny: int) -> int:
            if nx < 0 or ny < 0 or not self.coded[ny, nx]:
                return 0
            v = int(self.cbp_chroma[ny, nx])
            return (1 if v != 0 else 0) if binidx == 0 else (
                1 if v == 2 else 0
            )

        inc = cond(mx - 1, my) + 2 * cond(mx, my - 1)
        return inc if binidx == 0 else 4 + inc

    # --- coded_block_flag (9.3.3.1.1.9); current mb is always intra ---
    def cbf_inc_lumadc(self, mx: int, my: int) -> int:
        def cond(nx: int, ny: int) -> int:
            if nx < 0 or ny < 0:
                return 1  # mbN unavailable, current mb intra
            if not self.coded[ny, nx]:
                return 1
            if not self.has_lumadc[ny, nx]:
                return 0  # transBlockN absent (neighbor not I16x16)
            return int(self.cbf_lumadc[ny, nx])

        return cond(mx - 1, my) + 2 * cond(mx, my - 1)

    def cbf_inc_luma4(self, gx: int, gy: int) -> int:
        def cond(nx: int, ny: int) -> int:
            if nx < 0 or ny < 0:
                return 1
            if not self.coded[ny // 4, nx // 4]:
                return 1
            return int(self.cbf_luma4[ny, nx])

        return cond(gx - 1, gy) + 2 * cond(gx, gy - 1)

    def cbf_inc_cdc(self, mx: int, my: int, pi: int) -> int:
        def cond(nx: int, ny: int) -> int:
            if nx < 0 or ny < 0:
                return 1
            if not self.coded[ny, nx]:
                return 1
            return int(self.cbf_cdc[pi][ny, nx])

        return cond(mx - 1, my) + 2 * cond(mx, my - 1)

    def cbf_inc_c4(self, cx: int, cy: int, pi: int) -> int:
        def cond(nx: int, ny: int) -> int:
            if nx < 0 or ny < 0:
                return 1
            if not self.coded[ny // 2, nx // 2]:
                return 1
            return int(self.cbf_c4[pi][ny, nx])

        return cond(cx - 1, cy) + 2 * cond(cx, cy - 1)


def _enc_mb_qp_delta(enc: _Enc, ctxs: _Ctx, st: _MbState, delta: int) -> None:
    mapped = 2 * delta - 1 if delta > 0 else -2 * delta
    inc = 1 if st.prev_qp_delta_nz else 0
    if mapped == 0:
        enc.decision(ctxs, 60 + inc, 0)
    else:
        enc.decision(ctxs, 60 + inc, 1)
        for k in range(1, mapped):
            enc.decision(ctxs, 62 if k == 1 else 63, 1)
        enc.decision(ctxs, 62 if mapped == 1 else 63, 0)
    st.prev_qp_delta_nz = 1 if delta else 0


def _dec_mb_qp_delta(dec: _Dec, ctxs: _Ctx, st: _MbState) -> int:
    inc = 1 if st.prev_qp_delta_nz else 0
    mapped = 0
    if dec.decision(ctxs, 60 + inc):
        mapped = 1
        while dec.decision(ctxs, 62 if mapped == 1 else 63):
            mapped += 1
    delta = (mapped + 1) // 2 if mapped % 2 else -(mapped // 2)
    st.prev_qp_delta_nz = 1 if delta else 0
    return delta


# ---------------------------------------------------------------------------
# Full encoder: mixed Intra_16x16 / I_4x4 CABAC slice
# ---------------------------------------------------------------------------


def _enc_mb_type_i(enc: _Enc, ctxs: _Ctx, st: _MbState, mx: int, my: int,
                   i4x4: bool, cbpl15: bool, cbpc: int, pm: int) -> None:
    inc = st.mb_type_inc(mx, my)
    if i4x4:
        enc.decision(ctxs, 3 + inc, 0)
        return
    enc.decision(ctxs, 3 + inc, 1)
    enc.terminate(0)  # not I_PCM
    enc.decision(ctxs, 6, 1 if cbpl15 else 0)
    if cbpc == 0:
        enc.decision(ctxs, 7, 0)
        enc.decision(ctxs, 9, (pm >> 1) & 1)
        enc.decision(ctxs, 10, pm & 1)
    else:
        enc.decision(ctxs, 7, 1)
        enc.decision(ctxs, 8, 1 if cbpc == 2 else 0)
        enc.decision(ctxs, 9, (pm >> 1) & 1)
        enc.decision(ctxs, 10, pm & 1)


def _dec_mb_type_i(dec: _Dec, ctxs: _Ctx, st: _MbState, mx: int,
                   my: int) -> tuple[bool, bool, int, int]:
    """Returns (is_i4x4, cbpl15, cbpc, pm). Raises on I_PCM."""
    inc = st.mb_type_inc(mx, my)
    if not dec.decision(ctxs, 3 + inc):
        return True, False, 0, 0
    if dec.terminate():
        raise NotImplementedError(
            "I_PCM inside a CABAC slice — this encoder never emits it"
        )
    cbpl15 = bool(dec.decision(ctxs, 6))
    if dec.decision(ctxs, 7):
        cbpc = 2 if dec.decision(ctxs, 8) else 1
    else:
        cbpc = 0
    pm = (dec.decision(ctxs, 9) << 1) | dec.decision(ctxs, 10)
    return False, cbpl15, cbpc, pm


def encode_h264_cabac_intra(
    y: np.ndarray,
    cb: np.ndarray | None = None,
    cr: np.ndarray | None = None,
    qp: int = 0,
    i4x4_mode: int = 2,
) -> tuple[bytes, np.ndarray, np.ndarray, np.ndarray]:
    """Encode one IDR frame as a CABAC I slice of MIXED macroblocks:
    Intra_16x16 (DC prediction) on the (mx+my)-even checkerboard,
    I_4x4 (preferred luma mode ``i4x4_mode``, DC fallback at edges)
    on the odd cells — so mb_type, CBP and coded_block_flag contexts
    exercise both neighbor classes in one slice. Returns
    (annex_b_bytes, recon_y, recon_cb, recon_cr); the recon planes
    are the decoder-mirrored bit-exact contract, same as the CAVLC
    encoders."""
    if i4x4_mode not in _MODE_NEEDS:
        raise ValueError("luma 4x4 mode must be 0..8")
    sl = BitWriter()
    _slice_header(sl, qp, cabac=True, deblock_idc=1)
    ry, rcb, rcr = _encode_idr_cabac(sl, y, cb, cr, qp, i4x4_mode)
    h, w = ry.shape
    stream = (
        _nal(3, 7, _sps_rbsp(-(-w // 16), -(-h // 16), w, h))
        + _nal(3, 8, _pps_rbsp(cabac=True, deblock_control=True))
        + _nal(3, 5, sl.bytes_())
    )
    return stream, ry, rcb, rcr


def _encode_idr_cabac(sl: BitWriter, y, cb, cr, qp: int, i4x4_mode: int = 2):
    """Write the CABAC slice_data() of the mixed Intra_16x16 / I_4x4
    IDR picture after the slice header already in ``sl`` and close
    the RBSP. Returns the decoder-mirrored recon planes, cropped to
    the input size."""
    if not 0 <= qp <= 51:
        raise ValueError("QP must be in 0..51")
    y, cb, cr = _check_planes(y, cb, cr)
    h, w = y.shape
    ch, cw = h // 2, w // 2
    mbw, mbh = -(-w // 16), -(-h // 16)
    yp = np.pad(y, ((0, mbh * 16 - h), (0, mbw * 16 - w)), mode="edge")
    cbp_ = np.pad(cb, ((0, mbh * 8 - ch), (0, mbw * 8 - cw)), mode="edge")
    crp_ = np.pad(cr, ((0, mbh * 8 - ch), (0, mbw * 8 - cw)), mode="edge")
    qpc = _chroma_qp(qp)

    ry = np.zeros((mbh * 16, mbw * 16), np.int64)
    rcb = np.zeros((mbh * 8, mbw * 8), np.int64)
    rcr = np.zeros((mbh * 8, mbw * 8), np.int64)
    modes = np.full((mbh * 4, mbw * 4), -1, np.int64)
    before = _decoded_before_factory(mbw)
    st = _MbState(mbw, mbh)

    ctxs = _Ctx(qp)
    enc = _Enc(sl)

    for my in range(mbh):
        for mx in range(mbw):
            i4x4 = (mx + my) % 2 == 1
            if i4x4:
                # --- I_4x4: predict/transform per 4x4 in z-order ---
                coefs = {}
                chosen = {}
                for bx, by in _ZBLK:
                    gx, gy = mx * 4 + bx, my * 4 + by
                    m = i4x4_mode
                    need_t, need_l = _MODE_NEEDS[m]
                    if (need_t and gy == 0) or (need_l and gx == 0):
                        m = 2
                    chosen[(bx, by)] = m
                    modes[gy, gx] = m
                    pred = _pred4(
                        ry, gx, gy, m, mbw * 4,
                        lambda a, b, _gx=gx, _gy=gy: before(a, b, _gx, _gy),
                    )
                    src = yp[gy * 4 : gy * 4 + 4, gx * 4 : gx * 4 + 4]
                    z = _quant(_fwd4x4(src.astype(np.int64) - pred), qp)
                    coefs[(bx, by)] = z
                    blk = (_inv4x4(_dequant_ac(z, qp)) + 32) >> 6
                    ry[gy * 4 : gy * 4 + 4, gx * 4 : gx * 4 + 4] = np.clip(
                        pred + blk, 0, 255
                    )
                cbp_luma = 0
                for g in range(4):
                    if any(coefs[_ZBLK[g * 4 + k]].any() for k in range(4)):
                        cbp_luma |= 1 << g
            else:
                # --- Intra_16x16, DC prediction ---
                pred = _pred16(ry, my, mx, 2)
                resid = yp[my * 16 : my * 16 + 16,
                           mx * 16 : mx * 16 + 16].astype(np.int64) - pred
                blocks = resid.reshape(4, 4, 4, 4).transpose(0, 2, 1, 3)
                wm = np.matmul(np.matmul(_CF, blocks), _CF.T)
                dc = wm[..., 0, 0]
                acz = _quant(wm, qp)
                acz[..., 0, 0] = 0
                zdc = _quant_dc4((_H4 @ dc @ _H4) // 2, qp)
                cbp_luma = 15 if acz.any() else 0
            # --- chroma (shared shape) ---
            cpred, cdcz, cacz = {}, {}, {}
            for pi, (srcp, reconp) in enumerate(((cbp_, rcb), (crp_, rcr))):
                cp = _pred8_chroma_dc(reconp, my, mx)
                cres = srcp[my * 8 : my * 8 + 8,
                            mx * 8 : mx * 8 + 8].astype(np.int64) - cp
                cblk = cres.reshape(2, 4, 2, 4).transpose(0, 2, 1, 3)
                wmc = np.matmul(np.matmul(_CF, cblk), _CF.T)
                dc2 = wmc[..., 0, 0]
                az = _quant(wmc, qpc)
                az[..., 0, 0] = 0
                qbits = 15 + qpc // 6
                f = (1 << qbits) // 3
                yd = _H2 @ dc2 @ _H2
                zd = np.sign(yd) * (
                    (np.abs(yd) * _MF[qpc % 6][0] + 2 * f) >> (qbits + 1)
                )
                cpred[pi], cdcz[pi], cacz[pi] = cp, zd, az
            any_cac = any(cacz[p].any() for p in (0, 1))
            any_cdc = any(cdcz[p].any() for p in (0, 1))
            cbpc = 2 if any_cac else (1 if any_cdc else 0)

            # --- syntax ---
            if i4x4:
                _enc_mb_type_i(enc, ctxs, st, mx, my, True, False, 0, 0)
                for bx, by in _ZBLK:
                    gx, gy = mx * 4 + bx, my * 4 + by
                    ma = modes[gy, gx - 1] if gx > 0 else -1
                    mb_ = modes[gy - 1, gx] if gy > 0 else -1
                    pred_mode = min(
                        2 if ma < 0 else int(ma), 2 if mb_ < 0 else int(mb_)
                    )
                    m = chosen[(bx, by)]
                    if m == pred_mode:
                        enc.decision(ctxs, 68, 1)
                    else:
                        enc.decision(ctxs, 68, 0)
                        rem = m - (1 if m > pred_mode else 0)
                        enc.decision(ctxs, 69, rem & 1)
                        enc.decision(ctxs, 69, (rem >> 1) & 1)
                        enc.decision(ctxs, 69, (rem >> 2) & 1)
                # intra_chroma_pred_mode: DC (TU bin 0)
                enc.decision(ctxs, 64, 0)
                # coded_block_pattern
                for blk in range(4):
                    enc.decision(
                        ctxs,
                        73 + st.cbp_luma_inc(mx, my, blk, cbp_luma),
                        (cbp_luma >> blk) & 1,
                    )
                enc.decision(
                    ctxs, 77 + st.cbp_chroma_inc(mx, my, 0),
                    1 if cbpc > 0 else 0,
                )
                if cbpc > 0:
                    enc.decision(
                        ctxs, 77 + st.cbp_chroma_inc(mx, my, 1),
                        1 if cbpc == 2 else 0,
                    )
                if cbp_luma or cbpc:
                    _enc_mb_qp_delta(enc, ctxs, st, 0)
                # luma residuals (cat2)
                for g in range(4):
                    for k in range(4):
                        bx, by = _ZBLK[g * 4 + k]
                        gx, gy = mx * 4 + bx, my * 4 + by
                        if not cbp_luma & (1 << g):
                            st.cbf_luma4[gy, gx] = 0
                            continue
                        cf = coefs[(bx, by)].ravel()[_ZIGA].tolist()
                        st.cbf_luma4[gy, gx] = _enc_residual(
                            enc, ctxs, cf, 2, st.cbf_inc_luma4(gx, gy)
                        )
                st.has_lumadc[my, mx] = False
            else:
                _enc_mb_type_i(
                    enc, ctxs, st, mx, my, False, cbp_luma == 15, cbpc, 2
                )
                enc.decision(ctxs, 64, 0)  # chroma DC mode
                _enc_mb_qp_delta(enc, ctxs, st, 0)
                # luma DC (cat0)
                dccf = zdc.ravel()[_ZIGA].tolist()
                st.cbf_lumadc[my, mx] = _enc_residual(
                    enc, ctxs, dccf, 0, st.cbf_inc_lumadc(mx, my)
                )
                st.has_lumadc[my, mx] = True
                # luma AC (cat1)
                if cbp_luma:
                    for bx, by in _ZBLK:
                        gx, gy = mx * 4 + bx, my * 4 + by
                        cf = acz[by, bx].ravel()[_ZIGA1].tolist()
                        st.cbf_luma4[gy, gx] = _enc_residual(
                            enc, ctxs, cf, 1, st.cbf_inc_luma4(gx, gy)
                        )
                else:
                    st.cbf_luma4[my * 4 : my * 4 + 4,
                                 mx * 4 : mx * 4 + 4] = 0
            # chroma residuals (shared)
            if cbpc > 0:
                for pi in (0, 1):
                    zd = cdcz[pi]
                    cf = [int(zd[0, 0]), int(zd[0, 1]),
                          int(zd[1, 0]), int(zd[1, 1])]
                    st.cbf_cdc[pi][my, mx] = _enc_residual(
                        enc, ctxs, cf, 3, st.cbf_inc_cdc(mx, my, pi)
                    )
            else:
                for pi in (0, 1):
                    st.cbf_cdc[pi][my, mx] = 0
            if cbpc > 1:
                for pi in (0, 1):
                    for by in range(2):
                        for bx in range(2):
                            cx, cy = mx * 2 + bx, my * 2 + by
                            cf = cacz[pi][by, bx].ravel()[_ZIGA1].tolist()
                            st.cbf_c4[pi][cy, cx] = _enc_residual(
                                enc, ctxs, cf, 4,
                                st.cbf_inc_c4(cx, cy, pi),
                            )
            else:
                for pi in (0, 1):
                    st.cbf_c4[pi][my * 2 : my * 2 + 2,
                                  mx * 2 : mx * 2 + 2] = 0
            # --- reconstruction ---
            if not i4x4:
                ry[my * 16 : my * 16 + 16, mx * 16 : mx * 16 + 16] = (
                    _recon_mb16(pred, acz if cbp_luma else None, zdc, qp)
                )
            for pi, reconp in ((0, rcb), (1, rcr)):
                reconp[my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8] = (
                    _recon_chroma8(
                        cpred[pi],
                        cacz[pi] if cbpc > 1 else None,
                        cdcz[pi] if cbpc > 0 else None,
                        qpc,
                    )
                )
            # --- cross-mb state ---
            st.is_i4x4[my, mx] = i4x4
            st.coded[my, mx] = True
            st.cbp_luma[my, mx] = cbp_luma
            st.cbp_chroma[my, mx] = cbpc
            # end_of_slice_flag
            last_mb = my == mbh - 1 and mx == mbw - 1
            enc.terminate(1 if last_mb else 0)
    sl.align_zero()
    return (
        ry[:h, :w].astype(np.uint8),
        rcb[:ch, :cw].astype(np.uint8),
        rcr[:ch, :cw].astype(np.uint8),
    )


# ---------------------------------------------------------------------------
# Decoder
# ---------------------------------------------------------------------------


def decode_h264_cabac(payload: bytes) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode an Annex B CABAC intra stream (Intra_16x16 + I_4x4,
    4:2:0, frame-coded) to (y, cb, cr) planes."""
    planes = None
    for nal_hdr, rbsp, sps, pps in _slice_nals(payload):
        if nal_hdr & 0x1F != 5:
            continue
        if not pps["cabac"]:
            raise ValueError(
                "CAVLC PPS given to the CABAC decoder — use "
                "h264_intra.decode_h264_frame, which dispatches"
            )
        r = BitReader(rbsp)
        qp = _parse_slice_header(r, sps, pps, nal_hdr)["qp"]
        planes = _decode_idr_cabac(rbsp, r.pos, sps, qp)
    if planes is None:
        raise ValueError("no IDR slice found")
    return planes


def _decode_idr_cabac(rbsp: bytes, pos_bits: int, sps: dict, qp: int):
    mbw, mbh = sps["mbw"], sps["mbh"]
    qpc = _chroma_qp(qp)
    ry = np.zeros((mbh * 16, mbw * 16), np.int64)
    rcb = np.zeros((mbh * 8, mbw * 8), np.int64)
    rcr = np.zeros((mbh * 8, mbw * 8), np.int64)
    modes = np.full((mbh * 4, mbw * 4), -1, np.int64)
    before = _decoded_before_factory(mbw)
    st = _MbState(mbw, mbh)
    ctxs = _Ctx(qp)
    dec = _Dec(rbsp, pos_bits)

    for my in range(mbh):
        for mx in range(mbw):
            i4x4, cbpl15, cbpc16, pm = _dec_mb_type_i(dec, ctxs, st, mx, my)
            if i4x4:
                chosen = {}
                for bx, by in _ZBLK:
                    gx, gy = mx * 4 + bx, my * 4 + by
                    ma = modes[gy, gx - 1] if gx > 0 else -1
                    mb_ = modes[gy - 1, gx] if gy > 0 else -1
                    pred_mode = min(
                        2 if ma < 0 else int(ma), 2 if mb_ < 0 else int(mb_)
                    )
                    if dec.decision(ctxs, 68):
                        m = pred_mode
                    else:
                        rem = (
                            dec.decision(ctxs, 69)
                            | (dec.decision(ctxs, 69) << 1)
                            | (dec.decision(ctxs, 69) << 2)
                        )
                        m = rem if rem < pred_mode else rem + 1
                    chosen[(bx, by)] = m
                    modes[gy, gx] = m
                if dec.decision(ctxs, 64 + _chroma_mode_inc(st, mx, my)):
                    raise NotImplementedError(
                        "chroma prediction mode != DC — only DC is "
                        "implemented (matches the CAVLC decoder)"
                    )
                cbp_luma = 0
                for blk in range(4):
                    if dec.decision(
                        ctxs, 73 + st.cbp_luma_inc(mx, my, blk, cbp_luma)
                    ):
                        cbp_luma |= 1 << blk
                cbpc = 0
                if dec.decision(ctxs, 77 + st.cbp_chroma_inc(mx, my, 0)):
                    cbpc = 2 if dec.decision(
                        ctxs, 77 + st.cbp_chroma_inc(mx, my, 1)
                    ) else 1
                if cbp_luma or cbpc:
                    qp = (qp + _dec_mb_qp_delta(dec, ctxs, st) + 52) % 52
                    qpc = _chroma_qp(qp)
                coefs4 = {}
                for g in range(4):
                    for k in range(4):
                        bx, by = _ZBLK[g * 4 + k]
                        gx, gy = mx * 4 + bx, my * 4 + by
                        if not cbp_luma & (1 << g):
                            coefs4[(bx, by)] = np.zeros((4, 4), np.int64)
                            st.cbf_luma4[gy, gx] = 0
                            continue
                        cf, cbf = _dec_residual(
                            dec, ctxs, 2, st.cbf_inc_luma4(gx, gy), 16
                        )
                        z = np.zeros(16, np.int64)
                        z[_ZIGA] = cf
                        coefs4[(bx, by)] = z.reshape(4, 4)
                        st.cbf_luma4[gy, gx] = cbf
                st.has_lumadc[my, mx] = False
                zdc = None
                acz16 = None
            else:
                cbp_luma = 15 if cbpl15 else 0
                cbpc = cbpc16
                if dec.decision(ctxs, 64 + _chroma_mode_inc(st, mx, my)):
                    raise NotImplementedError(
                        "chroma prediction mode != DC — only DC is "
                        "implemented (matches the CAVLC decoder)"
                    )
                qp = (qp + _dec_mb_qp_delta(dec, ctxs, st) + 52) % 52
                qpc = _chroma_qp(qp)
                dccf, cbf = _dec_residual(
                    dec, ctxs, 0, st.cbf_inc_lumadc(mx, my), 16
                )
                zdc = np.zeros(16, np.int64)
                zdc[_ZIGA] = dccf
                zdc = zdc.reshape(4, 4)
                st.cbf_lumadc[my, mx] = cbf
                st.has_lumadc[my, mx] = True
                acz16 = np.zeros((4, 4, 4, 4), np.int64)
                if cbp_luma:
                    for bx, by in _ZBLK:
                        gx, gy = mx * 4 + bx, my * 4 + by
                        cf, cbf4 = _dec_residual(
                            dec, ctxs, 1, st.cbf_inc_luma4(gx, gy), 15
                        )
                        z = np.zeros(16, np.int64)
                        z[_ZIGA1] = cf
                        acz16[by, bx] = z.reshape(4, 4)
                        st.cbf_luma4[gy, gx] = cbf4
                else:
                    st.cbf_luma4[my * 4 : my * 4 + 4,
                                 mx * 4 : mx * 4 + 4] = 0
            # chroma residuals
            cdcz = {0: np.zeros((2, 2), np.int64),
                    1: np.zeros((2, 2), np.int64)}
            cacz = {0: np.zeros((2, 2, 4, 4), np.int64),
                    1: np.zeros((2, 2, 4, 4), np.int64)}
            if cbpc > 0:
                for pi in (0, 1):
                    cf, cbf = _dec_residual(
                        dec, ctxs, 3, st.cbf_inc_cdc(mx, my, pi), 4
                    )
                    cdcz[pi] = np.array(
                        [[cf[0], cf[1]], [cf[2], cf[3]]], np.int64
                    )
                    st.cbf_cdc[pi][my, mx] = cbf
            else:
                for pi in (0, 1):
                    st.cbf_cdc[pi][my, mx] = 0
            if cbpc > 1:
                for pi in (0, 1):
                    for by in range(2):
                        for bx in range(2):
                            cx, cy = mx * 2 + bx, my * 2 + by
                            cf, cbf = _dec_residual(
                                dec, ctxs, 4, st.cbf_inc_c4(cx, cy, pi), 15
                            )
                            z = np.zeros(16, np.int64)
                            z[_ZIGA1] = cf
                            cacz[pi][by, bx] = z.reshape(4, 4)
                            st.cbf_c4[pi][cy, cx] = cbf
            else:
                for pi in (0, 1):
                    st.cbf_c4[pi][my * 2 : my * 2 + 2,
                                  mx * 2 : mx * 2 + 2] = 0
            # --- reconstruction (identical math to the CAVLC path) ---
            if i4x4:
                for bx, by in _ZBLK:
                    gx, gy = mx * 4 + bx, my * 4 + by
                    pred = _pred4(
                        ry, gx, gy, int(modes[gy, gx]), mbw * 4,
                        lambda a, b, _gx=gx, _gy=gy: before(a, b, _gx, _gy),
                    )
                    blk = (
                        _inv4x4(_dequant_ac(coefs4[(bx, by)], qp)) + 32
                    ) >> 6
                    ry[gy * 4 : gy * 4 + 4, gx * 4 : gx * 4 + 4] = np.clip(
                        pred + blk, 0, 255
                    )
            else:
                pred = _pred16(ry, my, mx, pm)
                ry[my * 16 : my * 16 + 16, mx * 16 : mx * 16 + 16] = (
                    _recon_mb16(pred, acz16 if cbp_luma else None, zdc, qp)
                )
            for pi, reconp in ((0, rcb), (1, rcr)):
                cp = _pred8_chroma_dc(reconp, my, mx)
                reconp[my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8] = (
                    _recon_chroma8(
                        cp,
                        cacz[pi] if cbpc > 1 else None,
                        cdcz[pi] if cbpc > 0 else None,
                        qpc,
                    )
                )
            st.is_i4x4[my, mx] = i4x4
            st.coded[my, mx] = True
            st.cbp_luma[my, mx] = cbp_luma
            st.cbp_chroma[my, mx] = cbpc
            end = dec.terminate()
            last_mb = my == mbh - 1 and mx == mbw - 1
            if end != (1 if last_mb else 0):
                raise ValueError(
                    f"end_of_slice_flag {end} at mb ({mx},{my}) of "
                    f"{mbw}x{mbh} — CABAC desync"
                )
    x0, y0, w, h = sps["x0"], sps["y0"], sps["w"], sps["h"]
    return (
        ry[y0 : y0 + h, x0 : x0 + w].astype(np.uint8),
        rcb[y0 // 2 : (y0 + h) // 2, x0 // 2 : (x0 + w) // 2].astype(np.uint8),
        rcr[y0 // 2 : (y0 + h) // 2, x0 // 2 : (x0 + w) // 2].astype(np.uint8),
    )


def _chroma_mode_inc(st: _MbState, mx: int, my: int) -> int:
    # 9.3.3.1.1.8 — every mb this codec emits uses chroma mode 0, so
    # both condTermFlags are always 0; kept as a function so a future
    # non-DC encoder extends ONE place.
    return 0


# ---------------------------------------------------------------------------
# Spark surface
# ---------------------------------------------------------------------------


def synthesize_h264_cabac_frames(
    docs: DataFrame,
    id_col: str = "doc_id",
    mb_cols: int = 2,
    mb_rows: int = 2,
) -> DataFrame:
    """Per-document 32x32 CABAC IDR frame (2x2 macroblocks — the
    smallest frame where every neighbor-context class of mb_type,
    CBP and coded_block_flag fires, with the I16/I4x4 checkerboard
    giving each macroblock a neighbor of the OTHER class): luma
    per-4x4-constant v = (id*13 + gy*41 + gx*59) % 256 with the
    I_4x4 preferred mode cycling over the constant-prediction modes
    (vertical/horizontal/DC by id%3), chroma constant per 4x4 block
    with (id*23 + cy*31 + cx*41) % 256 / (id*29 + cy*37 + cx*43)
    % 256 — NONZERO chroma DC+AC residuals through the cat3/cat4
    coded_block_flag / significance / level contexts (r10 fixture
    sweep: the r9 chroma-DC 16x shrink hid for eight rounds behind
    constant-128 chroma; per-4x4-constant chroma is exact at QP 0
    through the fixed 2x2 Hadamard path, so the oracle now pins the
    chroma scale independently). Remaining luma modes are covered by
    the random-plane bit-exact round-trips in
    tests/test_h264_cabac.py."""
    out_schema = f"{id_col} long, content binary"

    def build(i):
        h, w = mb_rows * 16, mb_cols * 16
        gy, gx = np.mgrid[0 : h // 4, 0 : w // 4]
        y = ((i * 13 + gy * 41 + gx * 59) % 256).repeat(4, 0).repeat(4, 1)
        cy_, cx_ = np.mgrid[0 : h // 8, 0 : w // 8]
        cb = ((i * 23 + cy_ * 31 + cx_ * 41) % 256).repeat(
            4, 0
        ).repeat(4, 1).astype(np.uint8)
        cr = ((i * 29 + cy_ * 37 + cx_ * 43) % 256).repeat(
            4, 0
        ).repeat(4, 1).astype(np.uint8)
        stream, ryp, rcbp, rcrp = encode_h264_cabac_intra(
            y.astype(np.uint8), cb, cr, qp=0, i4x4_mode=i % 3,
        )
        # QP-0 exactness contract: the fixture formulas ARE
        # the decoded output (loud here, recomputed by the
        # oracle there)
        if not (
            np.array_equal(ryp, y) and np.array_equal(rcbp, cb)
            and np.array_equal(rcrp, cr)
        ):
            raise AssertionError(
                f"doc {i}: QP-0 per-4x4-constant encode not "
                "exact — fixture contract broken"
            )
        yield i, stream

    return map_rows(docs, build, out_schema, cols=(id_col,))


def h264_cabac_frame_features(
    media: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "content",
) -> DataFrame:
    """Decode CABAC streams and emit plane statistics the oracle
    recomputes from the fixture formulas."""
    out_schema = (
        f"{id_col} long, width int, height int, mean_y double,"
        " sum_y long, sum_cb long, sum_cr long"
    )

    def feat(i, content):
        yield yuv_features(i, *decode_h264_cabac(content))

    return map_rows(media, feat, out_schema, cols=(id_col, content_col))
