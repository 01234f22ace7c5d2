"""FLAC codec, stdlib-only and from scratch — the lossless audio
container archival speech/music corpora ship in; completes the audio
set next to WAV/μ-law (m2/m10/m23) and MP3 metadata (m26).

What is REAL here, both directions:

- the container: ``fLaC`` magic, metadata blocks with the
  last-block flag and 24-bit big-endian lengths — STREAMINFO (the
  packed 20-bit sample rate / 3-bit channels / 5-bit sample size /
  36-bit total-samples field, and the format's own MD5 OF THE RAW
  PCM — a spec-mandated integrity hash the decoder RE-VERIFIES
  against every decoded sample), VORBIS_COMMENT (little-endian
  length-prefixed fields, per the Vorbis spec embedded in FLAC),
  and PADDING;
- real audio FRAMES: the 14-bit sync code, fixed-blocksize strategy,
  coded blocksize/sample-rate/channel/sample-size fields, the
  UTF-8-style coded frame number, CRC-8 over the header and CRC-16
  over the whole frame (polynomials 0x07 and 0x8005, both verified
  on decode) — a flipped bit anywhere fails loudly; subframes are
  bit-packed with the codecs' shared ``bitio.BitWriter``/``BitReader``
  (Rice quotients as unary runs), the field range check in ``_put``;
- ALL FOUR subframe types, all lossless: CONSTANT (flat block, one
  sample), VERBATIM (raw samples), FIXED — the four fixed predictors
  (orders 0-4) — and LPC (RFC 9639 section 9.2.3): covariance-method
  coefficient estimation, libFLAC-style quantization to 12-bit signed
  coefficients with an error-feedback loop and an unsigned 5-bit
  shift, spec-mandated arithmetic-right-shift integer prediction on
  decode. FIXED and LPC share the RICE-CODED residual section: zigzag
  fold, libFLAC unary convention (q zeros then a one), per-partition
  4/5-bit parameters chosen by exact bit cost, the 2^k partition
  layout and the escape-to-raw-width form all decoded. The encoder
  picks per block by measured encoded size among FIXED 0-4, LPC
  2/3/4 and VERBATIM, so ramps compress via FIXED (order 2 zeroes a
  linear ramp), sinusoid-plus-offset blocks via LPC (order 3 captures
  the non-integer recurrence FIXED cannot), and noise stays verbatim.
  Residuals are computed from the QUANTIZED predictor, so the round
  trip is bit-exact regardless of how the float fit behaved.

- STEREO with per-frame CHANNEL DECORRELATION (r7): all four
  RFC 9639 channel assignments — independent, left-side, right-side,
  mid-side — chosen per frame by exact coded size; side channels
  coded at 17 bits, the mid-side dropped-low-bit parity trick exact
  on decode, STREAMINFO MD5 over the interleaved L,R stream.
- MULTICHANNEL (r8): channel assignments 0b0000-0b0111 decode 1-8
  independently coded channels (surround / 5.1 layouts), each channel
  picking its own subframe type; frame channel count cross-checked
  against STREAMINFO, MD5 over the channel-interleaved PCM.

The m28 oracle recomputes frame counts, total samples and the PCM
sample sum from the pure integer sample formula; m30 does the same
per channel for stereo; the PCM MD5 check (STREAMINFO hash == hash
of decoded samples) rides as an oracle-visible boolean on both.

Scale: opaque binary + Arrow ``map_rows``, narrow, zero shuffle.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from neuroimaging_data_pipeline_spark.functions.rowmap import map_batches, map_rows
from neuroimaging_data_pipeline_spark.multimodal.bitio import (
    BitReader,
    BitWriter,
)

_MAGIC = b"fLaC"
_SAMPLE_RATE = 44100
_BITS = 16
_BLOCK = 16  # samples per frame (fixed blocksize strategy)


def crc8(data: bytes) -> int:
    """CRC-8 with polynomial 0x07, init 0 (FLAC frame header)."""
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def crc16(data: bytes) -> int:
    """CRC-16 with polynomial 0x8005, init 0 (FLAC frame footer)."""
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = (
                ((crc << 1) ^ 0x8005) & 0xFFFF
                if crc & 0x8000
                else (crc << 1) & 0xFFFF
            )
    return crc


def _utf8_frame_number(n: int) -> bytes:
    """FLAC's extended-UTF-8 coding for frame numbers (RFC 9639 §9.1.1,
    same shape as UTF-8 but defined over raw integers up to 36 bits).
    Explicit bit arithmetic, NOT chr().encode(): Python's codec rejects
    the surrogate range 0xD800-0xDFFF, which a ~20 s clip's frame index
    reaches (55296 frames at the 16-sample blocksize), and FLAC's
    coding has no such hole."""
    if n < 0x80:
        return bytes([n])
    # count continuation bytes needed: each carries 6 payload bits,
    # the lead byte carries (6 - n_more) bits under an (n_more+1)-bit
    # prefix of ones.
    n_more = 1
    while n >= (1 << (6 - n_more)) << (6 * n_more):
        n_more += 1
    lead_prefix = (0xFF << (7 - n_more)) & 0xFF
    out = [lead_prefix | (n >> (6 * n_more))]
    for k in range(n_more - 1, -1, -1):
        out.append(0x80 | ((n >> (6 * k)) & 0x3F))
    return bytes(out)


def _read_utf8_number(buf: bytes, at: int) -> tuple[int, int]:
    c = buf[at]
    if c < 0x80:
        return c, at + 1
    n_more = 0
    mask = 0x40
    while c & mask:
        n_more += 1
        mask >>= 1
    if at + n_more >= len(buf):
        raise ValueError("truncated UTF-8-coded frame number")
    v = c & (mask - 1)
    for k in range(1, n_more + 1):
        nb = buf[at + k]
        if nb & 0xC0 != 0x80:
            raise ValueError("bad UTF-8-coded frame number")
        v = (v << 6) | (nb & 0x3F)
    return v, at + n_more + 1


def _pcm_bytes(samples: list[int]) -> bytes:
    return b"".join(
        int(s).to_bytes(2, "little", signed=True) for s in samples
    )


# --- encoder ---------------------------------------------------------------------


def _streaminfo(n_samples: int, md5: bytes, channels: int = 1) -> bytes:
    body = struct.pack(">HH", _BLOCK, _BLOCK)  # min/max blocksize
    body += b"\x00\x00\x00" * 2  # min/max frame size: unknown (0)
    packed = (
        (_SAMPLE_RATE << 44) | ((channels - 1) << 41)
        | ((_BITS - 1) << 36) | n_samples
    )
    body += packed.to_bytes(8, "big")
    body += md5
    assert len(body) == 34
    return body


def _vorbis_comment(fields: dict[str, str]) -> bytes:
    vendor = b"ndp-spark flac"
    out = struct.pack("<I", len(vendor)) + vendor
    out += struct.pack("<I", len(fields))
    for k, v in fields.items():
        f = f"{k}={v}".encode()
        out += struct.pack("<I", len(f)) + f
    return out


def _put(bits: BitWriter, value: int, width: int) -> None:
    """Write one field; a value wider than its field (a bad
    caller-supplied plan, say) is an input error, not a wrap."""
    if width and not 0 <= value < 1 << width:
        raise ValueError("bit value out of range")
    bits.u(value, width)


# fixed-predictor coefficient rows, order 0..4 (FLAC section 9.2.2)
_FIXED_COEF = [[], [1], [2, -1], [3, -3, 1], [4, -6, 4, -1]]


def _fixed_residuals(samples: list[int], order: int) -> list[int]:
    # unrolled per order (hot path: every block costs 5 of these);
    # identical values to the generic coefficient sum
    s = samples
    if order == 0:
        return list(s)
    if order == 1:
        return [a - b for a, b in zip(s[1:], s)]
    if order == 2:
        return [a - 2 * b + c for a, b, c in zip(s[2:], s[1:], s)]
    if order == 3:
        return [
            a - 3 * b + 3 * c - d
            for a, b, c, d in zip(s[3:], s[2:], s[1:], s)
        ]
    return [
        a - 4 * b + 6 * c - 4 * d + e
        for a, b, c, d, e in zip(s[4:], s[3:], s[2:], s[1:], s)
    ]


# --- LPC (RFC 9639 section 9.2.3) ------------------------------------------------

_LPC_PRECISION = 12  # quantized coefficient precision (bits), 1..15


def _lpc_coeffs(samples: list[int], order: int) -> list[float] | None:
    """Covariance-method linear prediction: least-squares fit of
    s[t] ~= sum a_j * s[t-1-j] over t = order..n-1, solved by Gaussian
    elimination with partial pivoting on the normal equations. The
    covariance method (not Levinson-Durbin over the windowless
    autocorrelation) matters at this blocksize: on 16-sample blocks
    the rectangular autocorrelation's edge bias wrecks the fit, while
    least squares recovers a signal's true recurrence exactly --
    libFLAC gets the same effect with long blocks plus a Tukey window.
    None when the system is singular / the fit is unstable, which the
    caller treats as 'LPC does not apply to this block'."""
    n = len(samples)
    if order >= n:
        return None
    # normal equations: mat[j][k] = sum s[t-1-j]s[t-1-k],
    # rhs[j] = sum s[t]s[t-1-j]  (sums over t = order..n-1).
    # Lag slices + exact-int dot products (map/mul beats a genexpr
    # ~2x on these 16-sample blocks), mirrored across the symmetric
    # matrix — values identical to the nested-sum form (integer
    # arithmetic, then one float cast).
    from operator import mul

    lag = [samples[order - 1 - j : n - 1 - j] for j in range(order)]
    cur = samples[order:n]
    mat = [[0.0] * order for _ in range(order)]
    for j in range(order):
        lj = lag[j]
        for k in range(j, order):
            v = float(sum(map(mul, lj, lag[k])))
            mat[j][k] = v
            mat[k][j] = v
    rhs = [float(sum(map(mul, cur, lag[j]))) for j in range(order)]
    scale = max(abs(mat[j][j]) for j in range(order))
    if scale == 0.0:
        return None
    # Gaussian elimination with partial pivoting
    for col in range(order):
        piv = max(range(col, order), key=lambda r: abs(mat[r][col]))
        if abs(mat[piv][col]) < 1e-9 * scale:
            return None  # singular: signal spans < order dimensions
        if piv != col:
            mat[col], mat[piv] = mat[piv], mat[col]
            rhs[col], rhs[piv] = rhs[piv], rhs[col]
        inv = 1.0 / mat[col][col]
        for r in range(col + 1, order):
            f = mat[r][col] * inv
            if f:
                for c in range(col, order):
                    mat[r][c] -= f * mat[col][c]
                rhs[r] -= f * rhs[col]
    a = [0.0] * order
    for r in range(order - 1, -1, -1):
        acc = rhs[r] - sum(mat[r][c] * a[c] for c in range(r + 1, order))
        a[r] = acc / mat[r][r]
    # an unstable/degenerate fit quantizes uselessly -- let FIXED win
    if any(abs(c) > 32.0 for c in a):
        return None
    return a


def _quantize_lpc(coefs: list[float]) -> tuple[list[int], int] | None:
    """Quantize float coefficients to _LPC_PRECISION-bit signed ints
    plus a right-shift, libFLAC-style: shift chosen so the largest
    coefficient uses the full precision, clamped to the format's
    unsigned 5-bit shift field."""
    cmax = max(abs(c) for c in coefs)
    if cmax == 0.0:
        return None
    import math

    # largest shift keeping max coef inside (precision-1) magnitude bits
    shift = _LPC_PRECISION - 1 - (math.floor(math.log2(cmax)) + 1)
    shift = max(0, min(31, shift))
    lim = 1 << (_LPC_PRECISION - 1)
    q = []
    e = 0.0  # error feedback, carries rounding error to the next coef
    for c in coefs:
        v = c * (1 << shift) + e
        qi = int(round(v))
        qi = max(-lim, min(lim - 1, qi))
        e = v - qi
        q.append(qi)
    return q, shift


def _lpc_residuals(
    samples: list[int], qcoef: list[int], shift: int
) -> list[int]:
    """Residuals under the QUANTIZED predictor (integer, arithmetic
    right shift) — exactly what the decoder will invert, so the
    round trip is bit-exact no matter how the floats were derived."""
    order = len(qcoef)
    return [
        samples[t]
        - (
            sum(qcoef[j] * samples[t - 1 - j] for j in range(order))
            >> shift
        )
        for t in range(order, len(samples))
    ]


def _zigzag(e: int) -> int:
    return e * 2 if e >= 0 else -e * 2 - 1


def _unzigzag(u: int) -> int:
    return (u >> 1) if u % 2 == 0 else -(u >> 1) - 1


def _rice_bits(residuals: list[int], r: int) -> int:
    return sum((_zigzag(e) >> r) + 1 + r for e in residuals)


def _best_rice(residuals: list[int]) -> tuple[int, int]:
    # zigzag once (inlined — a function call per element dominates at
    # 16-sample blocks); the per-parameter cost is then a shift-sum
    us = [(e << 1) if e >= 0 else ((-e << 1) - 1) for e in residuals]
    n = len(us)
    best_r, best_bits = 0, sum(us) + n
    for r in range(1, 15):
        if n * (1 + r) >= best_bits:
            break  # exact floor: cost(r') >= n*(1+r') for all r' >= r
        b = sum(u >> r for u in us) + n * (1 + r)
        if b < best_bits:
            best_r, best_bits = r, b
    return best_r, best_bits


def _write_subframe(bits: BitWriter, samples: list[int], depth: int) -> None:
    """One subframe at ``depth`` bits per sample (a SIDE channel is
    depth 17, RFC 9639 9.2.1): cheapest of CONSTANT / FIXED 0-4 /
    LPC 2-4 / VERBATIM by exact rice-coded size. LPC candidates use
    the residuals of the QUANTIZED predictor, so the costed size is
    the emitted size."""
    mask = (1 << depth) - 1

    def write_rice(res: list[int], r: int) -> None:
        _put(bits, 0, 2)   # residual method 0: 4-bit rice
        _put(bits, 0, 4)   # partition order 0: one partition
        _put(bits, r, 4)
        for e in res:
            u = _zigzag(e)  # unary quotient, then r low bits
            bits.u(1, (u >> r) + 1)
            bits.u(u & ((1 << r) - 1), r)

    if len(set(samples)) == 1:  # CONSTANT subframe
        _put(bits, 0b000000 << 1, 8)  # pad 0 + type + wasted 0
        _put(bits, int(samples[0]) & mask, depth)
        return
    best = None  # (bits, kind, order, r, residuals, qcoef, shift)
    for order in range(5):
        res = _fixed_residuals(samples, order)
        r, nbits = _best_rice(res)
        total = depth * order + 2 + 4 + 4 + nbits
        if best is None or total < best[0]:
            best = (total, "fixed", order, r, res, None, 0)
    # exact LPC floor: warm-up + precision/shift headers + coefs +
    # rice header + >=1 bit per residual. If FIXED already beats the
    # floor of the CHEAPEST LPC order, the covariance fits cannot pay
    # — skip them (constant-ish and ramp blocks take this exit).
    lpc_floor = (
        depth * 2 + 4 + 5 + _LPC_PRECISION * 2 + 10 + (len(samples) - 2)
    )
    orders = (2, 3, 4) if best[0] > lpc_floor else ()
    for order in orders:
        coefs = _lpc_coeffs(samples, order)
        if coefs is None:
            continue
        qs = _quantize_lpc(coefs)
        if qs is None:
            continue
        qcoef, shift = qs
        res = _lpc_residuals(samples, qcoef, shift)
        r, nbits = _best_rice(res)
        total = (
            depth * order + 4 + 5 + _LPC_PRECISION * order
            + 2 + 4 + 4 + nbits
        )
        if total < best[0]:
            best = (total, "lpc", order, r, res, qcoef, shift)
    if best[0] < depth * len(samples):  # prediction wins over VERBATIM
        _, kind, order, r, res, qcoef, shift = best
        if kind == "fixed":
            _put(bits, (0b001000 | order) << 1, 8)
        else:
            _put(bits, (0b100000 | (order - 1)) << 1, 8)
        for s in samples[:order]:  # warm-up at the channel depth
            _put(bits, int(s) & mask, depth)
        if kind == "lpc":
            _put(bits, _LPC_PRECISION - 1, 4)
            _put(bits, shift, 5)
            for c in qcoef:
                _put(bits, c & ((1 << _LPC_PRECISION) - 1),
                           _LPC_PRECISION)
        write_rice(res, r)
    else:  # VERBATIM subframe
        _put(bits, 0b000001 << 1, 8)
        for s in samples:
            _put(bits, int(s) & mask, depth)


def _coded_subframe(samples: list[int], depth: int) -> BitWriter:
    """Encode once, reuse everywhere: the returned writer IS both the
    exact cost (nbits) and the bits the frame emits — candidate
    channels are never encoded twice."""
    b = BitWriter()
    _write_subframe(b, samples, depth)
    return b


# --- batched subframe planner (r14) ----------------------------------------------
#
# _write_subframe decides per 16-sample block, so a whole channel pays
# ~600k Python-level _best_rice / _lpc_coeffs calls per task (the r13
# profile's top rows). The per-block numpy forms hit the dispatch floor
# (r13's recorded falsification), but ACROSS the channel every decision
# is independent: _plan_channel computes all of them in one numpy pass
# (guide §4.2 — hand whole batches to vectorized code) and returns one
# plan per block with decisions IDENTICAL to _write_subframe's (same
# costs, same strict-< / first-minimum tie-breaks, same float operation
# order in the covariance solve — pinned by tests against the scalar
# path). _emit_subframe then folds each planned subframe's codewords
# into a single accumulated-int write (the r13 CAVLC fold pattern).


def _best_rice_rows(res):
    """Vectorized _best_rice over rows: (best_r, best_bits) arrays.
    argmin's first-minimum matches the scalar loop's strict-< ladder,
    and the scalar early break never skips a true minimum (its bound
    cost(r') >= n*(1+r') only prunes provably-worse parameters)."""
    import numpy as np

    us = np.where(res >= 0, res << 1, ((-res) << 1) - 1)
    m = res.shape[1]
    rs = np.arange(15, dtype=np.int64)
    costs = (us[:, None, :] >> rs[None, :, None]).sum(axis=2) + m * (1 + rs)
    best_r = np.argmin(costs, axis=1)
    return best_r, costs[np.arange(res.shape[0]), best_r]


def _lpc_solve_rows(rows, order):
    """Vectorized _lpc_coeffs for one order over (nb, _BLOCK) rows:
    returns (ok mask, coefs array). Every float operation replicates
    the scalar path's order and guards (first-max pivot, the
    ``if f:`` zero-skip, genexpr summation order in back-substitution)
    so accepted blocks produce bit-identical coefficients."""
    import numpy as np

    nb, n = rows.shape
    lag = [rows[:, order - 1 - j : n - 1 - j] for j in range(order)]
    cur = rows[:, order:n]
    mat = np.empty((nb, order, order))
    for j in range(order):
        for k in range(j, order):
            v = (lag[j] * lag[k]).sum(axis=1).astype(np.float64)
            mat[:, j, k] = v
            mat[:, k, j] = v
    rhs = np.stack(
        [(cur * lag[j]).sum(axis=1).astype(np.float64)
         for j in range(order)],
        axis=1,
    )
    diag = np.abs(mat[:, np.arange(order), np.arange(order)])
    scale = diag.max(axis=1)
    sing = scale == 0.0
    idx = np.arange(nb)
    with np.errstate(all="ignore"):
        for col in range(order):
            piv = col + np.argmax(np.abs(mat[:, col:, col]), axis=1)
            sing |= np.abs(mat[idx, piv, col]) < 1e-9 * scale
            tmp = mat[idx, piv].copy()
            mat[idx, piv] = mat[idx, col]
            mat[idx, col] = tmp
            tmpr = rhs[idx, piv].copy()
            rhs[idx, piv] = rhs[idx, col]
            rhs[idx, col] = tmpr
            d = mat[:, col, col]
            inv = 1.0 / np.where(d == 0.0, 1.0, d)
            for r in range(col + 1, order):
                f = mat[:, r, col] * inv
                nz = f != 0.0
                mat[:, r, col:] = np.where(
                    nz[:, None],
                    mat[:, r, col:] - f[:, None] * mat[:, col, col:],
                    mat[:, r, col:],
                )
                rhs[:, r] = np.where(nz, rhs[:, r] - f * rhs[:, col],
                                     rhs[:, r])
        a = np.empty((nb, order))
        for r in range(order - 1, -1, -1):
            if r + 1 < order:
                s = mat[:, r, r + 1] * a[:, r + 1]
                for c in range(r + 2, order):
                    s = s + mat[:, r, c] * a[:, c]
                acc = rhs[:, r] - s
            else:
                acc = rhs[:, r]
            a[:, r] = acc / np.where(mat[:, r, r] == 0.0, 1.0,
                                     mat[:, r, r])
    ok = ~sing & ~(np.abs(a) > 32.0).any(axis=1) & np.isfinite(a).all(axis=1)
    return ok, a


def _quantize_rows(coefs):
    """Vectorized _quantize_lpc: (ok, qcoef int array, shift array).
    np.rint is round-half-even, exactly Python round()."""
    import numpy as np

    nb, order = coefs.shape
    cmax = np.abs(coefs).max(axis=1)
    ok = cmax != 0.0
    safe = np.where(ok, cmax, 1.0)
    shift = _LPC_PRECISION - 1 - (
        np.floor(np.log2(safe)).astype(np.int64) + 1
    )
    shift = np.clip(shift, 0, 31)
    lim = 1 << (_LPC_PRECISION - 1)
    q = np.empty((nb, order), np.int64)
    e = np.zeros(nb)
    pw = np.exp2(shift.astype(np.float64))
    for j in range(order):
        v = coefs[:, j] * pw + e
        qi = np.clip(np.rint(v).astype(np.int64), -lim, lim - 1)
        e = v - qi
        q[:, j] = qi
    return ok, q, shift


def _plan_channel(samples: list[int], depth: int):
    """(plans, costs) for every block of a whole channel — see
    _plan_blocks."""
    import numpy as np

    return _plan_blocks(
        np.asarray(samples, np.int64).reshape(-1, _BLOCK), depth
    )


def _plan_many(channels: list[list[int]], depth: int):
    """Batch-plan MANY channels (e.g. every doc of an Arrow batch) in
    ONE numpy pass — per-doc clips are only 4-8 blocks, far below the
    numpy dispatch floor, but stacked across a batch the planner runs
    on thousands of rows at once. Returns (plans, costs) lists per
    channel, identical to per-channel _plan_channel calls."""
    import numpy as np

    if not channels:
        return [], []
    stacked = np.concatenate(
        [np.asarray(c, np.int64).reshape(-1, _BLOCK) for c in channels]
    )
    plans, costs = _plan_blocks(stacked, depth)
    out_p, out_c = [], []
    at = 0
    for c in channels:
        nb = len(c) // _BLOCK
        out_p.append(plans[at : at + nb])
        out_c.append(costs[at : at + nb])
        at += nb
    return out_p, out_c


def _plan_blocks(rows, depth: int):
    """(plans, costs) for (nb, _BLOCK) sample rows, decisions
    identical to _write_subframe; costs[b] is the exact subframe size
    in bits (header byte included) that _emit_subframe will write —
    equal to the scalar encoding's nbits(). Plans are
    ('const',) | ('verbatim',) | ('fixed', order, r, res)
    | ('lpc', order, r, res, qcoef, shift)."""
    import numpy as np

    nb = rows.shape[0]
    const = (rows == rows[:, :1]).all(axis=1)
    # FIXED orders 0..4: order-k residuals are the k-th differences
    res_o = [rows]
    for _ in range(4):
        res_o.append(np.diff(res_o[-1], axis=1))
    fixed_tot = np.empty((nb, 5), np.int64)
    fixed_r = np.empty((nb, 5), np.int64)
    for o in range(5):
        r, bits_ = _best_rice_rows(res_o[o])
        fixed_r[:, o] = r
        fixed_tot[:, o] = depth * o + 2 + 4 + 4 + bits_
    best_o = np.argmin(fixed_tot, axis=1)
    best_tot = fixed_tot[np.arange(nb), best_o]
    kind = np.where(const, 0, 1)  # 0 const, 1 fixed, 2 lpc
    best_r = fixed_r[np.arange(nb), best_o]
    best_order = best_o.copy()
    lpc_q = {}
    lpc_shift = {}
    lpc_res = {}
    lpc_floor = (
        depth * 2 + 4 + 5 + _LPC_PRECISION * 2 + 10 + (_BLOCK - 2)
    )
    try_lpc = ~const & (best_tot > lpc_floor)
    if try_lpc.any():
        sub_idx = np.nonzero(try_lpc)[0]
        sub = rows[sub_idx]
        for order in (2, 3, 4):
            ok, coefs = _lpc_solve_rows(sub, order)
            qok, qcoef, shift = _quantize_rows(
                np.where(ok[:, None], coefs, 1.0)
            )
            ok &= qok
            if not ok.any():
                continue
            # residuals under the QUANTIZED predictor (int64 exact)
            pred = np.zeros((len(sub_idx), _BLOCK - order), np.int64)
            for j in range(order):
                pred += qcoef[:, j : j + 1] * sub[
                    :, order - 1 - j : _BLOCK - 1 - j
                ]
            res = sub[:, order:] - (pred >> shift[:, None])
            r, bits_ = _best_rice_rows(res)
            tot = (
                depth * order + 4 + 5 + _LPC_PRECISION * order
                + 2 + 4 + 4 + bits_
            )
            win = ok & (tot < best_tot[sub_idx])
            if not win.any():
                continue
            w = sub_idx[win]
            best_tot[w] = tot[win]
            best_r[w] = r[win]
            best_order[w] = order
            kind[w] = 2
            for pos, bi in zip(np.nonzero(win)[0], w):
                lpc_q[int(bi)] = qcoef[pos].tolist()
                lpc_shift[int(bi)] = int(shift[pos])
                lpc_res[int(bi)] = res[pos].tolist()
    plans: list[tuple] = []
    verb = depth * _BLOCK
    costs = (8 + np.where(const, depth,
                          np.minimum(best_tot, verb))).tolist()
    for b in range(nb):
        if const[b]:
            plans.append(("const",))
        elif best_tot[b] >= verb:
            plans.append(("verbatim",))
        elif kind[b] == 2:
            plans.append(
                ("lpc", int(best_order[b]), int(best_r[b]),
                 lpc_res[b], lpc_q[b], lpc_shift[b])
            )
        else:
            o = int(best_order[b])
            plans.append(
                ("fixed", o, int(best_r[b]), res_o[o][b].tolist())
            )
    return plans, costs


def _emit_subframe(
    bits: BitWriter, samples: list[int], depth: int, plan: tuple
) -> None:
    """Emit one planned subframe — the exact bit sequence
    _write_subframe produces, folded into a single writer call."""
    mask = (1 << depth) - 1
    k = plan[0]
    if k == "const":
        _put(bits, 0, 8)
        _put(bits, int(samples[0]) & mask, depth)
        return
    if k == "verbatim":
        acc, n = 0b000001 << 1, 8
        for s in samples:
            acc = (acc << depth) | (int(s) & mask)
            n += depth
        _put(bits, acc, n)
        return
    if k == "fixed":
        _, order, r, res = plan
        acc, n = (0b001000 | order) << 1, 8
    else:
        _, order, r, res, qcoef, shift = plan
        acc, n = (0b100000 | (order - 1)) << 1, 8
    for s in samples[:order]:
        acc = (acc << depth) | (int(s) & mask)
        n += depth
    if k == "lpc":
        acc = (acc << 4) | (_LPC_PRECISION - 1)
        acc = (acc << 5) | shift
        n += 9
        cmask = (1 << _LPC_PRECISION) - 1
        for c in qcoef:
            acc = (acc << _LPC_PRECISION) | (c & cmask)
            n += _LPC_PRECISION
    # rice header (method 0, partition order 0, parameter) + residuals
    acc = (acc << 10) | r
    n += 10
    rmask = (1 << r) - 1
    for e in res:
        u = (e << 1) if e >= 0 else ((-e << 1) - 1)
        q = u >> r
        acc = (acc << (q + 1)) | 1
        acc = (acc << r) | (u & rmask)
        n += q + 1 + r
    _put(bits, acc, n)




# frame-header channel-assignment nibbles (RFC 9639 9.1.3)
_CH_MONO = 0b0000
_CH_STEREO = 0b0001       # independent L/R
_CH_LEFT_SIDE = 0b1000    # L + (L-R)
_CH_RIGHT_SIDE = 0b1001   # (L-R) + R
_CH_MID_SIDE = 0b1010     # ((L+R)>>1 | parity trick) + (L-R)


def _frame_header(idx: int, channel_nibble: int) -> bytearray:
    hdr = bytearray(b"\xff\xf8")  # sync + fixed blocking strategy
    hdr.append(0x69)  # blocksize 'get 8 bit' (0110) + rate 44.1k (1001)
    hdr.append((channel_nibble << 4) | 0x08)  # channels + 16-bit + rsvd
    hdr += _utf8_frame_number(idx)
    hdr.append(_BLOCK - 1)  # the 8-bit blocksize-1 field
    hdr.append(crc8(bytes(hdr)))
    return hdr


def _frame(idx: int, samples: list[int], plan: tuple | None = None) -> bytes:
    if len(samples) != _BLOCK:
        raise ValueError("fixed blocksize: every frame is _BLOCK samples")
    hdr = _frame_header(idx, _CH_MONO)
    bits = BitWriter()
    if plan is None:
        _write_subframe(bits, samples, 16)
    else:
        _emit_subframe(bits, samples, 16, plan)
    frame = bytes(hdr) + bits.bytes_()
    return frame + crc16(frame).to_bytes(2, "big")


def _frame_stereo(
    idx: int,
    left: list[int],
    right: list[int],
    planned: tuple | None = None,
) -> bytes:
    """One stereo frame; the channel ASSIGNMENT is chosen per frame
    by exact coded size across all four modes — the real encoder
    decision. Side channels code at 17 bits (RFC 9639 9.2.1).
    ``planned`` carries ((plan, cost) per candidate channel) from the
    batched planner; plan costs equal the scalar encodings'
    nbits(), so the assignment choice (min, first-of-equals) is
    identical — but only the two WINNING subframes are emitted."""
    if len(left) != _BLOCK or len(right) != _BLOCK:
        raise ValueError("fixed blocksize: every frame is _BLOCK samples")
    side = [l - r for l, r in zip(left, right)]
    mid = [(l + r) >> 1 for l, r in zip(left, right)]
    if planned is None:
        # each distinct channel array is coded exactly ONCE;
        # assignments are compared and assembled from the cached
        # encodings
        c_left = _coded_subframe(left, 16)
        c_right = _coded_subframe(right, 16)
        c_side = _coded_subframe(side, 17)
        c_mid = _coded_subframe(mid, 16)
        cands = [
            (_CH_STEREO, c_left, c_right),
            (_CH_LEFT_SIDE, c_left, c_side),
            (_CH_RIGHT_SIDE, c_side, c_right),
            (_CH_MID_SIDE, c_mid, c_side),
        ]
        best = min(
            cands, key=lambda c: c[1].nbits() + c[2].nbits()
        )
        nib, b1, b2 = best
        hdr = _frame_header(idx, nib)
        bits = BitWriter()
        bits.extend(b1)
        bits.extend(b2)
    else:
        (pl, cl), (pr, cr), (ps, cs), (pm, cm) = planned
        cands2 = [
            (_CH_STEREO, cl + cr, (left, 16, pl), (right, 16, pr)),
            (_CH_LEFT_SIDE, cl + cs, (left, 16, pl), (side, 17, ps)),
            (_CH_RIGHT_SIDE, cs + cr, (side, 17, ps), (right, 16, pr)),
            (_CH_MID_SIDE, cm + cs, (mid, 16, pm), (side, 17, ps)),
        ]
        nib, _, ch1, ch2 = min(cands2, key=lambda c: c[1])
        hdr = _frame_header(idx, nib)
        bits = BitWriter()
        for samples_, depth_, plan_ in (ch1, ch2):
            _emit_subframe(bits, samples_, depth_, plan_)
    frame = bytes(hdr) + bits.bytes_()
    return frame + crc16(frame).to_bytes(2, "big")


def _container(n_samples: int, channels: int, md5: bytes,
               comments: dict[str, str]) -> bytearray:
    out = bytearray(_MAGIC)
    si = _streaminfo(n_samples, md5, channels)
    out += bytes([0x00]) + len(si).to_bytes(3, "big") + si
    vc = _vorbis_comment(comments)
    out += bytes([0x04]) + len(vc).to_bytes(3, "big") + vc
    pad = b"\x00" * 8
    out += bytes([0x80 | 0x01]) + len(pad).to_bytes(3, "big") + pad
    return out


def encode_flac(
    samples: list[int],
    comments: dict[str, str],
    plans: list[tuple] | None = None,
) -> bytes:
    """Mono 16-bit fixed-blocksize FLAC; len(samples) must divide
    into whole blocks (the synthesizer guarantees it). ``plans``
    optionally carries this channel's _plan_many/_plan_channel output
    (the batch writers plan a whole Arrow batch at once)."""
    if len(samples) % _BLOCK:
        raise ValueError("sample count must be a multiple of the blocksize")
    md5 = hashlib.md5(_pcm_bytes(samples)).digest()
    out = _container(len(samples), 1, md5, comments)
    if plans is None:
        plans, _ = _plan_channel(samples, 16)
    for i in range(0, len(samples), _BLOCK):
        out += _frame(
            i // _BLOCK, samples[i : i + _BLOCK], plans[i // _BLOCK]
        )
    return bytes(out)


def _frame_multi(
    idx: int,
    chans_block: list[list[int]],
    plans: list[tuple] | None = None,
) -> bytes:
    """One frame of 1-8 INDEPENDENTLY coded channels (RFC 9639 9.1.3
    channel assignments 0b0000-0b0111 = channel count - 1); each
    channel picks its own subframe type by exact coded size."""
    nib = len(chans_block) - 1
    hdr = _frame_header(idx, nib)
    bits = BitWriter()
    for ci, ch in enumerate(chans_block):
        if plans is None:
            bits.extend(_coded_subframe(ch, 16))
        else:
            _emit_subframe(bits, ch, 16, plans[ci])
    frame = bytes(hdr) + bits.bytes_()
    return frame + crc16(frame).to_bytes(2, "big")


def encode_flac_multichannel(
    chans: list[list[int]],
    comments: dict[str, str],
    ch_plans: list[list[tuple]] | None = None,
) -> bytes:
    """3-8 channel (surround) 16-bit FLAC with independent channel
    coding — the RFC 9639 path for anything beyond stereo (stereo
    decorrelation modes exist only for 2 channels). STREAMINFO
    total_samples counts interchannel samples; the PCM MD5 runs over
    the channel-interleaved stream, per spec. Also accepts 1-2
    channels (then always independent) for cross-checks."""
    n = len(chans)
    if not 1 <= n <= 8:
        raise ValueError("FLAC supports 1-8 channels")
    length = len(chans[0])
    if any(len(c) != length for c in chans):
        raise ValueError("channel length mismatch")
    if length % _BLOCK:
        raise ValueError("sample count must be a multiple of the blocksize")
    inter = [v for tup in zip(*chans) for v in tup]
    md5 = hashlib.md5(_pcm_bytes(inter)).digest()
    out = _container(length, n, md5, comments)
    if ch_plans is None:
        ch_plans = [_plan_channel(c, 16)[0] for c in chans]
    for i in range(0, length, _BLOCK):
        bi = i // _BLOCK
        out += _frame_multi(
            bi,
            [c[i : i + _BLOCK] for c in chans],
            [p[bi] for p in ch_plans],
        )
    return bytes(out)


def encode_flac_stereo(
    left: list[int],
    right: list[int],
    comments: dict[str, str],
    planned: tuple | None = None,
) -> bytes:
    """Stereo 16-bit FLAC with per-frame channel-decorrelation choice
    (independent / left-side / right-side / mid-side by exact coded
    size). STREAMINFO total_samples counts INTERCHANNEL samples and
    the PCM MD5 runs over the interleaved L,R stream, per spec."""
    if len(left) != len(right):
        raise ValueError("channel length mismatch")
    if len(left) % _BLOCK:
        raise ValueError("sample count must be a multiple of the blocksize")
    inter = [v for pair in zip(left, right) for v in pair]
    md5 = hashlib.md5(_pcm_bytes(inter)).digest()
    out = _container(len(left), 2, md5, comments)
    side = [l - r for l, r in zip(left, right)]
    mid = [(l + r) >> 1 for l, r in zip(left, right)]
    if planned is not None:
        (pl, cl), (pr, cr), (ps, cs), (pm, cm) = planned
    else:
        pl, cl = _plan_channel(left, 16)
        pr, cr = _plan_channel(right, 16)
        ps, cs = _plan_channel(side, 17)
        pm, cm = _plan_channel(mid, 16)
    for i in range(0, len(left), _BLOCK):
        bi = i // _BLOCK
        out += _frame_stereo(
            bi,
            left[i : i + _BLOCK],
            right[i : i + _BLOCK],
            (
                (pl[bi], cl[bi]),
                (pr[bi], cr[bi]),
                (ps[bi], cs[bi]),
                (pm[bi], cm[bi]),
            ),
        )
    return bytes(out)


# --- decoder ---------------------------------------------------------------------


def _signed(v: int, depth: int) -> int:
    return v - (1 << depth) if v & (1 << (depth - 1)) else v


def _read_subframe(br: BitReader, blocksize: int, depth: int) -> list[int]:
    """One subframe at ``depth`` bits per sample, header byte
    included — everything through the bit reader, because a stereo
    frame's second subframe is not byte-aligned."""
    sub = br.u(8)
    if sub & 0x81:
        raise ValueError("bad subframe header padding/wasted bits")
    stype = (sub >> 1) & 0x3F
    if stype == 0:  # CONSTANT
        return [_signed(br.u(depth), depth)] * blocksize
    if stype == 1:  # VERBATIM
        return [_signed(br.u(depth), depth) for _ in range(blocksize)]
    if 0b001000 <= stype <= 0b001100:  # FIXED, order 0..4
        order = stype & 0x07
        warm = [_signed(br.u(depth), depth) for _ in range(order)]
        res = _read_residuals(br, blocksize, order)
        coef = _FIXED_COEF[order]
        out = list(warm)
        for e in res:
            pred = sum(c * out[-1 - j] for j, c in enumerate(coef))
            out.append(e + pred)
        return out
    if stype & 0b100000:  # LPC, order 1..32 (RFC 9639 9.2.3)
        order = (stype & 0x1F) + 1
        warm = [_signed(br.u(depth), depth) for _ in range(order)]
        prec = br.u(4) + 1
        if prec == 16:
            raise ValueError("invalid LPC coefficient precision 0b1111")
        shift = br.u(5)  # unsigned per RFC 9639 (never negative)
        qcoef = [_signed(br.u(prec), prec) for _ in range(order)]
        res = _read_residuals(br, blocksize, order)
        out = list(warm)
        for e in res:
            # spec-mandated ARITHMETIC right shift of the (possibly
            # negative) coefficient dot product — Python's >> is
            # exactly that
            pred = sum(c * out[-1 - j] for j, c in enumerate(qcoef))
            out.append(e + (pred >> shift))
        return out
    raise NotImplementedError(f"reserved subframe type {stype}")


def _read_residuals(br: BitReader, blocksize: int, order: int) -> list[int]:
    """Shared coded-residual section (RFC 9639 9.2.7): rice method
    0/1, 2^k partitions, escape-to-raw-width — used verbatim by both
    FIXED and LPC subframes."""
    method = br.u(2)
    if method > 1:
        raise ValueError(f"reserved residual method {method}")
    pbits = 5 if method else 4
    escape = (1 << pbits) - 1
    part_order = br.u(4)
    n_parts = 1 << part_order
    if blocksize % n_parts or (blocksize >> part_order) <= order:
        raise ValueError("partition order does not divide the block")
    res: list[int] = []
    for p in range(n_parts):
        count = (blocksize >> part_order) - (order if p == 0 else 0)
        param = br.u(pbits)
        if param == escape:  # raw fixed-width signed residuals
            width = br.u(5)
            for _ in range(count):
                v = br.u(width) if width else 0
                if width and v & (1 << (width - 1)):
                    v -= 1 << width
                res.append(v)
        else:
            for _ in range(count):
                q = br.unary()
                u = (q << param) | (br.u(param) if param else 0)
                res.append(_unzigzag(u))
    return res


def decode_flac(buf: bytes) -> dict:
    buf = bytes(buf)
    if buf[:4] != _MAGIC:
        raise ValueError("not a FLAC stream")
    pos = 4
    streaminfo = None
    comments: dict[str, str] = {}
    while True:
        if pos + 4 > len(buf):
            raise ValueError("metadata block header truncated")
        hdr = buf[pos]
        btype, last = hdr & 0x7F, bool(hdr & 0x80)
        blen = int.from_bytes(buf[pos + 1 : pos + 4], "big")
        body = buf[pos + 4 : pos + 4 + blen]
        if len(body) != blen:
            raise ValueError("metadata block truncated")
        if btype == 0:
            if blen != 34:
                raise ValueError("STREAMINFO must be 34 bytes")
            min_bs, max_bs = struct.unpack_from(">HH", body, 0)
            packed = int.from_bytes(body[10:18], "big")
            streaminfo = {
                "min_blocksize": min_bs,
                "max_blocksize": max_bs,
                "sample_rate": packed >> 44,
                "channels": ((packed >> 41) & 0x7) + 1,
                "bits": ((packed >> 36) & 0x1F) + 1,
                "total_samples": packed & ((1 << 36) - 1),
                "md5": body[18:34],
            }
        elif btype == 4:
            try:
                vlen = struct.unpack_from("<I", body, 0)[0]
                at = 4 + vlen
                (count,) = struct.unpack_from("<I", body, at)
                at += 4
                for _ in range(count):
                    (flen,) = struct.unpack_from("<I", body, at)
                    at += 4
                    k, _, v = body[at : at + flen].decode().partition("=")
                    comments[k.upper()] = v
                    at += flen
            except struct.error:
                raise ValueError("VORBIS_COMMENT block truncated") from None
        elif btype not in (1, 2, 3, 5, 6):
            raise ValueError(f"reserved metadata block type {btype}")
        pos += 4 + blen
        if last:
            break
    if streaminfo is None:
        raise ValueError("missing STREAMINFO")
    if not 1 <= streaminfo["channels"] <= 8 or streaminfo["bits"] != 16:
        raise NotImplementedError("1-8 channel 16-bit only")
    samples: list[int] = []
    n_frames = 0
    channels = streaminfo["channels"]
    while pos < len(buf):
        start = pos
        if pos + 5 > len(buf):
            raise ValueError(f"frame header truncated at {pos}")
        if buf[pos] != 0xFF or buf[pos + 1] & 0xFE != 0xF8:
            raise ValueError(f"lost frame sync at {pos}")
        if buf[pos + 2] != 0x69:
            raise NotImplementedError("unexpected blocksize/rate coding")
        ch_byte = buf[pos + 3]
        if ch_byte & 0x01 or ((ch_byte >> 1) & 0x7) != 0b100:
            raise NotImplementedError("unexpected sample-size coding")
        nib = ch_byte >> 4
        idx, at = _read_utf8_number(buf, pos + 4)
        if idx != n_frames:
            raise ValueError("frame number out of sequence")
        if at + 2 > len(buf):
            raise ValueError(f"frame header truncated at {pos}")
        blocksize = buf[at] + 1
        at += 1
        if crc8(buf[start:at]) != buf[at]:
            raise ValueError(f"frame header CRC-8 mismatch at {start}")
        at += 1
        br = BitReader(buf, at * 8)
        if nib <= 0b0111:  # 1-8 independently coded channels
            if nib + 1 != channels:
                raise ValueError(
                    f"frame codes {nib + 1} channels, STREAMINFO says "
                    f"{channels}"
                )
            chans = [
                _read_subframe(br, blocksize, 16) for _ in range(channels)
            ]
            frame_samples = [v for tup in zip(*chans) for v in tup]
        else:
            if channels != 2:
                raise ValueError(
                    "stereo-decorrelation frame in a non-stereo stream"
                )
            if nib == _CH_LEFT_SIDE:
                left = _read_subframe(br, blocksize, 16)
                side = _read_subframe(br, blocksize, 17)
                right = [l - s for l, s in zip(left, side)]
            elif nib == _CH_RIGHT_SIDE:
                side = _read_subframe(br, blocksize, 17)
                right = _read_subframe(br, blocksize, 16)
                left = [r + s for r, s in zip(right, side)]
            elif nib == _CH_MID_SIDE:
                mid = _read_subframe(br, blocksize, 16)
                side = _read_subframe(br, blocksize, 17)
                # RFC 9639 9.1.3: mid dropped the sum's low bit; it
                # rides the side's parity: L=(2m+(s&1)+s)>>1, R=L-s
                left, right = [], []
                for m, s in zip(mid, side):
                    m2 = (m << 1) | (s & 1)
                    left.append((m2 + s) >> 1)
                    right.append((m2 - s) >> 1)
            else:
                raise ValueError(
                    f"reserved channel assignment {nib:#06b}"
                )
            frame_samples = [
                v for pair in zip(left, right) for v in pair
            ]
        br.align()
        at = br.pos >> 3
        if crc16(buf[start:at]) != int.from_bytes(buf[at : at + 2], "big"):
            raise ValueError(f"frame CRC-16 mismatch at {start}")
        at += 2
        samples += frame_samples
        n_frames += 1
        pos = at
    if len(samples) != streaminfo["total_samples"] * channels:
        raise ValueError("decoded sample count != STREAMINFO total")
    md5_ok = hashlib.md5(_pcm_bytes(samples)).digest() == streaminfo["md5"]
    return {
        "streaminfo": streaminfo,
        "comments": comments,
        "samples": samples,
        "n_frames": n_frames,
        "md5_ok": md5_ok,
    }


# --- Spark surface ---------------------------------------------------------------


# period-8 quantized sine, amplitude 8192 (5793 = round(8192*sin 45°));
# sums to zero over a period, so an LPC frame's sample sum is exactly
# 16*base — closed-form for the oracle. A sinusoid-plus-constant obeys
# a 3rd-order linear recurrence with NON-integer coefficients
# ((1-z^-1)(1-sqrt(2) z^-1+z^-2)), so the integer FIXED predictors
# leave ~13-bit residuals while quantized LPC leaves only the table's
# rounding noise — the cost model picks LPC on this texture.
_SINE8 = [0, 5793, 8192, 5793, 0, -5793, -8192, -5793]


def _doc_samples(doc_id: int) -> list[int]:
    """(4 + id%5) frames cycling FOUR textures so every subframe type
    stays hot on the query path: f%4==0 flat (CONSTANT), f%4==1 a
    linear ramp (FIXED — the order-2 predictor zeroes it out), f%4==2
    base-offset quantized sine (LPC — see _SINE8), f%4==3 hash-noisy
    (VERBATIM — prediction can't pay). Pure integer formulas the
    oracle recomputes; n_frames >= 4 so every clip hits all four."""
    n_frames = 4 + doc_id % 5
    out = []
    for f in range(n_frames):
        base = (doc_id * 7 + f * 29) % 4096 - 2048
        if f % 4 == 0:
            out += [base] * _BLOCK
        elif f % 4 == 1:
            out += [
                (doc_id * 7 + f * 29 + k * 13) % 4096 - 2048
                for k in range(_BLOCK)
            ]
        elif f % 4 == 2:
            out += [base + _SINE8[k % 8] for k in range(_BLOCK)]
        else:
            # full-16-bit-range hash noise: rice can't beat 16 bits/
            # sample here, so the encoder's cost model picks VERBATIM
            out += [
                (doc_id * 7 + f * 29 + k * 48271) % 65536 - 32768
                for k in range(_BLOCK)
            ]
    return out


def _doc_stereo(doc_id: int) -> tuple[list[int], list[int]]:
    """(4 + id%5) stereo frames cycling four channel-correlation
    textures so the per-frame assignment choice stays hot: f%4==0
    flat L/R (independent CONSTANT), f%4==1 clean-ramp RIGHT with a
    perturbed LEFT (right-side wins: side and R are both cheaper than
    L), f%4==2 quadrature sines over different bases (mid-side /
    LPC territory), f%4==3 independent hash noise (independent
    VERBATIM). Pure integer formulas the oracle recomputes."""
    n_frames = 4 + doc_id % 5
    left: list[int] = []
    right: list[int] = []
    for f in range(n_frames):
        base = (doc_id * 7 + f * 29) % 4096 - 2048
        base2 = (doc_id * 11 + f * 17) % 4096 - 2048
        if f == 5:
            # the f%4==1 texture MIRRORED (clean LEFT, perturbed
            # RIGHT) so left-side decorrelation wins too; only docs
            # with >=6 frames (id%5>=2) carry it
            ln = [
                (doc_id * 7 + f * 29 + k * 13) % 4096 - 2048
                for k in range(_BLOCK)
            ]
            left += ln
            right += [
                v + ((doc_id * 3 + k * 48271) % 23 - 11)
                for k, v in enumerate(ln)
            ]
            continue
        if f % 4 == 0:
            left += [base] * _BLOCK
            right += [base2] * _BLOCK
        elif f % 4 == 1:
            r = [
                (doc_id * 7 + f * 29 + k * 13) % 4096 - 2048
                for k in range(_BLOCK)
            ]
            right += r
            left += [
                v + ((doc_id * 3 + k * 48271) % 23 - 11)
                for k, v in enumerate(r)
            ]
        elif f % 4 == 2:
            left += [base + _SINE8[k % 8] for k in range(_BLOCK)]
            right += [base2 + _SINE8[(k + 2) % 8] for k in range(_BLOCK)]
        else:
            left += [
                (doc_id * 7 + f * 29 + k * 48271) % 65536 - 32768
                for k in range(_BLOCK)
            ]
            right += [
                (doc_id * 11 + f * 17 + k * 16807) % 65536 - 32768
                for k in range(_BLOCK)
            ]
    return left, right


def synthesize_flac_stereo_clips(
    docs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    out_schema = f"{id_col} long, content binary"

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, blobs = [], []
            # r14: plan every doc's four candidate channels in ONE
            # numpy pass per depth class — per-doc clips are 4-8
            # blocks, below the numpy dispatch floor on their own
            chans = []
            for i in pdf[id_col]:
                left, right = _doc_stereo(int(i))
                side = [l - r for l, r in zip(left, right)]
                mid = [(l + r) >> 1 for l, r in zip(left, right)]
                chans.append((left, right, side, mid))
            p16, c16 = _plan_many(
                [c for ch in chans for c in (ch[0], ch[1], ch[3])], 16
            )
            p17, c17 = _plan_many([ch[2] for ch in chans], 17)
            for k, i in enumerate(pdf[id_col]):
                i = int(i)
                left, right, _side, _mid = chans[k]
                planned = (
                    (p16[3 * k], c16[3 * k]),
                    (p16[3 * k + 1], c16[3 * k + 1]),
                    (p17[k], c17[k]),
                    (p16[3 * k + 2], c16[3 * k + 2]),
                )
                blobs.append(
                    encode_flac_stereo(
                        left, right, {"TITLE": f"doc {i}"}, planned
                    )
                )
                ids.append(i)
            yield pd.DataFrame({id_col: ids, "content": blobs})

    return map_batches(docs, build, out_schema, cols=(id_col,))


def flac_stereo_features(
    media: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "content",
) -> DataFrame:
    out_schema = (
        f"{id_col} long, n_channels int, n_frames int, n_samples long,"
        " sum_left long, sum_right long, pcm_md5_ok boolean"
    )

    def feat(i, content):
        d = decode_flac(content)
        inter = d["samples"]
        yield (
            i,
            d["streaminfo"]["channels"],
            d["n_frames"],
            len(inter) // 2,
            sum(inter[0::2]),
            sum(inter[1::2]),
            d["md5_ok"],
        )

    return map_rows(media, feat, out_schema, cols=(id_col, content_col))


def _doc_multichannel(doc_id: int) -> list[list[int]]:
    """3-8 independently coded channels (5.1 = 6 at id%6==3), each
    cycling the four subframe textures offset by channel index so
    every channel/texture pairing appears. Pure integer formulas the
    oracle recomputes with a channel UNNEST."""
    n_ch = 3 + doc_id % 6
    n_frames = 3 + doc_id % 3
    chans: list[list[int]] = []
    for c in range(n_ch):
        out: list[int] = []
        for f in range(n_frames):
            base = (doc_id * 7 + f * 29 + c * 101) % 4096 - 2048
            t = (f + c) % 4
            if t == 0:
                out += [base] * _BLOCK
            elif t == 1:
                out += [
                    (doc_id * 7 + f * 29 + c * 101 + k * 13) % 4096 - 2048
                    for k in range(_BLOCK)
                ]
            elif t == 2:
                out += [base + _SINE8[k % 8] for k in range(_BLOCK)]
            else:
                out += [
                    (doc_id * 7 + f * 29 + c * 101 + k * 48271) % 65536
                    - 32768
                    for k in range(_BLOCK)
                ]
        chans.append(out)
    return chans


def synthesize_flac_surround_clips(
    docs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    out_schema = f"{id_col} long, content binary"

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, blobs = [], []
            # r14: one numpy planning pass over every channel of every
            # doc in the Arrow batch (channel counts vary per doc)
            docs_ch = [_doc_multichannel(int(i)) for i in pdf[id_col]]
            flat = [c for chans in docs_ch for c in chans]
            plans, _ = _plan_many(flat, 16)
            at = 0
            for k, i in enumerate(pdf[id_col]):
                i = int(i)
                chans = docs_ch[k]
                blobs.append(
                    encode_flac_multichannel(
                        chans, {"TITLE": f"doc {i}"},
                        plans[at : at + len(chans)],
                    )
                )
                at += len(chans)
                ids.append(i)
            yield pd.DataFrame({id_col: ids, "content": blobs})

    return map_batches(docs, build, out_schema, cols=(id_col,))


def flac_surround_features(
    media: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "content",
) -> DataFrame:
    out_schema = (
        f"{id_col} long, n_channels int, n_frames int, n_samples long,"
        " sum_all long, sum_ch0 long, pcm_md5_ok boolean"
    )

    def feat(i, content):
        d = decode_flac(content)
        inter = d["samples"]
        n_ch = d["streaminfo"]["channels"]
        yield (
            i,
            n_ch,
            d["n_frames"],
            len(inter) // n_ch,
            sum(inter),
            sum(inter[0::n_ch]),
            d["md5_ok"],
        )

    return map_rows(media, feat, out_schema, cols=(id_col, content_col))


def synthesize_flac_clips(
    docs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    out_schema = f"{id_col} long, content binary"

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, blobs = [], []
            # r14: one numpy planning pass over the whole Arrow batch
            clips = [_doc_samples(int(i)) for i in pdf[id_col]]
            plans, _ = _plan_many(clips, 16)
            for k, i in enumerate(pdf[id_col]):
                i = int(i)
                blobs.append(
                    encode_flac(
                        clips[k],
                        {"TITLE": f"doc {i}", "TRACKNUMBER": str(i % 100)},
                        plans[k],
                    )
                )
                ids.append(i)
            yield pd.DataFrame({id_col: ids, "content": blobs})

    return map_batches(docs, build, out_schema, cols=(id_col,))


def flac_features(
    media: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "content",
) -> DataFrame:
    out_schema = (
        f"{id_col} long, title string, sample_rate int, n_frames int,"
        " n_samples long, sum_samples long, pcm_md5_ok boolean"
    )

    def feat(i, content):
        d = decode_flac(content)
        yield (
            i,
            d["comments"].get("TITLE", ""),
            d["streaminfo"]["sample_rate"],
            d["n_frames"],
            len(d["samples"]),
            sum(d["samples"]),
            d["md5_ok"],
        )

    return map_rows(media, feat, out_schema, cols=(id_col, content_col))
