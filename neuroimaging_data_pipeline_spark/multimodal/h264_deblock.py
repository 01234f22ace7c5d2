"""H.264 in-loop deblocking filter (ITU-T H.264 clause 8.7) —
frame-coded 4:2:0 baseline: the last normative decode stage of this
codec family (the gate named in h264_inter/h264_bslice since r9).

Implemented from the published spec:

- boundary-strength derivation (8.7.2.1, frame macroblocks): bS 4 on
  macroblock edges with an intra side, 3 on internal edges with an
  intra side, 2 when either adjacent luma 4x4 block carries nonzero
  transform coefficient levels, 1 on reference / motion-vector
  differences (>= 4 in quarter-pel units on either component), else
  0 (edge unfiltered) — INCLUDING the full B-slice rules (r11):
  different number of motion vectors, reference-picture comparison
  by picture identity as an unordered pair ('without regard to list
  or index position'), vector pairing by picture when two distinct
  pictures are used, and the straight-AND-crossed double check when
  both vectors of both blocks reference one picture;
- the alpha / beta threshold tables and the three-row tc0 table
  (Table 8-16), indexed per 8.7.2.2: indexA = Clip3(0, 51, qp +
  2 * slice_alpha_c0_offset_div2) selects alpha and tc0, indexB
  selects beta (r11: nonzero slice filter offsets supported and
  written per 7.3.3). The tables are pinned structurally in
  tests (monotone in the index, tc0 rows ordered bS1 <= bS2 <= bS3,
  published endpoint values);
- the normal filter (8.7.2.3): filterSampleFlag thresholds, the
  clipped delta ((q0-p0)*4 + (p1-q1) + 4) >> 3, the p1/q1 updates
  gated on ap/aq for luma, and the chroma tc = tc0 + 1 variant;
- the strong filter (8.7.2.4) for bS 4: the (alpha >> 2) + 2 lumen
  test selecting the 3-tap vs 5-tap smoothing of p0..p2 / q0..q2,
  and the chroma 3-tap;
- spec filtering ORDER: macroblocks in raster order, each MB's
  vertical edges left-to-right first, then horizontal edges
  top-to-bottom, every edge reading samples already filtered by
  earlier edges;
- chroma (4:2:0) edges at the luma-edge positions 0 and 8 only,
  each chroma sample row/column taking the bS of its corresponding
  luma segment, at the chroma QP mapping.

disable_deblocking_filter_idc 2 (slice-boundary edges excluded) is
accepted and emitted; for the single-slice frames this codec family
writes it is identical to idc 0, which is how it is evaluated. Field
(interlaced) coding remains out of scope and raises loudly where it
would be reached; the encoder<->decoder contract is bit-exact by
construction (both sides run THIS filter on the same exported block
info), and a capability-gated ffmpeg cross-pin covers machines that
have libavcodec.

Reference parity: preprocess_parallel.sh:59-182 shells out for video;
every real H.264 stream a corpus ingests has deblocking enabled.
"""

from __future__ import annotations

import numpy as np

from neuroimaging_data_pipeline_spark.functions.rowmap import map_rows

# Table 8-16: alpha / beta thresholds, indexA/indexB 0..51
_ALPHA = (
    0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    4, 4, 5, 6, 7, 8, 9, 10, 12, 13, 15, 17, 20, 22, 25, 28,
    32, 36, 40, 45, 50, 56, 63, 71, 80, 90, 101, 113, 127, 144,
    162, 182, 203, 226, 255, 255,
)
_BETA = (
    0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    2, 2, 2, 3, 3, 3, 3, 4, 4, 4, 6, 6, 7, 7, 8, 8,
    9, 9, 10, 10, 11, 11, 12, 12, 13, 13, 14, 14, 15, 15,
    16, 16, 17, 17, 18, 18,
)
# tc0 by bS (1, 2, 3) and index 0..51
_TC0 = (
    (0,) * 16 + (0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 1, 1, 1, 1,
                 1, 2, 2, 2, 2, 3, 3, 3, 4, 4, 4, 5, 6, 6, 7, 8,
                 9, 10, 11, 13),
    (0,) * 16 + (0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 1, 1, 1, 1, 2,
                 2, 2, 2, 3, 3, 3, 4, 4, 5, 5, 6, 7, 8, 8, 10, 11,
                 12, 13, 15, 17),
    (0,) * 16 + (0, 0, 0, 0, 0, 1, 1, 1, 1, 1, 1, 1, 2, 2, 2, 2,
                 3, 3, 3, 4, 4, 4, 5, 6, 6, 7, 8, 9, 10, 11, 13,
                 14, 16, 18, 20, 23),
)

assert len(_ALPHA) == 52 and len(_BETA) == 52
assert all(len(t) == 52 for t in _TC0)


def make_block_info(
    mbw: int,
    mbh: int,
    inter: np.ndarray | None = None,
    nnz: np.ndarray | None = None,
    mv: np.ndarray | None = None,
    ref: np.ndarray | None = None,
) -> dict:
    """Per-4x4-block info grid for bS derivation — SINGLE-LIST
    (I/P-slice) form. Defaults describe an ALL-INTRA frame (inter
    False everywhere). ``mv`` is quarter-pel (bh, bw, 2) as
    (mvx, mvy); ``ref`` is the refIdx grid (within one list and one
    slice a refIdx identifies a unique picture, so it doubles as the
    picture id the 8.7.2.1 comparison needs). Normalized layout
    shared with make_block_info_b: ``nmv`` (MVs per block),
    ``pics`` (bh, bw, 2) picture ids (-1 = slot unused, used slot
    first), ``mvs`` (bh, bw, 2, 2) the per-slot vectors."""
    bh, bw = mbh * 4, mbw * 4
    inter = (np.zeros((bh, bw), bool) if inter is None
             else np.asarray(inter, bool))
    nnz = (np.zeros((bh, bw), np.int64) if nnz is None
           else np.asarray(nnz, np.int64))
    mv = (np.zeros((bh, bw, 2), np.int64) if mv is None
          else np.asarray(mv, np.int64))
    ref = (np.zeros((bh, bw), np.int64) if ref is None
           else np.asarray(ref, np.int64))
    pics = np.stack([ref, np.full((bh, bw), -1, np.int64)], axis=-1)
    mvs = np.stack([mv, np.zeros((bh, bw, 2), np.int64)], axis=-2)
    return {
        "inter": inter,
        "nnz": nnz,
        "nmv": np.ones((bh, bw), np.int64),
        "pics": pics,
        "mvs": mvs,
    }


def make_block_info_b(
    mbw: int,
    mbh: int,
    inter: np.ndarray,
    nnz: np.ndarray,
    mv0: np.ndarray,
    mv1: np.ndarray,
    pf0: np.ndarray,
    pf1: np.ndarray,
    pic0: int,
    pic1: int,
) -> dict:
    """B-slice block info: per-4x4 predFlagL0/L1 grids, per-list
    quarter-pel MV grids, and the PICTURE ids the two lists resolve
    to (one active reference per list, so scalars — this codec's POC
    values give every DPB picture a global identity, which is what
    8.7.2.1 compares: 'based only on which pictures are referenced,
    without regard to the list or index position'). Used vectors are
    compacted slot-first so a one-MV block's vector is always in
    slot 0 regardless of which list carried it."""
    bh, bw = mbh * 4, mbw * 4
    inter = np.asarray(inter, bool)
    nnz = np.asarray(nnz, np.int64)
    pf0 = np.asarray(pf0, bool)
    pf1 = np.asarray(pf1, bool)
    mv0 = np.asarray(mv0, np.int64)
    mv1 = np.asarray(mv1, np.int64)
    pica = np.where(pf0, pic0, np.where(pf1, pic1, -1))
    picb = np.where(pf0 & pf1, pic1, -1)
    mva = np.where(pf0[..., None], mv0, mv1)
    pics = np.stack([pica, picb], axis=-1).astype(np.int64)
    mvs = np.stack([mva, mv1], axis=-2)
    return {
        "inter": inter,
        "nnz": nnz,
        "nmv": pf0.astype(np.int64) + pf1.astype(np.int64),
        "pics": pics,
        "mvs": mvs,
    }


def _mv_big(a: np.ndarray, b: np.ndarray) -> bool:
    """True when any MV component differs by >= 4 (quarter-pel)."""
    return int(np.abs(a - b).max()) >= 4


def _bs(info: dict, pby: int, pbx: int, qby: int, qbx: int,
        mb_edge: bool) -> int:
    """Boundary strength between 4x4 blocks P (pby, pbx) and
    Q (qby, qbx), 8.7.2.1 frame-coded — full P/B rules. Picture
    comparison is by picture identity as an unordered pair (the
    spec's 'without regard to list or index position')."""
    p_intra = not info["inter"][pby, pbx]
    q_intra = not info["inter"][qby, qbx]
    if p_intra or q_intra:
        return 4 if mb_edge else 3
    if info["nnz"][pby, pbx] or info["nnz"][qby, qbx]:
        return 2
    np_, nq = info["nmv"][pby, pbx], info["nmv"][qby, qbx]
    if np_ != nq:
        return 1  # different number of motion vectors
    pp = info["pics"][pby, pbx]
    pq = info["pics"][qby, qbx]
    mp = info["mvs"][pby, pbx]
    mq = info["mvs"][qby, qbx]
    if np_ == 1:
        if pp[0] != pq[0]:
            return 1  # different reference pictures
        return 1 if _mv_big(mp[0], mq[0]) else 0
    # two MVs each: compare the picture PAIRS unordered
    if sorted(pp.tolist()) != sorted(pq.tolist()):
        return 1
    if pp[0] != pp[1]:
        # two different pictures — pair the vectors by picture
        if pq[0] == pp[0]:
            qa, qb = mq[0], mq[1]
        else:
            qa, qb = mq[1], mq[0]
        return 1 if (_mv_big(mp[0], qa) or _mv_big(mp[1], qb)) else 0
    # both vectors of both blocks reference the SAME picture:
    # bS 1 only when BOTH the straight and the crossed pairing
    # exceed the quarter-pel threshold (8.7.2.1 final clause)
    straight = _mv_big(mp[0], mq[0]) or _mv_big(mp[1], mq[1])
    crossed = _mv_big(mp[0], mq[1]) or _mv_big(mp[1], mq[0])
    return 1 if (straight and crossed) else 0


def _clip3(lo, hi, v):
    return np.minimum(np.maximum(v, lo), hi)


def _runs(bss: list[int]):
    """Group contiguous equal-bS segments: [(start, end, bs), ...].
    The filter math is per-sample, so equal-bS neighbor segments are
    safely filtered in one vectorized call (same thresholds, same
    tc0) — a pure speedup, not a semantic change."""
    out = []
    s0 = 0
    for i in range(1, 5):
        if i == 4 or bss[i] != bss[s0]:
            out.append((s0, i, bss[s0]))
            s0 = i
    return out


def _filter_segment_scalar(
    p, q, bs: int, alpha: int, beta: int, tc0: int, chroma: bool,
) -> None:
    """Scalar twin of _filter_segment for short segments: the same
    8.7.2.3/8.7.2.4 per-sample formulas with Python int arithmetic
    (all candidates from PRE-filter samples; only p0/q0 take the
    0..255 clip in the normal path, exactly as the vector code)."""
    p0, p1, p2 = p[0], p[1], p[2]
    q0, q1, q2 = q[0], q[1], q[2]
    n = len(p0)
    if bs < 4:
        for i in range(n):
            a0, a1 = int(p0[i]), int(p1[i])
            b0, b1 = int(q0[i]), int(q1[i])
            if not (abs(a0 - b0) < alpha and abs(a1 - a0) < beta
                    and abs(b1 - b0) < beta):
                continue
            if chroma:
                tc = tc0 + 1
                ap = aq = False
            else:
                a2, b2 = int(p2[i]), int(q2[i])
                ap = abs(a2 - a0) < beta
                aq = abs(b2 - b0) < beta
                tc = tc0 + ap + aq
            d = ((b0 - a0) * 4 + (a1 - b1) + 4) >> 3
            d = -tc if d < -tc else (tc if d > tc else d)
            v = a0 + d
            p0[i] = 0 if v < 0 else (255 if v > 255 else v)
            v = b0 - d
            q0[i] = 0 if v < 0 else (255 if v > 255 else v)
            if not chroma:
                h = (a0 + b0 + 1) >> 1
                if ap:
                    d1 = (a2 + h - 2 * a1) >> 1
                    d1 = (-tc0 if d1 < -tc0
                          else (tc0 if d1 > tc0 else d1))
                    p1[i] = a1 + d1
                if aq:
                    d1 = (b2 + h - 2 * b1) >> 1
                    d1 = (-tc0 if d1 < -tc0
                          else (tc0 if d1 > tc0 else d1))
                    q1[i] = b1 + d1
        return
    # bS == 4: strong filter
    if chroma:
        for i in range(n):
            a0, a1 = int(p0[i]), int(p1[i])
            b0, b1 = int(q0[i]), int(q1[i])
            if not (abs(a0 - b0) < alpha and abs(a1 - a0) < beta
                    and abs(b1 - b0) < beta):
                continue
            p0[i] = (2 * a1 + a0 + b1 + 2) >> 2
            q0[i] = (2 * b1 + b0 + a1 + 2) >> 2
        return
    p3, q3 = p[3], q[3]
    small_t = (alpha >> 2) + 2
    for i in range(n):
        a0, a1, a2 = int(p0[i]), int(p1[i]), int(p2[i])
        b0, b1, b2 = int(q0[i]), int(q1[i]), int(q2[i])
        if not (abs(a0 - b0) < alpha and abs(a1 - a0) < beta
                and abs(b1 - b0) < beta):
            continue
        small = abs(a0 - b0) < small_t
        if small and abs(a2 - a0) < beta:
            a3 = int(p3[i])
            p0[i] = (a2 + 2 * a1 + 2 * a0 + 2 * b0 + b1 + 4) >> 3
            p1[i] = (a2 + a1 + a0 + b0 + 2) >> 2
            p2[i] = (2 * a3 + 3 * a2 + a1 + a0 + b0 + 4) >> 3
        else:
            p0[i] = (2 * a1 + a0 + b1 + 2) >> 2
        if small and abs(b2 - b0) < beta:
            b3 = int(q3[i])
            q0[i] = (b2 + 2 * b1 + 2 * b0 + 2 * a0 + a1 + 4) >> 3
            q1[i] = (b2 + b1 + b0 + a0 + 2) >> 2
            q2[i] = (2 * b3 + 3 * b2 + b1 + b0 + a0 + 4) >> 3
        else:
            q0[i] = (2 * b1 + b0 + a1 + 2) >> 2


def _filter_segment(
    p: list[np.ndarray], q: list[np.ndarray], bs: int,
    alpha: int, beta: int, tc0: int, chroma: bool,
) -> None:
    """Filter one 4-sample (luma) or 2-sample (chroma) edge segment
    in place. ``p[k]`` / ``q[k]`` are views of the sample vectors at
    distance k from the edge. Segments of <= 8 samples run a scalar
    twin of the vector math (identical per-sample formulas — ~2.5x
    faster below numpy's small-array dispatch floor; merged equal-bS
    runs longer than 8 keep the vector path)."""
    if len(p[0]) <= 8:
        _filter_segment_scalar(p, q, bs, alpha, beta, tc0, chroma)
        return
    p0, p1, p2 = p[0], p[1], p[2]
    q0, q1, q2 = q[0], q[1], q[2]
    fs = (
        (np.abs(p0 - q0) < alpha)
        & (np.abs(p1 - p0) < beta)
        & (np.abs(q1 - q0) < beta)
    )
    if not fs.any():
        return
    if bs < 4:
        ap = np.abs(p2 - p0) < beta
        aq = np.abs(q2 - q0) < beta
        if chroma:
            tc = tc0 + 1
        else:
            tc = tc0 + ap.astype(np.int64) + aq.astype(np.int64)
        delta = _clip3(-tc, tc, ((q0 - p0) * 4 + (p1 - q1) + 4) >> 3)
        p0n = _clip3(0, 255, p0 + delta)
        q0n = _clip3(0, 255, q0 - delta)
        if not chroma:
            h = (p0 + q0 + 1) >> 1
            p1n = p1 + _clip3(-tc0, tc0, (p2 + h - 2 * p1) >> 1)
            q1n = q1 + _clip3(-tc0, tc0, (q2 + h - 2 * q1) >> 1)
            m = fs & ap
            p1[m] = p1n[m]
            m = fs & aq
            q1[m] = q1n[m]
        p0[fs] = p0n[fs]
        q0[fs] = q0n[fs]
        return
    # bS == 4: strong filter
    if chroma:
        p0n = (2 * p1 + p0 + q1 + 2) >> 2
        q0n = (2 * q1 + q0 + p1 + 2) >> 2
        p0[fs] = p0n[fs]
        q0[fs] = q0n[fs]
        return
    p3, q3 = p[3], q[3]
    small = np.abs(p0 - q0) < ((alpha >> 2) + 2)
    ap = (np.abs(p2 - p0) < beta) & small
    aq = (np.abs(q2 - q0) < beta) & small
    p0_strong = (p2 + 2 * p1 + 2 * p0 + 2 * q0 + q1 + 4) >> 3
    p1_strong = (p2 + p1 + p0 + q0 + 2) >> 2
    p2_strong = (2 * p3 + 3 * p2 + p1 + p0 + q0 + 4) >> 3
    p0_weak = (2 * p1 + p0 + q1 + 2) >> 2
    q0_strong = (q2 + 2 * q1 + 2 * q0 + 2 * p0 + p1 + 4) >> 3
    q1_strong = (q2 + q1 + q0 + p0 + 2) >> 2
    q2_strong = (2 * q3 + 3 * q2 + q1 + q0 + p0 + 4) >> 3
    q0_weak = (2 * q1 + q0 + p1 + 2) >> 2
    # all candidates are computed above from PRE-filter samples, so
    # the stores below cannot feed each other
    mp, mw = fs & ap, fs & ~ap
    p0[mp] = p0_strong[mp]
    p1[mp] = p1_strong[mp]
    p2[mp] = p2_strong[mp]
    p0[mw] = p0_weak[mw]
    mq, mqw = fs & aq, fs & ~aq
    q0[mq] = q0_strong[mq]
    q1[mq] = q1_strong[mq]
    q2[mq] = q2_strong[mq]
    q0[mqw] = q0_weak[mqw]


def _edge_luma(y: np.ndarray, info: dict, qp: int, x: int | None,
               yrow: int | None, mby: int, mbx: int,
               aoff: int = 0, boff: int = 0) -> None:
    """Filter one luma MB edge column (x given) or row (yrow given)
    spanning the 16 samples of macroblock (mby, mbx). ``aoff`` /
    ``boff`` are the FULL slice filter offsets (div2 * 2, 8.7.2.2):
    indexA = Clip3(0, 51, qp + aoff) selects alpha AND tc0, indexB
    selects beta."""
    idx = min(max(qp + aoff, 0), 51)
    idxb = min(max(qp + boff, 0), 51)
    alpha, beta = _ALPHA[idx], _BETA[idxb]
    if alpha == 0 or beta == 0:
        return
    if x is not None:
        mb_edge = x % 16 == 0
        bss = [
            _bs(info, (mby * 16 + seg * 4) // 4, (x - 1) // 4,
                (mby * 16 + seg * 4) // 4, x // 4, mb_edge)
            for seg in range(4)
        ]
        # contiguous equal-bS segments filter as ONE vector call
        for s0, s1, bs in _runs(bss):
            if bs == 0:
                continue
            rows = slice(mby * 16 + s0 * 4, mby * 16 + s1 * 4)
            p = [y[rows, x - 1 - k] for k in range(4)]
            q = [y[rows, x + k] for k in range(4)]
            _filter_segment(p, q, bs, alpha, beta,
                            _TC0[bs - 1][idx] if bs < 4 else 0,
                            chroma=False)
    else:
        mb_edge = yrow % 16 == 0
        bss = [
            _bs(info, (yrow - 1) // 4, (mbx * 16 + seg * 4) // 4,
                yrow // 4, (mbx * 16 + seg * 4) // 4, mb_edge)
            for seg in range(4)
        ]
        for s0, s1, bs in _runs(bss):
            if bs == 0:
                continue
            cols = slice(mbx * 16 + s0 * 4, mbx * 16 + s1 * 4)
            p = [y[yrow - 1 - k, cols] for k in range(4)]
            q = [y[yrow + k, cols] for k in range(4)]
            _filter_segment(p, q, bs, alpha, beta,
                            _TC0[bs - 1][idx] if bs < 4 else 0,
                            chroma=False)


def _edge_chroma(c: np.ndarray, info: dict, qpc: int, x: int | None,
                 yrow: int | None, mby: int, mbx: int,
                 aoff: int = 0, boff: int = 0) -> None:
    """Filter one chroma MB edge (chroma coordinates; 4:2:0). bS is
    taken from the corresponding luma segments (luma pos = 2x)."""
    idx = min(max(qpc + aoff, 0), 51)
    idxb = min(max(qpc + boff, 0), 51)
    alpha, beta = _ALPHA[idx], _BETA[idxb]
    if alpha == 0 or beta == 0:
        return
    if x is not None:
        mb_edge = (2 * x) % 16 == 0
        bss = [
            _bs(info, (2 * (mby * 8 + seg * 2)) // 4, (2 * x - 1) // 4,
                (2 * (mby * 8 + seg * 2)) // 4, (2 * x) // 4, mb_edge)
            for seg in range(4)
        ]
        for s0, s1, bs in _runs(bss):
            if bs == 0:
                continue
            rows = slice(mby * 8 + s0 * 2, mby * 8 + s1 * 2)
            # chroma never reads p2/q2 in the normal path, but the
            # shared helper indexes them — alias p1/q1 (unused)
            p = [c[rows, x - 1 - k] for k in range(2)] + [None]
            q = [c[rows, x + k] for k in range(2)] + [None]
            p[2], q[2] = p[1], q[1]
            _filter_segment(p, q, bs, alpha, beta,
                            _TC0[bs - 1][idx] if bs < 4 else 0,
                            chroma=True)
    else:
        mb_edge = (2 * yrow) % 16 == 0
        bss = [
            _bs(info, (2 * yrow - 1) // 4,
                (2 * (mbx * 8 + seg * 2)) // 4,
                (2 * yrow) // 4,
                (2 * (mbx * 8 + seg * 2)) // 4, mb_edge)
            for seg in range(4)
        ]
        for s0, s1, bs in _runs(bss):
            if bs == 0:
                continue
            cols = slice(mbx * 8 + s0 * 2, mbx * 8 + s1 * 2)
            p = [c[yrow - 1 - k, cols] for k in range(2)] + [None]
            q = [c[yrow + k, cols] for k in range(2)] + [None]
            p[2], q[2] = p[1], q[1]
            _filter_segment(p, q, bs, alpha, beta,
                            _TC0[bs - 1][idx] if bs < 4 else 0,
                            chroma=True)


def deblock_frame(
    y: np.ndarray,
    cb: np.ndarray,
    cr: np.ndarray,
    qp: int,
    info: dict | None = None,
    qpc: int | None = None,
    alpha_off: int = 0,
    beta_off: int = 0,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Apply the 8.7 deblocking filter to a reconstructed frame and
    return new planes. ``info`` from make_block_info /
    make_block_info_b (None = all-intra). ``qp`` is the (single)
    slice QP — this codec family writes one QP per slice and no
    mb_qp_delta in inter frames, so the edge-average QP equals it.
    ``qpc`` overrides the chroma QP (defaults to the Table 8-15
    mapping used by the codec). ``alpha_off`` / ``beta_off`` are the
    FULL slice filter offsets (slice_alpha_c0_offset_div2 * 2 /
    slice_beta_offset_div2 * 2, 8.7.2.2)."""
    from neuroimaging_data_pipeline_spark.multimodal.h264_intra import (
        _chroma_qp,
    )

    h, w = y.shape
    if h % 16 or w % 16:
        raise ValueError("deblocking needs whole macroblocks")
    mbh, mbw = h // 16, w // 16
    if info is None:
        info = make_block_info(mbw, mbh)
    if qpc is None:
        qpc = _chroma_qp(qp)
    # fast path: a fully-inter frame with no residuals and a uniform
    # motion field (same list usage, pictures and vectors on every
    # block) derives bS 0 on every edge — nothing to filter (the
    # common shape for skip-dominated P frames)
    if (
        info["inter"].all()
        and not info["nnz"].any()
        and (info["nmv"] == info["nmv"].flat[0]).all()
        and (info["pics"] == info["pics"][0, 0]).all()
        and (info["mvs"] == info["mvs"][0, 0]).all()
    ):
        return (
            np.asarray(y, np.uint8).copy(),
            np.asarray(cb, np.uint8).copy(),
            np.asarray(cr, np.uint8).copy(),
        )
    y = y.astype(np.int64).copy()
    cb = cb.astype(np.int64).copy()
    cr = cr.astype(np.int64).copy()
    for mby in range(mbh):
        for mbx in range(mbw):
            # vertical edges, left to right
            for ex in range(4):
                x = mbx * 16 + ex * 4
                if x == 0:
                    continue  # picture edge is never filtered
                _edge_luma(y, info, qp, x, None, mby, mbx,
                           alpha_off, beta_off)
            for ex in (0, 2):  # chroma vertical edges (luma 0 and 8)
                cx = mbx * 8 + ex * 2
                if cx == 0:
                    continue
                _edge_chroma(cb, info, qpc, cx, None, mby, mbx,
                             alpha_off, beta_off)
                _edge_chroma(cr, info, qpc, cx, None, mby, mbx,
                             alpha_off, beta_off)
            # horizontal edges, top to bottom
            for ey in range(4):
                yy = mby * 16 + ey * 4
                if yy == 0:
                    continue
                _edge_luma(y, info, qp, None, yy, mby, mbx,
                           alpha_off, beta_off)
            for ey in (0, 2):
                cyr = mby * 8 + ey * 2
                if cyr == 0:
                    continue
                _edge_chroma(cb, info, qpc, None, cyr, mby, mbx,
                             alpha_off, beta_off)
                _edge_chroma(cr, info, qpc, None, cyr, mby, mbx,
                             alpha_off, beta_off)
    return (
        y.astype(np.uint8),
        cb.astype(np.uint8),
        cr.astype(np.uint8),
    )


# ---------------------------------------------------------------------------
# Spark surface (m42): oracle-exact deblocked decode
# ---------------------------------------------------------------------------
#
# Fixture design notes (the tension this resolves: the filter only
# acts at QPs where coding is lossy, but the oracle needs exact
# plateaus): at QP 28 the Intra_16x16 DC path of this codec is exact
# for EVERY per-MB-constant luma value and every EVEN chroma value
# (probed exhaustively; pinned in tests), while alpha/beta at index
# 28 are 20/7 — so a 1-MB-wide stacked frame gives closed-form
# filtered output: only the horizontal MB edges act, on constant
# plateaus, with the edge classes (strong 3-tap run, weak p0-only,
# unfiltered) selected by the formula deltas.


def _m42_values(d: int) -> tuple[list[int], list[int], list[int]]:
    """Per-MB plateau values for doc d: 4 stacked MBs, luma any
    value, chroma even (the QP-28 exact lattice); edge deltas span
    all three filter classes (|D| < 7 strong, 7..19 weak p0-only,
    >= 20 untouched at alpha 20)."""
    v = [108 + d % 40]
    cb = [128 + 2 * (d % 20 - 10)]
    cr = [120 + 2 * (d % 24 - 12)]
    for e in range(3):
        v.append(v[-1] + (d * 7 + e * 11) % 45 - 22)
        cb.append(cb[-1] + 2 * ((d * 5 + e * 13) % 23 - 11))
        cr.append(cr[-1] + 2 * ((d * 3 + e * 17) % 23 - 11))
    return v, cb, cr


def synthesize_h264_deblock_clips(docs, id_col: str = "doc_id"):
    """Per-document 2-frame 16x64 sequence with IN-LOOP DEBLOCKING
    (disable_deblocking_filter_idc 0): a QP-28 Intra_16x16 IDR of 4
    stacked per-MB-constant plateaus (exact at QP 28 — see module
    notes), then a P frame of explicit zero-MV zero-residual
    macroblocks predicting from the FILTERED anchor (in-loop
    semantics: the reference is the deblocked frame; every P edge
    derives bS 0, so frame 2 must equal the filtered anchor
    bit-for-bit)."""
    from neuroimaging_data_pipeline_spark.multimodal.h264_inter import (
        encode_h264_p_gop,
    )
    from neuroimaging_data_pipeline_spark.multimodal.h264_intra import (
        encode_h264_i16x16,
    )

    out_schema = f"{id_col} long, content binary"

    def build(i):
        v, cbv, crv = _m42_values(i)
        y = np.zeros((64, 16), np.uint8)
        cb = np.zeros((32, 8), np.uint8)
        cr = np.zeros((32, 8), np.uint8)
        for m in range(4):
            y[m * 16 : m * 16 + 16] = v[m]
            cb[m * 8 : m * 8 + 8] = cbv[m]
            cr[m * 8 : m * 8 + 8] = crv[m]
        _, ry, rcb, rcr = encode_h264_i16x16(y, cb, cr, qp=28)
        if not (np.array_equal(ry, y)
                and np.array_equal(rcb, cb)
                and np.array_equal(rcr, cr)):
            raise AssertionError(
                f"doc {i}: QP-28 plateau lattice not exact"
            )
        target2 = deblock_frame(ry, rcb, rcr, 28)
        specs = [("16x16", [(0, 0)])] * 4
        stream, recons = encode_h264_p_gop(
            [(y, cb, cr), target2], [specs], qp=28,
            deblock=True,
        )
        for a, b in zip(recons[1], target2):
            if not np.array_equal(a, b):
                raise AssertionError(
                    f"doc {i}: P frame != filtered anchor"
                )
        yield i, stream

    return map_rows(docs, build, out_schema, cols=(id_col,))


def h264_deblock_features(
    media,
    id_col: str = "doc_id",
    content_col: str = "content",
):
    """Decode the deblocked sequences and emit plane sums of the
    FILTERED anchor plus the P==filtered-anchor in-loop invariant."""
    from neuroimaging_data_pipeline_spark.multimodal.h264_inter import (
        decode_h264_sequence,
    )

    out_schema = (
        f"{id_col} long, n_frames int, width int, height int,"
        " sum_y long, sum_cb long, sum_cr long,"
        " p_equals_filtered_idr boolean"
    )

    def feat(i, content):
        frames = decode_h264_sequence(content)
        y, cb, cr = frames[0]
        same = all(
            np.array_equal(a, b)
            for a, b in zip(frames[0], frames[1])
        )
        yield (i, len(frames), int(y.shape[1]),
               int(y.shape[0]), int(y.sum()), int(cb.sum()),
               int(cr.sum()), bool(same))

    return map_rows(media, feat, out_schema, cols=(id_col, content_col))


# ---------------------------------------------------------------------------
# Spark surface (m43): B-slice deblocked decode, oracle-exact
# ---------------------------------------------------------------------------
#
# Fixture design (complement of m42): the ANCHOR plateaus are chosen
# with every adjacent delta >= alpha(idx 28) = 20, so the in-loop
# filter RUNS on every frame but leaves the anchor untouched — the
# anchor stays the exact plateau lattice. The B frame then REORDERS
# the plateaus via per-MB motion (vertical shifts against two
# reference pictures), creating fresh MB edges whose deltas sit in
# the ACTIVE range, with bS 1 derived purely from the 8.7.2.1
# B rules: edge 16 via "different number of motion vectors" (l0-only
# vs bi), edge 48 via "different reference pictures" (l1-only from
# the future picture vs l0-only from the past picture). A wrong B bS
# derivation (bS 0) leaves those edges unfiltered and shifts the
# emitted checksums. All closed forms below are re-derived
# independently in the oracle SQL (M43_SQL).


def _clip3i(lo: int, hi: int, v: int) -> int:
    return min(hi, max(lo, v))


def _m43_values(d: int) -> dict:
    """Plateau/delta parameters for doc d (see constraints in the
    section comment): anchor-adjacent deltas all >= 20 (inactive),
    B-edge deltas d1 in +-[1,6] and d2 in -[7,19] (active)."""
    v0 = 80 + d % 30
    e0 = 26 + (d * 7) % 5
    d1 = (1 if d % 2 == 0 else -1) * (1 + (d * 5) % 6)
    d2m = 7 + (d * 3) % 13
    v1 = v0 + e0
    v2 = v0 + d1
    v3 = v1 + d2m
    cb0 = 120 + 2 * (d % 12)
    ec0 = 26 + 2 * ((d * 3) % 3)
    dc1 = (1 if d % 4 < 2 else -1) * (2 + 2 * ((d * 5) % 3))
    dc2m = 8 + 2 * ((d * 7) % 6)
    cb1 = cb0 + ec0
    cb2 = cb0 + dc1
    cb3 = cb1 + dc2m
    cr0 = 116 + 2 * (d % 14)
    er0 = 26 + 2 * ((d * 7) % 3)
    dr1 = (1 if d % 8 < 4 else -1) * (2 + 2 * ((d * 11) % 3))
    dr2m = 8 + 2 * ((d * 5) % 6)
    cr1 = cr0 + er0
    cr2 = cr0 + dr1
    cr3 = cr1 + dr2m
    return {
        "v": (v0, v1, v2, v3), "d1": d1, "d2": v1 - v3,
        "cb": (cb0, cb1, cb2, cb3), "dc1": cb2 - cb0,
        "dc2": cb1 - cb3,
        "cr": (cr0, cr1, cr2, cr3), "dr1": cr2 - cr0,
        "dr2": cr1 - cr3,
    }


def _m43_luma_adj(d: int) -> tuple[int, int]:
    """(sum adjustment, weighted-sum adjustment) of the B frame's
    two ACTIVE bS-1 luma edges, normal filter at indexA 28
    (alpha 20, beta 7, tc0 1; constants each side => tc 3)."""
    p = _m43_values(d)
    sa = wa = 0
    for dd, wp1, wq1 in ((p["d1"], 15, 18), (p["d2"], 47, 50)):
        dv = _clip3i(-3, 3, (3 * dd + 4) >> 3)
        a1 = _clip3i(-1, 1, ((dd + 1) >> 1) >> 1)
        b1 = _clip3i(-1, 1, (((dd + 1) >> 1) - dd) >> 1)
        sa += a1 + b1
        wa += wp1 * a1 + wq1 * b1 - dv
    return sa, wa


def synthesize_h264_bdeblock_clips(docs, id_col: str = "doc_id"):
    """Per-document 3-frame 16x64 POC-type-0 B sequence with IN-LOOP
    DEBLOCKING: a QP-28 plateau IDR (poc 0, anchor deltas all
    inactive so the filtered anchor == the plateaus), an all-skip
    P frame (poc 8, bS 0 everywhere, equals the filtered anchor
    bit-for-bit), and a B frame (poc 4) whose four macroblocks
    REORDER the anchor plateaus via per-MB motion with mixed list
    usage — l0 / bi / l1 / l0-shifted — so the 8.7.2.1 B
    boundary-strength rules fire on real edges (see section
    comment). The builder asserts the closed forms."""
    from neuroimaging_data_pipeline_spark.multimodal.h264_bslice import (
        encode_h264_b_sequence,
    )
    from neuroimaging_data_pipeline_spark.multimodal.h264_intra import (
        encode_h264_i16x16,
    )

    out_schema = f"{id_col} long, content binary"

    def build(i):
        p = _m43_values(i)
        y = np.zeros((64, 16), np.uint8)
        cb = np.zeros((32, 8), np.uint8)
        cr = np.zeros((32, 8), np.uint8)
        for m in range(4):
            y[m * 16 : m * 16 + 16] = p["v"][m]
            cb[m * 8 : m * 8 + 8] = p["cb"][m]
            cr[m * 8 : m * 8 + 8] = p["cr"][m]
        _, ry, rcb, rcr = encode_h264_i16x16(y, cb, cr, qp=28)
        if not (np.array_equal(ry, y)
                and np.array_equal(rcb, cb)
                and np.array_equal(rcr, cr)):
            raise AssertionError(
                f"doc {i}: QP-28 plateau lattice not exact")
        # B target: the reordered plateaus (zero residual)
        yb = np.zeros((64, 16), np.uint8)
        cbb = np.zeros((32, 8), np.uint8)
        crb = np.zeros((32, 8), np.uint8)
        order = (0, 2, 3, 1)
        for m, src in enumerate(order):
            yb[m * 16 : m * 16 + 16] = p["v"][src]
            cbb[m * 8 : m * 8 + 8] = p["cb"][src]
            crb[m * 8 : m * 8 + 8] = p["cr"][src]
        specs_b = [
            ("16x16", [("l0", (0, 0))]),
            ("16x16", [("bi", (0, 64), (0, 64))]),
            ("16x16", [("l1", (0, 64))]),
            ("16x16", [("l0", (0, -128))]),
        ]
        stream, recons, pocs = encode_h264_b_sequence(
            [
                ("idr", (y, cb, cr)),
                ("p", (y, cb, cr), [("skip",)] * 4, 8),
                ("b", (yb, cbb, crb), specs_b, 4),
            ],
            qp=28, deblock=True,
        )
        # in-loop invariants the oracle rides on
        for a, b in zip(recons[0], (y, cb, cr)):
            if not np.array_equal(a, b):
                raise AssertionError(
                    f"doc {i}: anchor not plateau-exact")
        for a, b in zip(recons[1], recons[0]):
            if not np.array_equal(a, b):
                raise AssertionError(
                    f"doc {i}: P frame != filtered anchor")
        sadj, _ = _m43_luma_adj(i)
        want_sum = 256 * sum(p["v"]) + 16 * sadj
        if int(recons[2][0].sum()) != want_sum:
            raise AssertionError(
                f"doc {i}: B luma closed form mismatch")
        yield i, stream

    return map_rows(docs, build, out_schema, cols=(id_col,))


def h264_bdeblock_features(
    media,
    id_col: str = "doc_id",
    content_col: str = "content",
):
    """Decode the B-deblocked sequences and emit the B frame's plane
    sum + position-weighted checksums (weight = row index + 1, so a
    mis-derived bS that moves or drops an edge adjustment shifts the
    value), plus the P == filtered-anchor in-loop invariant."""
    from neuroimaging_data_pipeline_spark.multimodal.h264_bslice import (
        decode_h264_b_stream,
    )

    out_schema = (
        f"{id_col} long, n_frames int, width int, height int,"
        " sum_y_b long, wsum_y_b long, wsum_cb_b long, wsum_cr_b long,"
        " p_equals_idr boolean"
    )

    def feat(i, content):
        frames, pocs = decode_h264_b_stream(content)
        yb, cbb, crb = frames[2]
        rw = np.arange(1, yb.shape[0] + 1, dtype=np.int64)
        cw = np.arange(1, cbb.shape[0] + 1, dtype=np.int64)
        same = all(
            np.array_equal(a, b)
            for a, b in zip(frames[0], frames[1])
        )
        yield (i, len(frames), int(yb.shape[1]),
               int(yb.shape[0]), int(yb.sum()),
               int((rw @ yb.astype(np.int64)).sum()),
               int((cw @ cbb.astype(np.int64)).sum()),
               int((cw @ crb.astype(np.int64)).sum()),
               bool(same))

    return map_rows(media, feat, out_schema, cols=(id_col, content_col))
