"""LZMA decoder (.lzma ALONE format), stdlib-only and from scratch —
the deepest entropy coder in the repo: a binary RANGE CODER with
adaptive 11-bit probabilities driving LZ77 with a 4-slot repeated-
distance cache. Like the DEFLATE decoder (sources/inflate.py), the
stdlib (lzma, i.e. real liblzma) is the REFERENCE WRITER: every
stream here is produced by it at assorted presets/filters, and this
decoder must reproduce the bytes exactly — a conformance pin far
stronger than a self-round-trip.

Implemented per the public LZMA specification:

- range decoder: 5-byte init (leading zero byte enforced), 2^24
  normalization, adaptive bit decode with the (2048-p)>>5 / p>>5
  update rule, direct (uniform) bits, bit trees and REVERSE bit
  trees;
- the full probability-context layout: IsMatch[state][posState],
  IsRep/IsRepG0/G1/G2[state], IsRep0Long[state][posState], 4
  length-class PosSlot trees, the shared SpecPos reverse trees for
  slots 4-13, the 4-bit Align tree, two length coders
  (choice/choice2 + per-posState low/mid trees + high tree), and the
  (lc, lp)-contexted literal coder incl. the MATCHED-literal path
  that tracks the byte at rep0 until the match bit diverges;
- the 12-state state machine and the rep0..rep3 distance-cache
  rotations;
- ALONE container: props byte ((pb*5+lp)*9+lc, validated), LE32
  dictionary size, LE64 uncompressed size with the unknown-size
  (all-0xFF) form, the end-of-stream marker (dist == 2^32-1), and
  the window-bound check (dist > bytes produced -> corrupt).

The Spark surface (m31) ships one .lzma member per document written
by stdlib at id-cycled presets; the oracle recomputes length + md5 of
the decoded text, so ANY divergence from liblzma anywhere in the
coder breaks the hash match.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame

from neuroimaging_data_pipeline_spark.functions.rowmap import map_rows

_TOP = 1 << 24
_BIT_MODEL_TOTAL = 1 << 11
_INIT_PROB = _BIT_MODEL_TOTAL // 2


class _RangeDecoder:
    def __init__(self, buf: bytes, pos: int) -> None:
        if buf[pos] != 0:
            raise ValueError("LZMA stream must start with a zero byte")
        self.buf = buf
        self.code = int.from_bytes(buf[pos + 1 : pos + 5], "big")
        self.range = 0xFFFFFFFF
        self.pos = pos + 5

    def _norm(self) -> None:
        if self.range < _TOP:
            if self.pos >= len(self.buf):
                raise ValueError("LZMA stream truncated")
            self.range = (self.range << 8) & 0xFFFFFFFF
            self.code = ((self.code << 8) | self.buf[self.pos]) & 0xFFFFFFFF
            self.pos += 1

    def bit(self, probs: list[int], i: int) -> int:
        p = probs[i]
        bound = (self.range >> 11) * p
        if self.code < bound:
            self.range = bound
            probs[i] = p + ((_BIT_MODEL_TOTAL - p) >> 5)
            self._norm()
            return 0
        self.range -= bound
        self.code -= bound
        probs[i] = p - (p >> 5)
        self._norm()
        return 1

    def direct_bits(self, n: int) -> int:
        res = 0
        for _ in range(n):
            self.range >>= 1
            self.code = (self.code - self.range) & 0xFFFFFFFF
            t = 0 - (self.code >> 31)
            self.code = (self.code + (self.range & t)) & 0xFFFFFFFF
            if self.code == self.range:
                raise ValueError("range coder corruption in direct bits")
            self._norm()
            res = (res << 1) + ((t + 1) & 1)
        return res

    def tree(self, probs: list[int], nbits: int) -> int:
        m = 1
        for _ in range(nbits):
            m = (m << 1) + self.bit(probs, m)
        return m - (1 << nbits)

    def rtree(self, probs: list[int], base: int, nbits: int) -> int:
        m = 1
        sym = 0
        for i in range(nbits):
            b = self.bit(probs, base + m)
            m = (m << 1) + b
            sym |= b << i
        return sym

    def finished(self) -> bool:
        return self.code == 0


class _LenDecoder:
    def __init__(self) -> None:
        self.choice = [_INIT_PROB] * 2
        self.low = [[_INIT_PROB] * 8 for _ in range(16)]
        self.mid = [[_INIT_PROB] * 8 for _ in range(16)]
        self.high = [_INIT_PROB] * 256

    def decode(self, rc: _RangeDecoder, pos_state: int) -> int:
        if not rc.bit(self.choice, 0):
            return 2 + rc.tree(self.low[pos_state], 3)
        if not rc.bit(self.choice, 1):
            return 10 + rc.tree(self.mid[pos_state], 3)
        return 18 + rc.tree(self.high, 8)


class Lzma1Decoder:
    """Raw LZMA1 decode with PERSISTENT window / probability state —
    the shape LZMA2 chunking needs (sources/xz.py): a chunk may keep
    the dictionary, the probability contexts and the state machine
    from the previous chunk, reset any of them, or change props.
    ``lzma_decode_raw`` below wraps one-shot use (the ALONE format).
    """

    def __init__(self, lc: int, lp: int, pb: int) -> None:
        self.set_props(lc, lp, pb)
        self.reset_state()

    def set_props(self, lc: int, lp: int, pb: int) -> None:
        self.lc, self.lp, self.pb = lc, lp, pb
        self.pos_mask = (1 << pb) - 1
        self.lit_pos_mask = (1 << lp) - 1

    def reset_state(self) -> None:
        self.is_match = [[_INIT_PROB] * 16 for _ in range(12)]
        self.is_rep = [_INIT_PROB] * 12
        self.is_rep_g0 = [_INIT_PROB] * 12
        self.is_rep_g1 = [_INIT_PROB] * 12
        self.is_rep_g2 = [_INIT_PROB] * 12
        self.is_rep0_long = [[_INIT_PROB] * 16 for _ in range(12)]
        self.pos_slot = [[_INIT_PROB] * 64 for _ in range(4)]
        self.spec_pos = [_INIT_PROB] * 115
        self.align = [_INIT_PROB] * 16
        self.len_dec = _LenDecoder()
        self.rep_len_dec = _LenDecoder()
        self.literal = [
            [_INIT_PROB] * 0x300 for _ in range(1 << (self.lc + self.lp))
        ]
        self.state = 0
        self.rep0 = self.rep1 = self.rep2 = self.rep3 = 0

    def decode(
        self,
        rc: _RangeDecoder,
        out: bytearray,
        out_size: int | None,
        dict_start: int = 0,
    ) -> None:
        """Decode into ``out`` (which may already hold window bytes
        from earlier chunks) until ``len(out) - dict_start`` reaches
        ``out_size``, or to the EOS marker when ``out_size`` is None
        ... positions (pos_state / literal context) count from
        dict_start=0 semantics: LZMA2 positions continue across
        chunks, so the caller passes dict_start=0 and sizes in
        absolute terms; the ALONE wrapper starts empty."""
        lc, lp = self.lc, self.lp
        target = None if out_size is None else len(out) + out_size
        while target is None or len(out) < target:
            pos_state = len(out) & self.pos_mask
            if not rc.bit(self.is_match[self.state], pos_state):
                prev = out[-1] if out else 0
                lit_state = (
                    ((len(out) & self.lit_pos_mask) << lc)
                    + (prev >> (8 - lc))
                    if lc or lp
                    else 0
                )
                probs = self.literal[lit_state]
                if self.state >= 7:
                    match_byte = out[len(out) - self.rep0 - 1]
                    sym = 1
                    while sym < 0x100:
                        match_bit = (match_byte >> 7) & 1
                        match_byte = (match_byte << 1) & 0xFF
                        b = rc.bit(probs, ((1 + match_bit) << 8) + sym)
                        sym = (sym << 1) | b
                        if match_bit != b:
                            while sym < 0x100:
                                sym = (sym << 1) | rc.bit(probs, sym)
                            break
                else:
                    sym = 1
                    while sym < 0x100:
                        sym = (sym << 1) | rc.bit(probs, sym)
                out.append(sym & 0xFF)
                s = self.state
                self.state = 0 if s < 4 else (s - 3 if s < 10 else s - 6)
                continue
            if rc.bit(self.is_rep, self.state):
                if not out:
                    raise ValueError("rep match with empty window")
                if not rc.bit(self.is_rep_g0, self.state):
                    if not rc.bit(
                        self.is_rep0_long[self.state], pos_state
                    ):
                        self.state = 9 if self.state < 7 else 11
                        out.append(out[len(out) - self.rep0 - 1])
                        continue
                else:
                    if not rc.bit(self.is_rep_g1, self.state):
                        dist = self.rep1
                    else:
                        if not rc.bit(self.is_rep_g2, self.state):
                            dist = self.rep2
                        else:
                            dist = self.rep3
                            self.rep3 = self.rep2
                        self.rep2 = self.rep1
                    self.rep1 = self.rep0
                    self.rep0 = dist
                length = self.rep_len_dec.decode(rc, pos_state)
                self.state = 8 if self.state < 7 else 11
            else:
                self.rep3, self.rep2, self.rep1 = (
                    self.rep2, self.rep1, self.rep0,
                )
                length = self.len_dec.decode(rc, pos_state)
                self.state = 7 if self.state < 7 else 10
                len_state = min(length - 2, 3)
                slot = rc.tree(self.pos_slot[len_state], 6)
                if slot < 4:
                    self.rep0 = slot
                else:
                    n_direct = (slot >> 1) - 1
                    self.rep0 = (2 | (slot & 1)) << n_direct
                    if slot < 14:
                        self.rep0 += rc.rtree(
                            self.spec_pos, self.rep0 - slot - 1, n_direct
                        )
                    else:
                        self.rep0 += rc.direct_bits(n_direct - 4) << 4
                        self.rep0 += rc.rtree(self.align, 0, 4)
                if self.rep0 == 0xFFFFFFFF:
                    if not rc.finished():
                        raise ValueError("EOS marker with nonzero code")
                    if target is not None and len(out) != target:
                        raise ValueError("EOS before declared size")
                    return
            if self.rep0 >= len(out):
                raise ValueError("LZMA distance beyond output start")
            start = len(out) - self.rep0 - 1
            for k in range(length):
                out.append(out[start + k])
        # known-size decode: the loop tests the target only at the top,
        # so a match can land past it — a corrupt stream must raise
        # rather than silently return MORE than the declared size
        # (ADVICE r7 #4; the LZMA2 chunk caller has its own size check,
        # the ALONE wrapper relies on this one)
        if target is not None and len(out) != target:
            raise ValueError(
                f"decoded {len(out) - (target - out_size)} bytes past "
                f"declared uncompressed size {out_size}"
            )


def lzma_decode_raw(
    buf: bytes,
    pos: int,
    lc: int,
    lp: int,
    pb: int,
    out_size: int | None,
) -> tuple[bytes, int]:
    """Decode one raw LZMA1 stream starting at byte ``pos``.
    ``out_size=None`` decodes to the end-of-stream marker. Returns
    (bytes, offset past the stream)."""
    rc = _RangeDecoder(buf, pos)
    dec = Lzma1Decoder(lc, lp, pb)
    out = bytearray()
    dec.decode(rc, out, out_size)
    return bytes(out), rc.pos


def parse_lzma_alone(buf: bytes) -> dict:
    """.lzma (LZMA_Alone) member: props byte, LE32 dict size, LE64
    uncompressed size (all-0xFF = unknown -> end marker terminates),
    then the raw stream."""
    buf = bytes(buf)
    props = buf[0]
    if props >= 9 * 5 * 5:
        raise ValueError(f"invalid LZMA props byte {props}")
    lc = props % 9
    lp = (props // 9) % 5
    pb = props // 45
    dict_size = int.from_bytes(buf[1:5], "little")
    usize = int.from_bytes(buf[5:13], "little")
    out_size = None if usize == 0xFFFFFFFFFFFFFFFF else usize
    content, end = lzma_decode_raw(buf, 13, lc, lp, pb, out_size)
    return {
        "lc": lc,
        "lp": lp,
        "pb": pb,
        "dict_size": dict_size,
        "size_known": out_size is not None,
        "content": content,
        "end": end,
    }


# --- Spark surface ----------------------------------------------------------------------


def synthesize_lzma_docs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document .lzma member WRITTEN BY STDLIB liblzma at
    id-cycled presets (0/1/6/9e) and, for id%5==0, non-default
    lc/lp/pb filters — the reference writer whose output this
    decoder must reproduce bit-exactly. A repetitive tail for
    id%3==0 exercises long matches and the rep-distance cache."""
    import lzma

    out_schema = f"{id_col} long, content binary"

    def build(i, text):
        body = ("" if text is None else str(text)).encode()
        if i % 3 == 0:
            body += b" xz" * (20 + i % 9)
        # dict_size pinned small: liblzma otherwise
        # allocates the preset's FULL dictionary (64 MiB at
        # preset 9) per compress() call — ~100x the work for
        # KB documents, with zero effect on coverage (the
        # decoder reads the header's dict size either way)
        presets = [0, 1, 6, 9 | lzma.PRESET_EXTREME]
        if i % 5 == 0:
            filters = [
                {"id": lzma.FILTER_LZMA1, "preset": 6,
                 "lc": 0, "lp": 2, "pb": 1,
                 "dict_size": 1 << 16}
            ]
        else:
            filters = [
                {"id": lzma.FILTER_LZMA1,
                 "preset": presets[i % 4],
                 "dict_size": 1 << 16}
            ]
        yield i, lzma.compress(
            body, format=lzma.FORMAT_ALONE, filters=filters
        )

    return map_rows(docs, build, out_schema, cols=(id_col, text_col))


def lzma_documents(
    media: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "content",
) -> DataFrame:
    out_schema = (
        f"{id_col} long, lc int, lp int, pb int, size_known boolean,"
        " content_len long, text_md5 string"
    )

    def feat(i, content):
        d = parse_lzma_alone(content)
        yield (
            i,
            d["lc"],
            d["lp"],
            d["pb"],
            d["size_known"],
            len(d["content"]),
            hashlib.md5(d["content"]).hexdigest(),
        )

    return map_rows(media, feat, out_schema, cols=(id_col, content_col))
