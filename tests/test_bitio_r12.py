"""Property fuzz for the codecs' shared bit-I/O kernel
(``multimodal/bitio.py``): every fast path (batched reads, zero-scan
Exp-Golomb and unary runs, the accumulator writer, LUT-first prefix
decode, canonical code construction) and H.264's find()-driven
emulation prevention is compared against a transcribed per-bit
reference model on random inputs.

The vectorized codec pass is only safe because outputs are
bit-identical — these pins make that property survive future edits
without needing the full oracle battery to catch a drift.
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from neuroimaging_data_pipeline_spark.multimodal.bitio import (
    BitReader,
    BitWriter,
    canonical_codes,
    canonical_table,
    prefix_table,
)
from neuroimaging_data_pipeline_spark.multimodal.h264 import (
    _ep_insert,
    _ep_remove,
)


# --- reference models (the pre-r12 per-bit forms, transcribed) -------------


def _ref_read_bits(data: bytes, reads: list[int]) -> list[int] | None:
    """Per-bit reader; None = ran dry (the fast reader must raise)."""
    out = []
    pos = 0
    for n in reads:
        v = 0
        for _ in range(n):
            if (pos >> 3) >= len(data):
                return None
            v = (v << 1) | ((data[pos >> 3] >> (7 - (pos & 7))) & 1)
            pos += 1
        out.append(v)
    return out


def _ref_write_bits(writes: list[tuple[int, int]]) -> bytes:
    bits: list[int] = []
    for v, n in writes:
        for k in range(n - 1, -1, -1):
            bits.append((v >> k) & 1)
    bits += [0] * (-len(bits) % 8)
    return bytes(
        int("".join(map(str, bits[i : i + 8])), 2)
        for i in range(0, len(bits), 8)
    )


def _ref_ep_insert(rbsp: bytes) -> bytes:
    out = bytearray()
    zeros = 0
    for b in rbsp:
        if zeros >= 2 and b <= 3:
            out.append(3)
            zeros = 0
        out.append(b)
        zeros = zeros + 1 if b == 0 else 0
    return bytes(out)


def _ref_ep_remove(nal: bytes) -> bytes:
    out = bytearray()
    zeros = 0
    i = 0
    while i < len(nal):
        b = nal[i]
        if zeros >= 2 and b == 3 and (i + 1 >= len(nal) or nal[i + 1] <= 3):
            zeros = 0
            i += 1
            continue
        out.append(b)
        zeros = zeros + 1 if b == 0 else 0
        i += 1
    return bytes(out)


# --- properties ------------------------------------------------------------


@settings(max_examples=300, deadline=None)
@given(
    data=st.binary(min_size=0, max_size=64),
    widths=st.lists(st.integers(0, 33), min_size=0, max_size=40),
)
def test_bitr_matches_per_bit_reference(data, widths):
    want = _ref_read_bits(data, widths)
    r = BitReader(data)
    if want is None:
        with pytest.raises(ValueError):
            for n in widths:
                r.u(n)
        return
    got = [r.u(n) for n in widths]
    assert got == want
    assert r.pos == sum(widths)


@settings(max_examples=300, deadline=None)
@given(
    writes=st.lists(
        st.tuples(st.integers(0, (1 << 33) - 1), st.integers(1, 33)),
        min_size=0, max_size=40,
    )
)
def test_bitw_matches_per_bit_reference(writes):
    w = BitWriter()
    for v, n in writes:
        w.u(v, n)
    w.align_zero()
    assert w.bytes_() == _ref_write_bits(writes)


@settings(max_examples=300, deadline=None)
@given(vals=st.lists(st.integers(0, 100_000), min_size=1, max_size=30))
def test_expgolomb_roundtrip(vals):
    w = BitWriter()
    for v in vals:
        w.ue(v)
    w.trailing()
    r = BitReader(w.bytes_())
    assert [r.ue() for _ in vals] == vals
    # signed twin
    w2 = BitWriter()
    signed = [v - 50_000 for v in vals]
    for v in signed:
        w2.se(v)
    w2.trailing()
    r2 = BitReader(w2.bytes_())
    assert [r2.se() for _ in signed] == signed


@settings(max_examples=400, deadline=None)
@given(data=st.binary(min_size=0, max_size=96))
def test_ep_insert_matches_reference_and_roundtrips(data):
    ins = _ep_insert(data)
    assert ins == _ref_ep_insert(data)
    assert _ep_remove(ins) == data


@settings(max_examples=400, deadline=None)
@given(data=st.binary(min_size=0, max_size=96))
def test_ep_remove_matches_reference(data):
    assert _ep_remove(data) == _ref_ep_remove(data)


@settings(max_examples=200, deadline=None)
@given(data=st.binary(min_size=0, max_size=64), seed=st.integers(0, 2**31))
def test_ep_zero_run_stress(data, seed):
    """Zero-run-heavy payloads (the emulation-prevention hot case)."""
    rng = np.random.default_rng(seed)
    buf = bytearray(data)
    for _ in range(min(8, len(buf))):
        i = int(rng.integers(0, max(1, len(buf))))
        buf[i : i + 1] = b"\x00" * int(rng.integers(1, 4))
    payload = bytes(buf)
    ins = _ep_insert(payload)
    assert ins == _ref_ep_insert(payload)
    assert _ep_remove(ins) == payload


def test_mp3_bitio_matches_reference():
    """Random field sequences round-trip and the writer's bytes match
    the bit-list reference; extend() preserves exact bit
    concatenation and nbits() counts every bit written."""
    rng = np.random.default_rng(7)
    for _ in range(200):
        writes = [
            (int(rng.integers(0, 1 << int(n))), int(n))
            for n in rng.integers(1, 25, size=int(rng.integers(1, 30)))
        ]
        w = BitWriter()
        for v, n in writes:
            w.u(v, n)
        assert w.nbits() == sum(n for _, n in writes)
        assert w.bytes_() == _ref_write_bits(writes)
        r = BitReader(w.bytes_())
        assert [r.u(n) for _, n in writes] == [
            v & ((1 << n) - 1) for v, n in writes
        ]
        # split at a random point and re-join via extend()
        cut = int(rng.integers(0, len(writes) + 1))
        wa, wb = BitWriter(), BitWriter()
        for v, n in writes[:cut]:
            wa.u(v, n)
        for v, n in writes[cut:]:
            wb.u(v, n)
        wa.extend(wb)
        assert wa.bytes_() == w.bytes_() and wa.nbits() == w.nbits()


def test_mp3_walk_code_matches_string_walk():
    """prefix() on the shipped MP3 tables equals the string walk."""
    from neuroimaging_data_pipeline_spark.multimodal.mp3l3 import (
        _DEC_BIG,
        _HUFF_BIG,
    )

    rng = np.random.default_rng(11)
    for t, (nx, lens, cods) in _HUFF_BIG.items():
        dmap = _DEC_BIG[t][1]
        idxs = rng.integers(0, len(lens), size=40)
        w = BitWriter()
        for i in idxs:
            w.u(int(cods[int(i)]), int(lens[int(i)]))
        w.u(0, 7)  # slack so the walk never runs dry mid-code
        r = BitReader(w.bytes_())
        for i in idxs:
            assert r.prefix(dmap) == int(i)


# --- unary runs, exhaustion, prefix codes, canonical construction ----------


def _ref_unary(data: bytes, count: int) -> list[tuple[int, int]] | None:
    """Per-bit unary reads: (zeros, position after the 1 bit) each;
    None = ran dry (the kernel must raise)."""
    out = []
    pos = 0
    for _ in range(count):
        q = 0
        while True:
            if (pos >> 3) >= len(data):
                return None
            bit = (data[pos >> 3] >> (7 - (pos & 7))) & 1
            pos += 1
            if bit:
                break
            q += 1
        out.append((q, pos))
    return out


@settings(max_examples=300, deadline=None)
@given(
    runs=st.lists(st.integers(0, 200), min_size=0, max_size=12),
    tail=st.binary(min_size=0, max_size=24),
    count=st.integers(1, 16),
)
def test_unary_matches_per_bit_reference(runs, tail, count):
    w = BitWriter()
    for q in runs:  # long zero runs cross the 64-bit scan window
        w.u(1, q + 1)
    data = w.bytes_() + tail
    want = _ref_unary(data, count)
    r = BitReader(data)
    if want is None:
        with pytest.raises(ValueError):
            for _ in range(count):
                r.unary()
        return
    for q, pos in want:
        assert r.unary() == q
        assert r.pos == pos


_TWO_CODES = prefix_table({(1, 1): "a", (3, 0): "b"})


@pytest.mark.parametrize(
    "read, mid",
    [
        (lambda r: r.u(1), ()),
        (lambda r: r.u(9), ((b"\x00", 0), (b"\xff", 3))),
        (lambda r: r.ue(), ((b"\x00", 0), (b"\x01", 0), (b"\x02", 0))),
        (lambda r: r.se(), ((b"\x00", 4), (b"\x03", 0))),
        (lambda r: r.unary(), ((b"\x00", 0), (b"\x80", 1))),
        (lambda r: r.prefix(_TWO_CODES), ((b"\x00", 6), (b"\x01", 6))),
    ],
    ids=["u1", "u9", "ue", "se", "unary", "prefix"],
)
def test_every_read_raises_valueerror_when_exhausted(read, mid):
    # an empty stream, a reader parked at the end, and elements that
    # start in the data but run past its end
    for data, pos in ((b"", 0), (b"\x80", 8), *mid):
        r = BitReader(data, pos)
        with pytest.raises(ValueError):
            read(r)


def _ref_prefix_walk(data: bytes, pos: int, codes: dict):
    """Per-bit tree walk: (symbol, next position), or None when the
    stream runs dry or no code of <= 32 bits matches."""
    v = 0
    for ln in range(1, 33):
        if (pos >> 3) >= len(data):
            return None
        v = (v << 1) | ((data[pos >> 3] >> (7 - (pos & 7))) & 1)
        pos += 1
        hit = codes.get((ln, v))
        if hit is not None:
            return hit, pos
    return None


def _codec_tables() -> dict[str, dict]:
    """Every H.264 CAVLC, MP3 and default JPEG decode table, as the
    ``{(length, code): symbol}`` map the kernel decodes with."""
    from neuroimaging_data_pipeline_spark.multimodal import h264_intra as hi
    from neuroimaging_data_pipeline_spark.multimodal import jpeg
    from neuroimaging_data_pipeline_spark.multimodal import mp3l3

    tables = {}
    for name, t in (("ct_n0", hi._CT_N0), ("ct_n2", hi._CT_N2),
                    ("ct_n4", hi._CT_N4), ("ct_cdc", hi._CT_CDC)):
        tables[f"h264_{name}"] = hi._CT_DEC[id(t)][0]
    for group, decs in (("tz4", hi._TZ4_DEC), ("tzc", hi._TZC_DEC),
                        ("run", hi._RUN_DEC)):
        for k, (codes, _) in decs.items():
            tables[f"h264_{group}_{k}"] = codes
    for t, (_, (codes, _)) in mp3l3._DEC_BIG.items():
        tables[f"mp3_big_{t}"] = codes
    tables["mp3_count1_a"] = mp3l3._DEC_C1A[0]
    for name, bits, vals in (
        ("dc", jpeg._DC_BITS, jpeg._DC_VALS),
        ("ac", jpeg._AC_BITS, jpeg._AC_VALS),
        ("prog_ac", jpeg._PROG_AC_BITS, jpeg._PROG_AC_VALS),
        ("dc12", jpeg._DC12_BITS, jpeg._DC12_VALS),
        ("ac12", jpeg._PROG_AC12_BITS, jpeg._PROG_AC12_VALS),
    ):
        tables[f"jpeg_{name}"] = canonical_table(bits, vals)[0]
    return tables


_TABLES = _codec_tables()


@pytest.mark.parametrize("name", sorted(_TABLES))
def test_prefix_matches_tree_walk_on_codec_tables(name):
    codes = _TABLES[name]
    dtab = prefix_table(codes)
    rng = np.random.default_rng(sum(map(ord, name)))
    keys = list(codes)
    # valid symbol streams, cut at random points
    for _ in range(20):
        picks = [keys[int(i)] for i in rng.integers(0, len(keys), 30)]
        w = BitWriter()
        for ln, c in picks:
            w.u(c, ln)
        data = w.bytes_()[: int(rng.integers(0, w.nbits() // 8 + 2))]
        r = BitReader(data)
        pos = 0
        while True:
            want = _ref_prefix_walk(data, pos, codes)
            if want is None:
                with pytest.raises(ValueError):
                    r.prefix(dtab)
                break
            assert r.prefix(dtab) == want[0]
            pos = want[1]
            assert r.pos == pos
    # random bytes, where incomplete tables also meet invalid codes
    for _ in range(40):
        data = bytes(rng.integers(0, 256, int(rng.integers(0, 12)),
                                  dtype=np.uint8))
        for start in range(min(len(data) * 8, 16)):
            want = _ref_prefix_walk(data, start, codes)
            r = BitReader(data, start)
            if want is None:
                with pytest.raises(ValueError):
                    r.prefix(dtab)
            else:
                assert (r.prefix(dtab), r.pos) == want


def test_canonical_codes_matches_jpeg_annex_k_and_rejects_bad_tables():
    from neuroimaging_data_pipeline_spark.multimodal import jpeg

    dc = canonical_codes(jpeg._DC_BITS, jpeg._DC_VALS)
    # T.81 Table K.3: category 0 -> 00, 5 -> 110, 11 -> 111111110
    assert dc[0] == (0b00, 2) and dc[5] == (0b110, 3)
    assert dc[11] == (0b111111110, 9)
    ac = canonical_codes(jpeg._AC_BITS, jpeg._AC_VALS)
    assert ac[0x00] == (0b1010, 4) and ac[0xF0] == (0b11111111001, 11)
    with pytest.raises(ValueError, match="do not match"):
        canonical_codes([0, 2, 1], [1, 2])  # short symbol list
    with pytest.raises(ValueError, match="do not match"):
        canonical_codes([1], [1, 2])  # DHT counts short of the values
    with pytest.raises(ValueError, match="over-subscribed"):
        canonical_codes([3], [0, 1, 2])  # three 1-bit codes
    with pytest.raises(ValueError, match="over-subscribed"):
        canonical_codes([1, 1, 3], [0, 1, 2, 3, 4])
    # a complete code is not over-subscribed
    assert len(canonical_codes([1, 1, 2], [0, 1, 2, 3])) == 4
