"""bzip2 decoder, stdlib-only and from scratch — the third big
corpus container next to gzip and xz (Wikipedia dumps and many
archive mirrors ship ``.jsonl.bz2`` / ``.xml.bz2``), with stdlib
``bz2`` (libbzip2) and the ``bzip2`` CLI as CONFORMANCE WRITERS, the
zlib->inflate / liblzma->lzma pattern.

The whole pipeline is implemented against the public format
(documented in the bzip2 manual and the format's many public
descriptions):

- a BIG-ENDIAN bitstream (bzip2 blocks are not byte-aligned), read
  with the codecs' shared ``multimodal/bitio.BitReader``: 'BZh'
  magic + level digit (block size = level x 100k), per block the
  48-bit pi magic 0x314159265359, the block CRC, the deprecated
  "randomized" flag (rejected loudly), and the 24-bit BWT origin
  pointer;
- the sparse symbol map (16-bit group map + 16-bit per-group maps)
  giving the used byte values;
- 2-6 Huffman TABLES with 15-bit selectors choosing a table per
  50-symbol chunk, the selector list itself MTF-coded in unary;
  each table transmitted as a 5-bit start length plus +1/-1 delta
  bits per symbol, decoded into canonical prefix-code tables
  (``bitio.canonical_table``);
- the MTF + RLE2 symbol stream: RUNA/RUNB zero-run lengths in
  bijective base 2, MTF inverse over the used-values list, EOB;
- the inverse BURROWS-WHEELER transform via one counting pass and
  one permutation walk (vectorized with numpy), started at origPtr;
- the outer RLE1 decode (4 equal bytes + count byte);
- bzip2's own CRC-32 flavor per block AND for the stream footer
  combine: the UNREFLECTED 0x04C11DB7 polynomial fed MSB-first
  (zlib's CRC is the reflected form — a fourth CRC variant in this
  repo next to zlib's, Castagnoli's and Ogg's), footer magic
  0x177245385090 + combined CRC cross-checked.

Scale: opaque binary + Arrow ``map_rows``, narrow, zero shuffle —
one task per ``.bz2`` shard at 100 TB; per-doc CPU is linear in the
block size.
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import DataFrame

from neuroimaging_data_pipeline_spark.functions.rowmap import map_rows
from neuroimaging_data_pipeline_spark.multimodal.bitio import (
    BitReader,
    canonical_table,
)

# --- bzip2's CRC-32 (unreflected 0x04C11DB7, MSB-first, inverted io) -------------------

_CRC_TABLE = []
for _n in range(256):
    _c = _n << 24
    for _ in range(8):
        _c = ((_c << 1) ^ 0x04C11DB7 if _c & 0x80000000 else _c << 1) & 0xFFFFFFFF
    _CRC_TABLE.append(_c)


def bz2_crc(data: bytes, crc: int = 0) -> int:
    crc ^= 0xFFFFFFFF
    for b in data:
        crc = ((crc << 8) & 0xFFFFFFFF) ^ _CRC_TABLE[(crc >> 24) ^ b]
    return crc ^ 0xFFFFFFFF


def _read_huffman_tables(
    bits: BitReader, n_syms: int, n_groups: int
) -> list[tuple[dict, list]]:
    """Per group: the decode table of the canonical code whose lengths
    arrive as a 5-bit start plus delta bits per symbol."""
    tables = []
    for _ in range(n_groups):
        length = bits.u(5)
        lens = []
        for _ in range(n_syms):
            while True:
                if not 1 <= length <= 20:
                    raise ValueError("bzip2 code length out of range")
                if not bits.u(1):
                    break
                length += -1 if bits.u(1) else 1
            lens.append(length)
        # canonical code assignment in (length, transmission order)
        counts = [lens.count(ln) for ln in range(1, max(lens) + 1)]
        order = sorted(range(n_syms), key=lambda s: lens[s])
        tables.append(canonical_table(counts, order))
    return tables


def _inverse_bwt(last_col: np.ndarray, orig_ptr: int) -> np.ndarray:
    """One counting pass + one permutation walk (the classic T-vector
    construction), vectorized."""
    n = len(last_col)
    if not 0 <= orig_ptr < n:
        raise ValueError("bzip2 BWT origin pointer out of range")
    # stable sort of the last column IS the first column; tvec[j] =
    # the last-column position holding the j-th first-column element
    tvec = np.argsort(last_col, kind="stable")
    out = np.empty(n, dtype=np.uint8)
    p = tvec[orig_ptr]
    for i in range(n):
        out[i] = last_col[p]
        p = tvec[p]
    return out


def _rle1_decode(data: np.ndarray) -> bytes:
    """Outer run-length layer: 4 identical bytes are followed by a
    count byte adding 0-255 more."""
    out = bytearray()
    i = 0
    n = len(data)
    buf = data.tobytes()
    while i < n:
        b = buf[i]
        run = 1
        while run < 4 and i + run < n and buf[i + run] == b:
            run += 1
        if run == 4:
            if i + 4 >= n:
                raise ValueError("bzip2 RLE1 run missing count byte")
            out += bytes([b]) * (4 + buf[i + 4])
            i += 5
        else:
            out += buf[i : i + run]
            i += run
    return bytes(out)


def parse_bzip2(buf: bytes) -> dict:
    """Decode a complete .bz2 file — one or more CONCATENATED streams
    (the format composes by concatenation, like gzip members; each
    stream re-aligns to a byte boundary). Returns {"level",
    "n_streams", "n_blocks", "content", "crc_ok"} — every block CRC
    and each stream's combined CRC re-verified with the from-scratch
    unreflected table."""
    buf = bytes(buf)
    parts: list[bytes] = []
    n_blocks = 0
    n_streams = 0
    level = None
    pos = 0
    while pos < len(buf):
        if buf[pos : pos + 3] != b"BZh":
            raise ValueError(f"bad bzip2 magic at byte {pos}")
        if pos + 4 > len(buf):
            raise ValueError("bzip2 stream header truncated")
        level = buf[pos + 3] - 0x30
        if not 1 <= level <= 9:
            raise ValueError(f"bad bzip2 level digit {buf[pos + 3]:#x}")
        bits = BitReader(buf, (pos + 4) * 8)
        nb, combined_parts = _parse_stream(bits, level * 100_000)
        parts += combined_parts
        n_blocks += nb
        n_streams += 1
        pos = (bits.pos + 7) // 8  # next stream starts byte-aligned
    if n_streams == 0:
        raise ValueError("empty bzip2 input")
    return {
        "level": level,
        "n_streams": n_streams,
        "n_blocks": n_blocks,
        "content": b"".join(parts),
        "crc_ok": True,
    }


def _parse_stream(bits: BitReader, max_block: int) -> tuple[int, list[bytes]]:
    parts: list[bytes] = []
    combined = 0
    n_blocks = 0
    while True:
        magic = bits.u(48)
        if magic == 0x177245385090:  # stream footer (sqrt pi)
            stored = bits.u(32)
            if stored != combined:
                raise ValueError("bzip2 combined stream CRC mismatch")
            break
        if magic != 0x314159265359:  # block magic (pi)
            raise ValueError(f"bad bzip2 block magic {magic:#x}")
        block_crc = bits.u(32)
        if bits.u(1):
            raise ValueError("deprecated bzip2 randomized blocks")
        orig_ptr = bits.u(24)
        # sparse symbol map
        group_map = bits.u(16)
        used = []
        for g in range(16):
            if group_map & (0x8000 >> g):
                m = bits.u(16)
                for j in range(16):
                    if m & (0x8000 >> j):
                        used.append(16 * g + j)
        if not used:
            raise ValueError("bzip2 block uses no byte values")
        n_syms = len(used) + 2  # RUNA, RUNB, MTF values 1.., EOB
        n_groups = bits.u(3)
        if not 2 <= n_groups <= 6:
            raise ValueError(f"bzip2 group count {n_groups} out of range")
        n_sel = bits.u(15)
        if n_sel == 0:
            raise ValueError("bzip2 block with zero selectors")
        # selectors, MTF-coded in unary
        sel_mtf = list(range(n_groups))
        selectors = []
        for _ in range(n_sel):
            j = 0
            while bits.u(1):
                j += 1
                if j >= n_groups:
                    raise ValueError("bzip2 selector MTF overflow")
            selectors.append(sel_mtf[j])
            sel_mtf.insert(0, sel_mtf.pop(j))
        tables = _read_huffman_tables(bits, n_syms, n_groups)
        # MTF + RLE2 symbol stream
        eob = n_syms - 1
        mtf = list(used)
        out = np.empty(max_block, dtype=np.uint8)
        pos = 0
        run = 0
        run_bit = 0
        chunk = 0
        sel_at = 0
        table = None
        while True:
            if chunk == 0:
                if sel_at >= len(selectors):
                    raise ValueError("bzip2 ran out of selectors")
                table = tables[selectors[sel_at]]
                sel_at += 1
                chunk = 50
            chunk -= 1
            sym = bits.prefix(table)
            if sym <= 1:  # RUNA / RUNB: zero-run in bijective base 2
                run += (sym + 1) << run_bit
                run_bit += 1
                continue
            if run:
                if pos + run > max_block:
                    raise ValueError("bzip2 block overflows its size")
                out[pos : pos + run] = mtf[0]
                pos += run
                run = 0
                run_bit = 0
            if sym == eob:
                break
            # MTF value sym-1 (1-based beyond the run symbols)
            v = mtf.pop(sym - 1)
            mtf.insert(0, v)
            if pos >= max_block:
                raise ValueError("bzip2 block overflows its size")
            out[pos] = v
            pos += 1
        last_col = out[:pos]
        plain = _rle1_decode(_inverse_bwt(last_col, orig_ptr))
        got_crc = bz2_crc(plain)
        if got_crc != block_crc:
            raise ValueError("bzip2 block CRC mismatch")
        combined = (((combined << 1) | (combined >> 31)) & 0xFFFFFFFF) ^ got_crc
        parts.append(plain)
        n_blocks += 1
    return n_blocks, parts


# --- Spark surface ----------------------------------------------------------------------


def synthesize_bzip2_docs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document .bz2 WRITTEN BY STDLIB libbzip2 (the conformance
    writer): compresslevel cycling 1/5/9 by id%3, a repetitive tail
    for id%4==0 (RLE1 runs + dense BWT columns), and for id%5==0 a
    SECOND concatenated stream carrying an 'S<id>' trailer (the
    multi-stream composition rule). Pure id/text formulas the oracle
    recomputes; bodies must fit one level-1 block so n_blocks stays
    formula-exact."""
    import bz2

    out_schema = f"{id_col} long, content binary"

    def build(i, text):
        body = ("" if text is None else str(text)).encode()
        if i % 4 == 0:
            body += b"zzzz" * (20 + i % 13)
        if len(body) > 99_000:
            raise ValueError(
                f"doc {i}: body of {len(body)} bytes would span"
                " level-1 blocks — the s32 oracle's n_blocks"
                " formula assumes one block per stream"
            )
        if not body:
            # bz2.compress(b"") emits a ZERO-block stream,
            # silently diverging from the oracle's
            # one-block-per-stream formula — fail loudly like
            # the oversized guard above (ADVICE r8)
            raise ValueError(
                f"doc {i}: empty body would emit a zero-block"
                " stream — the s32 oracle assumes one block"
                " per stream"
            )
        blob = bz2.compress(body, compresslevel=(1, 5, 9)[i % 3])
        if i % 5 == 0:
            blob += bz2.compress(b"S%d" % i, compresslevel=9)
        yield i, blob

    return map_rows(docs, build, out_schema, cols=(id_col, text_col))


def bzip2_documents(
    media: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "content",
) -> DataFrame:
    out_schema = (
        f"{id_col} long, n_streams int, n_blocks int,"
        " content_len long, text_md5 string"
    )

    def feat(i, content):
        d = parse_bzip2(content)
        yield (
            i,
            d["n_streams"],
            d["n_blocks"],
            len(d["content"]),
            hashlib.md5(d["content"]).hexdigest(),
        )

    return map_rows(media, feat, out_schema, cols=(id_col, content_col))
