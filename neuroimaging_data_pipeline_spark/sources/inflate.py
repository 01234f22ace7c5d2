"""DEFLATE decoder (RFC 1951) + gzip member parser (RFC 1952),
stdlib-only and from scratch — the inverse of the compressor behind
.gz text shards, ZIP members and PNG IDAT. The engine already
DECODES those containers through stdlib zlib; this module makes the
entropy layer itself independently verified: stdlib zlib is the
reference WRITER (a canonical external implementation), and this
decoder must reproduce its output bit-exactly across stored, fixed-
Huffman and dynamic-Huffman blocks at every compression level
(fuzz-pinned in tests, the same stance as the RFC 3629 validator vs
the stdlib UTF-8 decoder).

What is REAL:

- the bit layer: LSB-first bit reader, Huffman codes packed
  MSB-of-code-first (the classic ``code = code<<1 | bit`` walk);
- all three block types: STORED (byte-aligned LEN/NLEN ones-
  complement check), FIXED Huffman (the spec's hardwired lengths),
  DYNAMIC Huffman — the code-length alphabet in its permuted order,
  canonical code construction from lengths, symbols 16/17/18
  (repeat / zero-run coding of the code lengths themselves);
- LZ77 back-references: length codes 257-285 and distance codes 0-29
  with their extra-bit tables, overlap-copy window semantics;
- CRC-32 from scratch (reflected 0xEDB88320 table, pinned against
  the published check value and stdlib ``zlib.crc32``) — gzip members
  re-verify BOTH the CRC32 and the ISIZE mod-2^32 field, and the
  optional FHCRC header checksum;
- the gzip member grammar: magic, CM=8, FTEXT/FHCRC/FEXTRA/FNAME/
  FCOMMENT flags, latin-1 zero-terminated name/comment, XFL/OS.

Scale: used inside Arrow ``map_rows`` batches like every codec
here — narrow, zero shuffle.
"""

from __future__ import annotations

import hashlib
import zlib

from pyspark.sql import DataFrame

from neuroimaging_data_pipeline_spark.functions.rowmap import map_rows

# --- CRC-32 (reflected, poly 0xEDB88320) ---------------------------------------------

_CRC_TABLE = []
for _n in range(256):
    _c = _n
    for _ in range(8):
        _c = (_c >> 1) ^ 0xEDB88320 if _c & 1 else _c >> 1
    _CRC_TABLE.append(_c)


def crc32(data: bytes, crc: int = 0) -> int:
    crc ^= 0xFFFFFFFF
    for b in data:
        crc = (crc >> 8) ^ _CRC_TABLE[(crc ^ b) & 0xFF]
    return crc ^ 0xFFFFFFFF


# --- bit reader ----------------------------------------------------------------------


class _Bits:
    def __init__(self, buf: bytes, pos: int = 0) -> None:
        self.buf = buf
        self.pos = pos  # byte position of the NEXT byte to load
        self.acc = 0
        self.n = 0

    def bits(self, k: int) -> int:
        """k bits, LSB-first stream order (RFC 1951 3.1.1)."""
        while self.n < k:
            if self.pos >= len(self.buf):
                raise ValueError("deflate stream truncated")
            self.acc |= self.buf[self.pos] << self.n
            self.pos += 1
            self.n += 8
        v = self.acc & ((1 << k) - 1)
        self.acc >>= k
        self.n -= k
        return v

    def align(self) -> None:
        self.acc = 0
        self.n = 0

    def tell(self) -> int:
        """Byte offset of the next unconsumed byte (aligned only)."""
        return self.pos - (self.n // 8)


class _Huff:
    """Canonical Huffman decoder from a code-length list."""

    def __init__(self, lengths: list[int]) -> None:
        maxlen = max(lengths, default=0)
        count = [0] * (maxlen + 1)
        for ln in lengths:
            if ln:
                count[ln] += 1
        # over-subscribed tables are invalid streams, not our bug
        total = 0
        for ln in range(1, maxlen + 1):
            total = (total << 1) + count[ln]
        if maxlen and total > (1 << maxlen):
            raise ValueError("over-subscribed Huffman code")
        first = [0] * (maxlen + 2)
        code = 0
        for ln in range(1, maxlen + 1):
            code = (code + count[ln - 1]) << 1
            first[ln] = code
        self.count = count
        self.first = first
        # symbols sorted by (length, symbol) — canonical order
        self.symbols: list[int] = []
        offs = [0] * (maxlen + 1)
        start = 0
        for ln in range(1, maxlen + 1):
            offs[ln] = start
            start += count[ln]
        syms = [0] * start
        for sym, ln in enumerate(lengths):
            if ln:
                syms[offs[ln]] = sym
                offs[ln] += 1
        self.symbols = syms
        self.maxlen = maxlen

    def decode(self, br: _Bits) -> int:
        code = 0
        index = 0
        for ln in range(1, self.maxlen + 1):
            code |= br.bits(1)
            c = self.count[ln]
            if code - self.first[ln] < c:
                return self.symbols[index + (code - self.first[ln])]
            index += c
            code <<= 1
        raise ValueError("invalid Huffman code in deflate stream")


# --- inflate -------------------------------------------------------------------------

_LEN_BASE = [3, 4, 5, 6, 7, 8, 9, 10, 11, 13, 15, 17, 19, 23, 27, 31,
             35, 43, 51, 59, 67, 83, 99, 115, 131, 163, 195, 227, 258]
_LEN_EXTRA = [0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 2, 2, 2, 2,
              3, 3, 3, 3, 4, 4, 4, 4, 5, 5, 5, 5, 0]
_DIST_BASE = [1, 2, 3, 4, 5, 7, 9, 13, 17, 25, 33, 49, 65, 97, 129,
              193, 257, 385, 513, 769, 1025, 1537, 2049, 3073, 4097,
              6145, 8193, 12289, 16385, 24577]
_DIST_EXTRA = [0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4, 4, 5, 5, 6, 6,
               7, 7, 8, 8, 9, 9, 10, 10, 11, 11, 12, 12, 13, 13]
_CLEN_ORDER = [16, 17, 18, 0, 8, 7, 9, 6, 10, 5, 11, 4, 12, 3, 13, 2,
               14, 1, 15]

_FIXED_LIT = _Huff(
    [8] * 144 + [9] * 112 + [7] * 24 + [8] * 8
)
_FIXED_DIST = _Huff([5] * 30)


def _read_dynamic_tables(br: _Bits) -> tuple[_Huff, _Huff]:
    hlit = br.bits(5) + 257
    hdist = br.bits(5) + 1
    hclen = br.bits(4) + 4
    clen_lengths = [0] * 19
    for i in range(hclen):
        clen_lengths[_CLEN_ORDER[i]] = br.bits(3)
    clen = _Huff(clen_lengths)
    lengths: list[int] = []
    while len(lengths) < hlit + hdist:
        sym = clen.decode(br)
        if sym < 16:
            lengths.append(sym)
        elif sym == 16:
            if not lengths:
                raise ValueError("repeat code with no previous length")
            lengths += [lengths[-1]] * (3 + br.bits(2))
        elif sym == 17:
            lengths += [0] * (3 + br.bits(3))
        else:
            lengths += [0] * (11 + br.bits(7))
    if len(lengths) != hlit + hdist:
        raise ValueError("code-length run overflows the table")
    return _Huff(lengths[:hlit]), _Huff(lengths[hlit:])


def inflate(buf: bytes, pos: int = 0) -> tuple[bytes, int]:
    """Decode one raw DEFLATE stream starting at byte ``pos``.
    Returns (decompressed bytes, byte offset just past the stream)."""
    br = _Bits(bytes(buf), pos)
    out = bytearray()
    while True:
        bfinal = br.bits(1)
        btype = br.bits(2)
        if btype == 0:  # stored
            br.align()
            at = br.tell()
            ln = int.from_bytes(buf[at : at + 2], "little")
            nln = int.from_bytes(buf[at + 2 : at + 4], "little")
            if ln != (~nln & 0xFFFF):
                raise ValueError("stored block LEN/NLEN mismatch")
            if at + 4 + ln > len(buf):
                raise ValueError("stored block truncated")
            out += buf[at + 4 : at + 4 + ln]
            br = _Bits(buf, at + 4 + ln)
        elif btype in (1, 2):
            if btype == 1:
                lit, dist = _FIXED_LIT, _FIXED_DIST
            else:
                lit, dist = _read_dynamic_tables(br)
            while True:
                sym = lit.decode(br)
                if sym < 256:
                    out.append(sym)
                elif sym == 256:
                    break
                else:
                    if sym > 285:
                        raise ValueError(f"invalid length code {sym}")
                    i = sym - 257
                    length = _LEN_BASE[i] + br.bits(_LEN_EXTRA[i])
                    dsym = dist.decode(br)
                    if dsym > 29:
                        raise ValueError(f"invalid distance code {dsym}")
                    d = _DIST_BASE[dsym] + br.bits(_DIST_EXTRA[dsym])
                    if d > len(out):
                        raise ValueError("distance beyond output start")
                    start = len(out) - d
                    for k in range(length):  # overlap-copy semantics
                        out.append(out[start + k])
        else:
            raise ValueError("reserved deflate block type 3")
        if bfinal:
            break
    # align to the next byte for the caller's trailer fields
    br.align()
    return bytes(out), br.tell()


# --- gzip member (RFC 1952) ----------------------------------------------------------

_FTEXT, _FHCRC, _FEXTRA, _FNAME, _FCOMMENT = 1, 2, 4, 8, 16


def write_gzip_member(
    content: bytes,
    level: int = 6,
    fname: str | None = None,
    fcomment: str | None = None,
    fextra: bytes | None = None,
    fhcrc: bool = False,
    mtime: int = 0,
) -> bytes:
    """A gzip member whose DEFLATE payload comes from stdlib zlib —
    the external reference writer this decoder is pinned against.
    level 0 yields stored blocks, higher levels fixed/dynamic
    Huffman, so every block type stays hot."""
    flg = (
        (_FEXTRA if fextra is not None else 0)
        | (_FNAME if fname is not None else 0)
        | (_FCOMMENT if fcomment is not None else 0)
        | (_FHCRC if fhcrc else 0)
    )
    head = bytearray(b"\x1f\x8b\x08")
    head.append(flg)
    head += mtime.to_bytes(4, "little")
    head += bytes([0, 255])  # XFL, OS=unknown
    if fextra is not None:
        head += len(fextra).to_bytes(2, "little") + fextra
    if fname is not None:
        head += fname.encode("latin-1") + b"\x00"
    if fcomment is not None:
        head += fcomment.encode("latin-1") + b"\x00"
    if fhcrc:
        head += (crc32(bytes(head)) & 0xFFFF).to_bytes(2, "little")
    co = zlib.compressobj(level, zlib.DEFLATED, -15)
    payload = co.compress(content) + co.flush()
    return (
        bytes(head)
        + payload
        + crc32(content).to_bytes(4, "little")
        + (len(content) & 0xFFFFFFFF).to_bytes(4, "little")
    )


def parse_gzip_member(buf: bytes) -> dict:
    """Parse + inflate one gzip member with the from-scratch decoder;
    CRC32 and ISIZE re-verified (mismatch raises)."""
    buf = bytes(buf)
    if buf[:2] != b"\x1f\x8b":
        raise ValueError("bad gzip magic")
    if buf[2] != 8:
        raise ValueError(f"unsupported compression method {buf[2]}")
    flg = buf[3]
    if flg & 0xE0:
        raise ValueError("reserved gzip FLG bits set")
    mtime = int.from_bytes(buf[4:8], "little")
    pos = 10
    fextra = None
    if flg & _FEXTRA:
        xlen = int.from_bytes(buf[pos : pos + 2], "little")
        fextra = buf[pos + 2 : pos + 2 + xlen]
        pos += 2 + xlen
    fname = fcomment = None
    if flg & _FNAME:
        end = buf.index(b"\x00", pos)
        fname = buf[pos:end].decode("latin-1")
        pos = end + 1
    if flg & _FCOMMENT:
        end = buf.index(b"\x00", pos)
        fcomment = buf[pos:end].decode("latin-1")
        pos = end + 1
    hcrc_ok = None
    if flg & _FHCRC:
        want = int.from_bytes(buf[pos : pos + 2], "little")
        hcrc_ok = (crc32(buf[: pos]) & 0xFFFF) == want
        pos += 2
        if not hcrc_ok:
            raise ValueError("gzip FHCRC header checksum mismatch")
    content, end = inflate(buf, pos)
    want_crc = int.from_bytes(buf[end : end + 4], "little")
    want_isize = int.from_bytes(buf[end + 4 : end + 8], "little")
    crc_ok = crc32(content) == want_crc
    isize_ok = (len(content) & 0xFFFFFFFF) == want_isize
    if not crc_ok:
        raise ValueError("gzip CRC32 mismatch")
    if not isize_ok:
        raise ValueError("gzip ISIZE mismatch")
    return {
        "mtime": mtime,
        "ftext": bool(flg & _FTEXT),
        "fname": fname,
        "fcomment": fcomment,
        "fextra": fextra,
        "hcrc_checked": hcrc_ok is True,
        "crc_ok": crc_ok,
        "isize_ok": isize_ok,
        "content": content,
        "end": end + 8,
    }


# --- Spark surface -------------------------------------------------------------------


def synthesize_gzip_members(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document gzip member written by stdlib zlib at an
    id-derived level (0 -> stored blocks, 1 -> mostly fixed Huffman,
    6/9 -> dynamic), with FNAME for even ids, FCOMMENT for id%3==0,
    FEXTRA for id%5==0 and FHCRC for id%7==0 — every header feature
    and block type hot on the query path."""
    out_schema = f"{id_col} long, content binary"

    def build(i, text):
        body = ("" if text is None else str(text)).encode()
        yield i, write_gzip_member(
            body,
            level=[0, 1, 6, 9][i % 4],
            fname=f"doc-{i}.txt" if i % 2 == 0 else None,
            fcomment=f"c{i}" if i % 3 == 0 else None,
            fextra=b"XX\x02\x00ab" if i % 5 == 0 else None,
            fhcrc=(i % 7 == 0),
        )

    return map_rows(docs, build, out_schema, cols=(id_col, text_col))


def gzip_inflate_features(
    media: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "content",
) -> DataFrame:
    out_schema = (
        f"{id_col} long, fname string, has_comment boolean,"
        " has_extra boolean, hcrc_checked boolean, crc_ok boolean,"
        " content_len long, text_md5 string"
    )

    def feat(i, content):
        d = parse_gzip_member(content)
        yield (
            i,
            d["fname"] or "",
            d["fcomment"] is not None,
            d["fextra"] is not None,
            d["hcrc_checked"],
            d["crc_ok"],
            len(d["content"]),
            hashlib.md5(d["content"]).hexdigest(),
        )

    return map_rows(media, feat, out_schema, cols=(id_col, content_col))
