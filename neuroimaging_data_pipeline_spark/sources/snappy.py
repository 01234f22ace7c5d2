"""Snappy codec, stdlib-only and from scratch, BOTH directions with
no capability gate — the compression under classic Parquet/ORC/Avro
data files and the `.sz` framing stream. Like LZ4
(sources/lz4frame.py), Snappy has no entropy stage, so the whole
format is implementable exactly from the two public spec files.

What is REAL:

- the RAW format (format_description.txt): little-endian-varint
  uncompressed-length preamble; literal tags with the 60-63
  extended-length byte forms; all three copy tags — 01 with the
  3-bit length / 11-bit split offset, 10 with the 16-bit LE offset,
  and the rarely-emitted 11 with a 32-bit offset (decoded here);
  overlap-copy match semantics; a greedy 4-byte-hash compressor that
  emits spec-legal tags (copy-1 only when 4<=len<=11 and
  offset<2048, copy-2 otherwise, 64-byte match chunking);
- the FRAMING format (framing_format.txt): the 0xFF stream
  identifier chunk with "sNaPpY", compressed (0x00) and uncompressed
  (0x01) data chunks each carrying a MASKED CRC-32C of the
  UNCOMPRESSED data, padding (0xFE) chunks, the skippable /
  unskippable reserved ranges, and the 65536-byte uncompressed-data
  limit per chunk;
- CRC-32C (Castagnoli, reflected 0x82F63B78) from scratch, pinned to
  the published check value, plus Snappy's mask function
  ``((crc >> 15) | (crc << 17)) + 0xa282ead8`` — re-verified on
  every chunk at decode.

Conformance: the RAW block codec is pinned BOTH WAYS against
pyarrow's bundled real snappy (present in this environment) across
textures; interop pins against `python-snappy`/`cramjam` additionally
activate when those packages exist.

Scale: opaque binary + Arrow ``map_rows``, narrow, zero shuffle.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame

from neuroimaging_data_pipeline_spark.functions.rowmap import map_rows

# --- CRC-32C (Castagnoli, reflected) -------------------------------------------------

_CRC32C_TABLE = []
for _n in range(256):
    _c = _n
    for _ in range(8):
        _c = (_c >> 1) ^ 0x82F63B78 if _c & 1 else _c >> 1
    _CRC32C_TABLE.append(_c)


def crc32c(data: bytes, crc: int = 0) -> int:
    crc ^= 0xFFFFFFFF
    for b in data:
        crc = (crc >> 8) ^ _CRC32C_TABLE[(crc ^ b) & 0xFF]
    return crc ^ 0xFFFFFFFF


def _mask_crc(crc: int) -> int:
    """Snappy's CRC mask — guards against CRCs of CRC-bearing data."""
    return (((crc >> 15) | (crc << 17)) + 0xA282EAD8) & 0xFFFFFFFF


# --- raw format ---------------------------------------------------------------------


def _write_uvarint(n: int) -> bytes:
    out = bytearray()
    while n >= 0x80:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


def _read_uvarint(buf: bytes, pos: int) -> tuple[int, int]:
    shift = 0
    val = 0
    while True:
        if pos >= len(buf):
            raise ValueError("truncated snappy varint")
        b = buf[pos]
        pos += 1
        val |= (b & 0x7F) << shift
        if not b & 0x80:
            return val, pos
        shift += 7
        if shift > 35:
            raise ValueError("snappy varint too long")


def _emit_literal(out: bytearray, lits: bytes) -> None:
    n = len(lits)
    if n == 0:
        return
    if n <= 60:
        out.append((n - 1) << 2)
    elif n <= 0x100:
        out.append(60 << 2)
        out += (n - 1).to_bytes(1, "little")
    elif n <= 0x10000:
        out.append(61 << 2)
        out += (n - 1).to_bytes(2, "little")
    elif n <= 0x1000000:
        out.append(62 << 2)
        out += (n - 1).to_bytes(3, "little")
    else:
        out.append(63 << 2)
        out += (n - 1).to_bytes(4, "little")
    out += lits


def _emit_copy(out: bytearray, offset: int, length: int) -> None:
    """Spec-legal copy tags; lengths > 64 are chunked by the caller."""
    if 4 <= length <= 11 and offset < 2048:
        out.append(
            0x01 | ((length - 4) << 2) | ((offset >> 8) << 5)
        )
        out.append(offset & 0xFF)
    elif offset < 0x10000:
        out.append(0x02 | ((length - 1) << 2))
        out += offset.to_bytes(2, "little")
    else:
        out.append(0x03 | ((length - 1) << 2))
        out += offset.to_bytes(4, "little")


def snappy_compress(src: bytes) -> bytes:
    """Greedy single-pass raw-snappy compressor (4-byte hash table,
    most-recent matches). Output decodes through any conforming
    decoder; pinned against python-snappy/cramjam when installed."""
    n = len(src)
    out = bytearray(_write_uvarint(n))
    table: dict[int, int] = {}
    anchor = 0
    pos = 0
    while pos + 4 <= n:
        key = int.from_bytes(src[pos : pos + 4], "little")
        cand = table.get(key)
        table[key] = pos
        if cand is None or src[cand : cand + 4] != src[pos : pos + 4]:
            pos += 1
            continue
        offset = pos - cand
        mlen = 4
        while pos + mlen < n and src[cand + mlen] == src[pos + mlen]:
            mlen += 1
        _emit_literal(out, src[anchor:pos])
        # copies carry at most 64 bytes per tag
        remaining = mlen
        while remaining > 0:
            step = min(remaining, 64)
            if step < 4:  # tail too short for a copy tag: merge back
                break
            _emit_copy(out, offset, step)
            remaining -= step
        pos += mlen - remaining
        anchor = pos
        if remaining:  # leftover 1-3 bytes ride the next literal
            pass
    _emit_literal(out, src[anchor:])
    return bytes(out)


def snappy_decompress(src: bytes) -> bytes:
    declared, pos = _read_uvarint(src, 0)
    out = bytearray()
    n = len(src)
    while pos < n:
        tag = src[pos]
        pos += 1
        ttype = tag & 0x03
        if ttype == 0:  # literal
            ln = (tag >> 2) + 1
            if ln > 60:
                nb = ln - 60
                ln = int.from_bytes(src[pos : pos + nb], "little") + 1
                pos += nb
            if pos + ln > n:
                raise ValueError("snappy literal past input end")
            out += src[pos : pos + ln]
            pos += ln
            continue
        if ttype == 1:
            ln = ((tag >> 2) & 0x7) + 4
            offset = ((tag >> 5) << 8) | src[pos]
            pos += 1
        elif ttype == 2:
            ln = (tag >> 2) + 1
            offset = int.from_bytes(src[pos : pos + 2], "little")
            pos += 2
        else:
            ln = (tag >> 2) + 1
            offset = int.from_bytes(src[pos : pos + 4], "little")
            pos += 4
        if offset == 0 or offset > len(out):
            raise ValueError(f"bad snappy copy offset {offset}")
        start = len(out) - offset
        for k in range(ln):  # overlap-copy semantics
            out.append(out[start + k])
    if len(out) != declared:
        raise ValueError("snappy output != declared length")
    return bytes(out)


# --- framing format -------------------------------------------------------------------

_STREAM_ID = b"\xff\x06\x00\x00sNaPpY"
_CHUNK_MAX = 65536


def write_snappy_frame(
    content: bytes,
    force_uncompressed: bool = False,
    pad: int = 0,
) -> bytes:
    """framing_format.txt stream: identifier chunk, then per-64KiB
    data chunks, each with the masked CRC-32C of its UNCOMPRESSED
    bytes; optional padding chunk. ``force_uncompressed`` pins every
    data chunk to type 0x01; otherwise chunks are always type 0x00 —
    a compressed chunk that happens to be larger than its input is
    legal per the spec, and a DETERMINISTIC type choice is what lets
    the oracle recompute chunk-kind counts from id formulas alone
    (a win/lose size heuristic would not be SQL-expressible)."""
    out = bytearray(_STREAM_ID)
    if pad:
        out += bytes([0xFE]) + pad.to_bytes(3, "little") + b"\x00" * pad
    for i in range(0, max(len(content), 1), _CHUNK_MAX):
        chunk = content[i : i + _CHUNK_MAX]
        crc = _mask_crc(crc32c(chunk)).to_bytes(4, "little")
        if force_uncompressed:
            body = crc + chunk
            out += bytes([0x01]) + len(body).to_bytes(3, "little") + body
        else:
            body = crc + snappy_compress(chunk)
            out += bytes([0x00]) + len(body).to_bytes(3, "little") + body
    return bytes(out)


def parse_snappy_frame(buf: bytes) -> dict:
    buf = bytes(buf)
    if buf[: len(_STREAM_ID)] != _STREAM_ID:
        raise ValueError("bad snappy stream identifier")
    pos = len(_STREAM_ID)
    n_chunks = n_stored = n_padding = 0
    parts: list[bytes] = []
    while pos < len(buf):
        ctype = buf[pos]
        clen = int.from_bytes(buf[pos + 1 : pos + 4], "little")
        body = buf[pos + 4 : pos + 4 + clen]
        if len(body) != clen:
            raise ValueError("truncated snappy chunk")
        pos += 4 + clen
        if ctype == 0xFF:
            if body != _STREAM_ID[4:]:
                raise ValueError("bad stream identifier payload")
            continue
        if ctype == 0xFE:
            n_padding += 1
            continue
        if 0x80 <= ctype <= 0xFD:
            continue  # skippable reserved
        if 0x02 <= ctype <= 0x7F:
            raise ValueError(f"unskippable reserved chunk {ctype:#x}")
        want = int.from_bytes(body[:4], "little")
        data = body[4:]
        if ctype == 0x00:
            data = snappy_decompress(data)
        else:
            n_stored += 1
        if len(data) > _CHUNK_MAX:
            raise ValueError("chunk exceeds 65536 uncompressed bytes")
        if _mask_crc(crc32c(data)) != want:
            raise ValueError("snappy chunk CRC-32C mismatch")
        n_chunks += 1
        parts.append(data)
    return {
        "n_chunks": n_chunks,
        "n_stored": n_stored,
        "n_padding": n_padding,
        "content": b"".join(parts),
    }


# --- Spark surface ---------------------------------------------------------------------


def synthesize_snappy_docs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document .sz stream: compressible tail for id%3==0 keeps
    compressed chunks hot, forced-uncompressed streams for id%4==0
    keep the stored path hot, a padding chunk for id%5==0. Pure id
    formulas the oracle recomputes."""
    out_schema = f"{id_col} long, content binary"

    def build(i, text):
        body = ("" if text is None else str(text)).encode()
        if i % 3 == 0:
            body += b" zip" * (8 + i % 5)
        yield i, write_snappy_frame(
            body,
            force_uncompressed=(i % 4 == 0),
            pad=(6 + i % 4) if i % 5 == 0 else 0,
        )

    return map_rows(docs, build, out_schema, cols=(id_col, text_col))


def snappy_documents(
    media: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "content",
) -> DataFrame:
    out_schema = (
        f"{id_col} long, n_chunks int, n_stored int, n_padding int,"
        " content_len long, text_md5 string"
    )

    def feat(i, content):
        d = parse_snappy_frame(content)
        yield (
            i,
            d["n_chunks"],
            d["n_stored"],
            d["n_padding"],
            len(d["content"]),
            hashlib.md5(d["content"]).hexdigest(),
        )

    return map_rows(media, feat, out_schema, cols=(id_col, content_col))
