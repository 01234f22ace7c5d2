""".xz container + LZMA2 decode, stdlib-only and from scratch — the
compression format long-form text corpora actually ship in (Wikipedia
dumps, The Pile mirrors are .jsonl.xz). Builds on the from-scratch
LZMA1 core (sources/lzma_alone.py Lzma1Decoder); stdlib liblzma is
again the REFERENCE WRITER, now through the full container:

- stream header: magic, stream flags (check id; reserved byte must
  be zero), CRC32 of the flags (the standard reflected CRC-32,
  shared from sources/inflate.py);
- BLOCKS: encoded header size, block flags (filter count, reserved
  bits rejected), optional compressed/uncompressed size VLIs, the
  filter chain (LZMA2 0x21 last, with Delta 0x03 and x86 BCJ 0x04
  accepted as non-last filters since r8, singly or stacked; other
  branch filters gate loudly; 1-byte dict-size props, the 40-code
  dict coding decoded), header zero-padding, header
  CRC32 — then the compressed data, zero block padding to 4, and the
  integrity CHECK of the uncompressed bytes: None / CRC32 / CRC64 /
  SHA-256 all supported, CRC64-XZ implemented from scratch
  (reflected 0xC96C5795D7870F42, init/xorout all-ones, published
  check value pinned);
- LZMA2 chunking: the control byte grammar — end marker,
  uncompressed chunks (0x01 dict-reset / 0x02 continue), compressed
  chunks with big-endian size fields and the four reset modes
  (continue / state reset / state reset + new props / + dict reset)
  driving the persistent-window Lzma1Decoder; every chunk's range
  coder re-initialized per spec, sizes enforced exactly;
- INDEX: record count + (unpadded size, uncompressed size) VLI pairs
  CROSS-CHECKED against what the blocks actually measured, padding,
  index CRC32;
- footer: CRC32, backward size (must equal the real index size),
  stream-flag copy (must equal the header's), YZ magic.

The VLI coding (7-bit little-endian groups, <= 9 bytes) is the same
shape protobuf uses but with xz's termination rule.

Scale: opaque binary + Arrow ``map_rows``, narrow, zero shuffle.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame

from neuroimaging_data_pipeline_spark.functions.rowmap import map_rows
from neuroimaging_data_pipeline_spark.sources.inflate import crc32
from neuroimaging_data_pipeline_spark.sources.lzma_alone import (
    Lzma1Decoder,
    _RangeDecoder,
)

_MAGIC = b"\xfd7zXZ\x00"
_FOOTER_MAGIC = b"YZ"
_CHECKS = {0x00: ("none", 0), 0x01: ("crc32", 4),
           0x04: ("crc64", 8), 0x0A: ("sha256", 32)}

# --- CRC-64/XZ (reflected 0xC96C5795D7870F42, init/xorout all-ones) -------------------

_CRC64_TABLE = []
for _n in range(256):
    _c = _n
    for _ in range(8):
        _c = (_c >> 1) ^ 0xC96C5795D7870F42 if _c & 1 else _c >> 1
    _CRC64_TABLE.append(_c)


def crc64(data: bytes, crc: int = 0) -> int:
    crc ^= 0xFFFFFFFFFFFFFFFF
    for b in data:
        crc = (crc >> 8) ^ _CRC64_TABLE[(crc ^ b) & 0xFF]
    return crc ^ 0xFFFFFFFFFFFFFFFF


# --- VLI -------------------------------------------------------------------------------


def _read_vli(buf: bytes, pos: int) -> tuple[int, int]:
    val = 0
    for i in range(9):
        if pos + i >= len(buf):
            raise ValueError("truncated xz VLI")
        b = buf[pos + i]
        val |= (b & 0x7F) << (7 * i)
        if not b & 0x80:
            if b == 0 and i:
                raise ValueError("non-minimal xz VLI")
            return val, pos + i + 1
    raise ValueError("xz VLI longer than 9 bytes")


# --- LZMA2 -----------------------------------------------------------------------------


def lzma2_decode(buf: bytes, pos: int) -> tuple[bytes, int]:
    """Decode one LZMA2 chunk sequence (through its 0x00 end marker).
    Returns (uncompressed bytes, offset past the end marker)."""
    window = bytearray()
    dec: Lzma1Decoder | None = None
    need_dict_reset = True
    while True:
        if pos >= len(buf):
            raise ValueError("LZMA2 truncated before end marker")
        ctrl = buf[pos]
        pos += 1
        if ctrl == 0x00:
            return bytes(window), pos
        if ctrl in (0x01, 0x02):
            if ctrl == 0x01:
                window.clear()
                need_dict_reset = False
                dec = None  # an uncompressed dict-reset resets state too
            elif need_dict_reset:
                raise ValueError("LZMA2 first chunk must reset the dict")
            size = int.from_bytes(buf[pos : pos + 2], "big") + 1
            pos += 2
            chunk = buf[pos : pos + size]
            if len(chunk) != size:
                raise ValueError("LZMA2 uncompressed chunk truncated")
            window += chunk
            pos += size
            if dec is not None:
                dec.reset_state()  # spec: uncompressed chunk resets state
            continue
        if ctrl < 0x80:
            raise ValueError(f"reserved LZMA2 control byte {ctrl:#x}")
        unpacked = ((ctrl & 0x1F) << 16) + int.from_bytes(
            buf[pos : pos + 2], "big"
        ) + 1
        packed = int.from_bytes(buf[pos + 2 : pos + 4], "big") + 1
        pos += 4
        reset = (ctrl >> 5) & 0x3
        if reset == 3:
            window.clear()
            need_dict_reset = False
        elif need_dict_reset:
            raise ValueError("LZMA2 first chunk must reset the dict")
        if reset >= 2:
            props = buf[pos]
            pos += 1
            if props >= 9 * 5 * 5:
                raise ValueError("invalid LZMA2 props byte")
            lc = props % 9
            lp = (props // 9) % 5
            pb = props // 45
            if lc + lp > 4:
                raise ValueError("LZMA2 requires lc+lp <= 4")
            dec = Lzma1Decoder(lc, lp, pb)
        elif dec is None:
            raise ValueError("LZMA2 chunk needs props before reuse")
        elif reset == 1:
            dec.reset_state()
        chunk = buf[pos : pos + packed]
        if len(chunk) != packed:
            raise ValueError("LZMA2 compressed chunk truncated")
        rc = _RangeDecoder(chunk, 0)
        before = len(window)
        dec.decode(rc, window, unpacked)
        if len(window) - before != unpacked:
            raise ValueError("LZMA2 chunk decoded wrong size")
        if rc.pos != packed:
            raise ValueError("LZMA2 chunk packed-size mismatch")
        pos += packed


# --- non-last filters: delta and x86 BCJ (r8, closes VERDICT r7 #5) ---------------------


def delta_decode(data: bytes, dist: int) -> bytes:
    """xz Delta filter decode (filter id 0x03): each byte is the
    stored diff plus the decoded byte ``dist`` positions back (zero
    history before the start), mod 256. ``dist`` = props byte + 1,
    range 1-256."""
    if not 1 <= dist <= 256:
        raise ValueError("delta distance out of range 1-256")
    buf = bytearray(data)
    for i in range(dist, len(buf)):
        buf[i] = (buf[i] + buf[i - dist]) & 0xFF
    return bytes(buf)


def bcj_x86_decode(data: bytes, start: int = 0) -> bytes:
    """xz x86 BCJ filter decode (filter id 0x04): the encoder turned
    the 32-bit relative displacement of CALL/JMP opcodes (0xE8/0xE9,
    followed by a displacement whose top byte is 0x00 or 0xFF) into
    an absolute address; decode subtracts the instruction-end stream
    position back out. The 3-bit mask tracks recent E8/E9 sightings
    so overlapping candidates are vetoed exactly the way the encoder
    vetoed them, and the 25-bit sign-extension clamp restores the
    displacement's canonical form. ``start`` is the filter's start
    offset (props, default 0)."""
    buf = bytearray(data)
    if len(buf) <= 4:
        return bytes(buf)
    allowed = (True, True, True, False, True, False, False, False)
    bitnum = (0, 1, 2, 2, 3, 3, 3, 3)
    prev_mask = 0
    prev_pos = -1
    i = 0
    end = len(buf) - 4
    while i < end:
        if buf[i] & 0xFE != 0xE8:
            i += 1
            continue
        gap = i - prev_pos
        if gap > 3:
            prev_mask = 0
        else:
            prev_mask = (prev_mask << (gap - 1)) & 7
            if prev_mask:
                probe = buf[i + 4 - bitnum[prev_mask]]
                if not allowed[prev_mask] or probe in (0, 0xFF):
                    prev_pos = i
                    prev_mask = ((prev_mask << 1) | 1) & 7
                    i += 1
                    continue
        prev_pos = i
        if buf[i + 4] in (0, 0xFF):
            src = int.from_bytes(buf[i + 1 : i + 5], "little")
            while True:
                dest = (src - (start + i + 5)) & 0xFFFFFFFF
                if prev_mask == 0:
                    break
                shift = bitnum[prev_mask] * 8
                if (dest >> (24 - shift)) & 0xFF not in (0, 0xFF):
                    break
                src = dest ^ ((1 << (32 - shift)) - 1)
            dest &= 0x01FFFFFF
            if dest & 0x01000000:
                dest |= 0xFE000000
            buf[i + 1 : i + 5] = dest.to_bytes(4, "little")
            i += 5
        else:
            prev_mask = ((prev_mask << 1) | 1) & 7
            i += 1
    return bytes(buf)


# --- container --------------------------------------------------------------------------


def parse_xz(buf: bytes) -> dict:
    buf = bytes(buf)
    if buf[:6] != _MAGIC:
        raise ValueError("bad xz magic")
    if buf[6] != 0:
        raise ValueError("reserved xz stream flag byte set")
    check_id = buf[7]
    if check_id not in _CHECKS:
        raise ValueError(f"unknown xz check id {check_id:#x}")
    check_name, check_len = _CHECKS[check_id]
    if int.from_bytes(buf[8:12], "little") != crc32(buf[6:8]):
        raise ValueError("xz stream header CRC mismatch")
    pos = 12
    blocks: list[tuple[int, int]] = []  # (unpadded size, uncompressed)
    parts: list[bytes] = []
    while True:
        hdr_size_byte = buf[pos]
        if hdr_size_byte == 0x00:
            break  # index indicator
        hdr_start = pos
        hdr_size = (hdr_size_byte + 1) * 4
        hdr = buf[pos : pos + hdr_size]
        if len(hdr) != hdr_size:
            raise ValueError("truncated xz block header")
        if int.from_bytes(hdr[-4:], "little") != crc32(hdr[:-4]):
            raise ValueError("xz block header CRC mismatch")
        flags = hdr[1]
        if flags & 0x3C:
            raise ValueError("reserved xz block flag bits set")
        n_filters = (flags & 0x03) + 1
        has_csize = bool(flags & 0x40)
        has_usize = bool(flags & 0x80)
        p = 2
        declared_csize = declared_usize = None
        if has_csize:
            declared_csize, p = _read_vli(hdr, p)
        if has_usize:
            declared_usize, p = _read_vli(hdr, p)
        chain: list[tuple[int, bytes]] = []
        for _ in range(n_filters):
            fid, p = _read_vli(hdr, p)
            props_size, p = _read_vli(hdr, p)
            props = bytes(hdr[p : p + props_size])
            if len(props) != props_size:
                raise ValueError("xz filter props run past header")
            p += props_size
            chain.append((fid, props))
        # the LAST filter must be LZMA2; earlier (non-last) filters
        # may be delta (0x03) or x86 BCJ (0x04) — anything else gates
        if chain[-1][0] != 0x21:
            raise NotImplementedError(
                f"xz last filter {chain[-1][0]:#x} (LZMA2 required here)"
            )
        if len(chain[-1][1]) != 1:
            raise ValueError("LZMA2 props must be one byte")
        if chain[-1][1][0] > 40:
            raise ValueError("reserved LZMA2 dict-size code")
        for fid, props in chain[:-1]:
            if fid == 0x03:
                if len(props) != 1:
                    raise ValueError("delta props must be one byte")
            elif fid == 0x04:
                if props and len(props) != 4:
                    raise ValueError("x86 BCJ props must be 0 or 4 bytes")
            else:
                raise NotImplementedError(
                    f"xz filter {fid:#x} (LZMA2/delta/x86-BCJ here)"
                )
        if any(hdr[p:-4]):
            raise ValueError("xz block header padding not zero")
        pos += hdr_size
        data_start = pos
        content, pos = lzma2_decode(buf, pos)
        # undo the non-last filters in reverse encoding order
        for fid, props in reversed(chain[:-1]):
            if fid == 0x03:
                content = delta_decode(content, props[0] + 1)
            else:
                content = bcj_x86_decode(
                    content,
                    int.from_bytes(props, "little") if props else 0,
                )
        comp_size = pos - data_start
        if declared_csize is not None and comp_size != declared_csize:
            raise ValueError("block compressed size != declared")
        if declared_usize is not None and len(content) != declared_usize:
            raise ValueError("block uncompressed size != declared")
        pad = (-comp_size) % 4
        if any(buf[pos : pos + pad]):
            raise ValueError("xz block padding not zero")
        pos += pad
        check = buf[pos : pos + check_len]
        if check_name == "crc32":
            ok = int.from_bytes(check, "little") == crc32(content)
        elif check_name == "crc64":
            ok = int.from_bytes(check, "little") == crc64(content)
        elif check_name == "sha256":
            ok = check == hashlib.sha256(content).digest()
        else:
            ok = True
        if not ok:
            raise ValueError(f"xz {check_name} check mismatch")
        pos += check_len
        blocks.append(
            (hdr_size + comp_size + check_len, len(content))
        )
        parts.append(content)
    # index
    index_start = pos
    pos += 1  # the 0x00 indicator
    n_rec, pos = _read_vli(buf, pos)
    if n_rec != len(blocks):
        raise ValueError("xz index record count != blocks seen")
    for want_unpadded, want_usize in blocks:
        unpadded, pos = _read_vli(buf, pos)
        usize, pos = _read_vli(buf, pos)
        if (unpadded, usize) != (want_unpadded, want_usize):
            raise ValueError("xz index record disagrees with block")
    pad = (-(pos - index_start)) % 4
    if any(buf[pos : pos + pad]):
        raise ValueError("xz index padding not zero")
    pos += pad
    if int.from_bytes(buf[pos : pos + 4], "little") != crc32(
        buf[index_start:pos]
    ):
        raise ValueError("xz index CRC mismatch")
    pos += 4
    index_size = pos - index_start
    # footer
    footer = buf[pos : pos + 12]
    if len(footer) != 12 or footer[10:12] != _FOOTER_MAGIC:
        raise ValueError("bad xz footer")
    if int.from_bytes(footer[:4], "little") != crc32(footer[4:10]):
        raise ValueError("xz footer CRC mismatch")
    backward = (int.from_bytes(footer[4:8], "little") + 1) * 4
    if backward != index_size:
        raise ValueError("xz footer backward size != index size")
    if footer[8:10] != buf[6:8]:
        raise ValueError("xz footer stream flags != header flags")
    pos += 12
    return {
        "check": check_name,
        "n_blocks": len(blocks),
        "content": b"".join(parts),
        "end": pos,
    }


# --- Spark surface -----------------------------------------------------------------------


def synthesize_xz_docs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document .xz member WRITTEN BY STDLIB liblzma: integrity
    check cycling NONE/CRC32/CRC64/SHA256 by id%4, preset cycling,
    repetitive tail for id%3==0 (long matches / rep cache)."""
    import lzma

    out_schema = f"{id_col} long, content binary"
    checks = [lzma.CHECK_NONE, lzma.CHECK_CRC32,
              lzma.CHECK_CRC64, lzma.CHECK_SHA256]

    def build(i, text):
        body = ("" if text is None else str(text)).encode()
        if i % 3 == 0:
            body += b" xz2" * (15 + i % 9)
        # small dict_size: see sources/lzma_alone.py — the
        # preset's full-dictionary alloc per call is ~100x
        # the work for KB docs and changes nothing downstream
        yield i, lzma.compress(
            body, format=lzma.FORMAT_XZ,
            check=checks[i % 4],
            filters=[{"id": lzma.FILTER_LZMA2,
                      "preset": [0, 1, 6, 9][i % 4],
                      "dict_size": 1 << 16}],
        )

    return map_rows(docs, build, out_schema, cols=(id_col, text_col))


def _fake_x86_tail(doc_id: int) -> bytes:
    """Deterministic pseudo-x86 machine code: alternating CALL/JMP
    opcodes (0xE8/0xE9) with 32-bit displacements whose top byte is
    0x00 or 0xFF — exactly the pattern the BCJ filter rewrites, so
    filtered members exercise real address conversions, not no-op
    scans. 5 bytes per instruction, length a pure id formula."""
    n = 40 + doc_id % 20
    out = bytearray()
    for k in range(n):
        out.append(0xE8 if k % 2 == 0 else 0xE9)
        out += ((doc_id * 48271 + k * 40503) & 0xFFFFFF).to_bytes(
            3, "little"
        )
        out.append(0x00 if k % 3 else 0xFF)
    return bytes(out)


def synthesize_xz_filtered_docs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document .xz member with a NON-TRIVIAL filter chain,
    WRITTEN BY STDLIB liblzma (the conformance writer): id%3==0
    delta(dist 1+id%8), id%3==1 x86 BCJ, id%3==2 delta+x86 stacked.
    The body is the doc text plus a pseudo-x86 tail the BCJ filter
    genuinely rewrites."""
    import lzma

    out_schema = f"{id_col} long, content binary"

    def build(i, text):
        body = ("" if text is None else str(text)).encode()
        body += _fake_x86_tail(i)
        if i % 3 == 0:
            pre = [{"id": lzma.FILTER_DELTA, "dist": 1 + i % 8}]
        elif i % 3 == 1:
            pre = [{"id": lzma.FILTER_X86}]
        else:
            pre = [{"id": lzma.FILTER_DELTA, "dist": 1 + i % 4},
                   {"id": lzma.FILTER_X86}]
        yield i, lzma.compress(
            body, format=lzma.FORMAT_XZ,
            check=lzma.CHECK_CRC64,
            filters=pre + [{"id": lzma.FILTER_LZMA2,
                            "preset": 4,
                            "dict_size": 1 << 16}],
        )

    return map_rows(docs, build, out_schema, cols=(id_col, text_col))


def xz_filtered_documents(
    media: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "content",
) -> DataFrame:
    """Decode filtered members and verify the binary tail BIT-EXACTLY
    in-engine against its id formula (binary bytes cannot ride a SQL
    md5); the text half's md5 and all lengths go to the oracle."""
    out_schema = (
        f"{id_col} long, filters string, content_len long,"
        " tail_len int, text_md5 string, tail_ok boolean"
    )

    def feat(i, content):
        d = parse_xz(content)
        body = d["content"]
        tail = _fake_x86_tail(i)
        if body[len(body) - len(tail):] != tail:
            raise ValueError(
                f"doc {i}: defiltered tail differs from formula"
            )
        text_part = body[: len(body) - len(tail)]
        yield (
            i,
            ("delta", "x86", "delta+x86")[i % 3],
            len(body),
            len(tail),
            hashlib.md5(text_part).hexdigest(),
            True,
        )

    return map_rows(media, feat, out_schema, cols=(id_col, content_col))


def xz_documents(
    media: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "content",
) -> DataFrame:
    out_schema = (
        f"{id_col} long, check string, n_blocks int,"
        " content_len long, text_md5 string"
    )

    def feat(i, content):
        d = parse_xz(content)
        yield (
            i,
            d["check"],
            d["n_blocks"],
            len(d["content"]),
            hashlib.md5(d["content"]).hexdigest(),
        )

    return map_rows(media, feat, out_schema, cols=(id_col, content_col))
