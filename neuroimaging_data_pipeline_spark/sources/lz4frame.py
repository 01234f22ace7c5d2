"""LZ4 codec, stdlib-only and from scratch, BOTH directions and with
NO capability gate — unlike zstd (sources/zstdmeta.py), LZ4 has no
entropy coding stage, so the whole format is implementable exactly:
`.lz4` training shards decode for real here.

What is REAL:

- the BLOCK format (the lz4_Block_format spec): token byte splitting
  4-bit literal/match lengths, 255-saturated length extension bytes,
  little-endian 16-bit match offsets, MINMATCH=4, overlap-copy match
  semantics (offset < length replicates runs), and the end-of-block
  rules (last sequence is literals-only; the last 5 bytes are always
  literals; a match never starts within the last 12 bytes) — the
  compressor is a greedy 4-byte-hash matcher that honors those rules,
  and the decoder enforces framing exactly (bad offsets, truncated
  sequences and missing end-literals all raise);
- the FRAME format (lz4_Frame_format v1.6+): 0x184D2204 magic, FLG
  (version bits, Block_Indep, Block_Checksum, Content_Size,
  Content_Checksum, DictID) and BD (Block_MaxSize code) descriptor
  bytes, the HC header checksum (= second byte of XXH32 over the
  descriptor), 8-byte LE content size, block headers whose high bit
  marks STORED (uncompressed) blocks, the 0x00000000 EndMark,
  optional per-block XXH32 checksums and the trailing content XXH32;
- XXH32 from scratch (the same public spec family as zstdmeta's
  XXH64; published check values pinned in pytest) — used for ALL
  THREE checksum sites (header byte, per-block, content) and
  re-verified on decode.

The compressor emits a STORED block whenever compression does not
win (the spec's rule), so both block kinds stay hot. Since r8 the
decoder also handles block-LINKED frames (Block_Indep = 0): each
compressed block's match window is the previous 64 KiB of frame
output — the lz4 CLI's -BD mode. Conformance is pinned BOTH ways
against the real `lz4` CLI present in this environment (levels,
small blocks, block checksums, linked mode), plus the `lz4.frame`
package interop pin where that package exists.

Scale: opaque binary + Arrow ``map_rows``, narrow, zero shuffle.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame

from neuroimaging_data_pipeline_spark.functions.rowmap import map_rows

_MAGIC = 0x184D2204
_MINMATCH = 4
_MFLIMIT = 12   # a match may not start within the last 12 bytes
_LASTLITERALS = 5

# --- XXH32 (public spec constants) --------------------------------------------------

_P32_1 = 2654435761
_P32_2 = 2246822519
_P32_3 = 3266489917
_P32_4 = 668265263
_P32_5 = 374761393
_M32 = (1 << 32) - 1


def _rotl32(v: int, r: int) -> int:
    return ((v << r) | (v >> (32 - r))) & _M32


def xxh32(data: bytes, seed: int = 0) -> int:
    n = len(data)
    pos = 0
    if n >= 16:
        a1 = (seed + _P32_1 + _P32_2) & _M32
        a2 = (seed + _P32_2) & _M32
        a3 = seed & _M32
        a4 = (seed - _P32_1) & _M32
        while pos + 16 <= n:
            for i, a in enumerate((a1, a2, a3, a4)):
                lane = int.from_bytes(
                    data[pos + 4 * i : pos + 4 * i + 4], "little"
                )
                a = _rotl32((a + lane * _P32_2) & _M32, 13)
                a = (a * _P32_1) & _M32
                if i == 0:
                    a1 = a
                elif i == 1:
                    a2 = a
                elif i == 2:
                    a3 = a
                else:
                    a4 = a
            pos += 16
        acc = (
            _rotl32(a1, 1) + _rotl32(a2, 7) + _rotl32(a3, 12)
            + _rotl32(a4, 18)
        ) & _M32
    else:
        acc = (seed + _P32_5) & _M32
    acc = (acc + n) & _M32
    while pos + 4 <= n:
        lane = int.from_bytes(data[pos : pos + 4], "little")
        acc = (acc + lane * _P32_3) & _M32
        acc = (_rotl32(acc, 17) * _P32_4) & _M32
        pos += 4
    while pos < n:
        acc = (acc + data[pos] * _P32_5) & _M32
        acc = (_rotl32(acc, 11) * _P32_1) & _M32
        pos += 1
    acc ^= acc >> 15
    acc = (acc * _P32_2) & _M32
    acc ^= acc >> 13
    acc = (acc * _P32_3) & _M32
    acc ^= acc >> 16
    return acc


# --- block codec --------------------------------------------------------------------


def _write_length(base: int, n: int) -> bytes:
    """LZ4 length coding past the 4-bit field: 255-saturated bytes."""
    out = bytearray()
    n -= base
    while n >= 255:
        out.append(255)
        n -= 255
    out.append(n)
    return bytes(out)


def lz4_compress_block(src: bytes) -> bytes:
    """Greedy single-pass LZ4 block compressor: 4-byte hash table,
    most-recent-occurrence matches, spec end rules enforced. Output
    decodes through ANY conforming decoder (pinned against lz4.frame
    when installed)."""
    n = len(src)
    out = bytearray()
    table: dict[int, int] = {}
    anchor = 0
    pos = 0
    # matches may not start within the final MFLIMIT bytes
    limit = n - _MFLIMIT
    while pos <= limit and n >= _MFLIMIT + 1:
        key = int.from_bytes(src[pos : pos + 4], "little")
        cand = table.get(key)
        table[key] = pos
        if (
            cand is None
            or pos - cand > 0xFFFF
            or src[cand : cand + 4] != src[pos : pos + 4]
        ):
            pos += 1
            continue
        # extend the match, but leave the last 5 bytes as literals
        mlen = 4
        max_m = n - _LASTLITERALS - pos
        while mlen < max_m and src[cand + mlen] == src[pos + mlen]:
            mlen += 1
        lits = src[anchor:pos]
        lit_len = len(lits)
        token_l = min(lit_len, 15)
        token_m = min(mlen - _MINMATCH, 15)
        out.append((token_l << 4) | token_m)
        if lit_len >= 15:
            out += _write_length(15, lit_len)
        out += lits
        out += (pos - cand).to_bytes(2, "little")
        if mlen - _MINMATCH >= 15:
            out += _write_length(15, mlen - _MINMATCH)
        pos += mlen
        anchor = pos
    # final literals-only sequence (mandatory)
    lits = src[anchor:]
    token_l = min(len(lits), 15)
    out.append(token_l << 4)
    if len(lits) >= 15:
        out += _write_length(15, len(lits))
    out += lits
    return bytes(out)


def lz4_decompress_block(
    src: bytes, max_out: int | None = None, window: bytes = b""
) -> bytes:
    """``window``: up to the last 64 KiB of previously decoded frame
    output — block-LINKED frames (FLG block-independence bit 0) let
    matches reach across block boundaries into it (r8)."""
    out = bytearray(window)
    base = len(out)
    pos = 0
    n = len(src)
    while True:
        if pos >= n:
            raise ValueError("LZ4 block truncated before end sequence")
        token = src[pos]
        pos += 1
        lit_len = token >> 4
        if lit_len == 15:
            while True:
                b = src[pos]
                pos += 1
                lit_len += b
                if b != 255:
                    break
        if pos + lit_len > n:
            raise ValueError("LZ4 literal run past block end")
        out += src[pos : pos + lit_len]
        pos += lit_len
        if pos == n:  # end-of-block: literals-only final sequence
            break
        if pos + 2 > n:
            raise ValueError("LZ4 block truncated mid-offset")
        offset = int.from_bytes(src[pos : pos + 2], "little")
        pos += 2
        if offset == 0 or offset > len(out):
            raise ValueError(f"bad LZ4 match offset {offset}")
        mlen = (token & 0xF) + _MINMATCH
        if (token & 0xF) == 15:
            while True:
                b = src[pos]
                pos += 1
                mlen += b
                if b != 255:
                    break
        # overlap-copy: offset < mlen legitimately replicates runs
        start = len(out) - offset
        for k in range(mlen):
            out.append(out[start + k])
        if max_out is not None and len(out) - base > max_out:
            raise ValueError("LZ4 output exceeds declared size")
    return bytes(out[base:])


# --- frame codec --------------------------------------------------------------------

_BD_SIZES = {4: 1 << 16, 5: 1 << 18, 6: 1 << 20, 7: 1 << 22}


def write_lz4_frame(
    content: bytes,
    block_max_code: int = 4,
    block_checksum: bool = False,
    content_size: bool = True,
    content_checksum: bool = True,
    force_stored: bool = False,
) -> bytes:
    """A spec-correct .lz4 frame. Each block is compressed with the
    greedy matcher and STORED instead whenever that does not win
    (``force_stored`` pins the stored path for tests/fixtures)."""
    if block_max_code not in _BD_SIZES:
        raise ValueError("Block_MaxSize code must be 4..7")
    flg = (
        (1 << 6)                        # version 01
        | (1 << 5)                      # block independence
        | (int(block_checksum) << 4)
        | (int(content_size) << 3)
        | (int(content_checksum) << 2)
    )
    bd = block_max_code << 4
    desc = bytes([flg, bd])
    if content_size:
        desc += len(content).to_bytes(8, "little")
    hc = (xxh32(desc) >> 8) & 0xFF
    out = bytearray(_MAGIC.to_bytes(4, "little")) + desc + bytes([hc])
    bmax = _BD_SIZES[block_max_code]
    for i in range(0, max(len(content), 1), bmax):
        chunk = content[i : i + bmax]
        comp = lz4_compress_block(chunk) if not force_stored else chunk
        if force_stored or len(comp) >= len(chunk):
            out += (len(chunk) | 0x80000000).to_bytes(4, "little") + chunk
            blob = chunk
        else:
            out += len(comp).to_bytes(4, "little") + comp
            blob = comp
        if block_checksum:
            out += xxh32(blob).to_bytes(4, "little")
    out += (0).to_bytes(4, "little")  # EndMark
    if content_checksum:
        out += xxh32(content).to_bytes(4, "little")
    return bytes(out)


def parse_lz4_frame(buf: bytes) -> dict:
    """Decode one .lz4 frame; every checksum site re-verified.
    Returns content plus planner metadata (block layout, stored vs
    compressed counts, declared sizes, checksum states)."""
    buf = bytes(buf)
    if int.from_bytes(buf[:4], "little") != _MAGIC:
        raise ValueError("bad LZ4 frame magic")
    flg = buf[4]
    if (flg >> 6) != 1:
        raise ValueError("unsupported LZ4 frame version")
    if flg & 0x02:
        raise ValueError("reserved FLG bit set")
    block_indep = bool(flg & 0x20)
    has_bsum = bool(flg & 0x10)
    has_csize = bool(flg & 0x08)
    has_csum = bool(flg & 0x04)
    has_dict = bool(flg & 0x01)
    bd = buf[5]
    bmax_code = (bd >> 4) & 0x7
    if bmax_code not in _BD_SIZES:
        raise ValueError(f"reserved Block_MaxSize code {bmax_code}")
    pos = 6
    csize = None
    if has_csize:
        csize = int.from_bytes(buf[pos : pos + 8], "little")
        pos += 8
    if has_dict:
        pos += 4
    hc = buf[pos]
    pos += 1
    if hc != (xxh32(buf[4 : pos - 1]) >> 8) & 0xFF:
        raise ValueError("LZ4 frame header checksum mismatch")
    n_blocks = n_stored = 0
    parts: list[bytes] = []
    tail = b""  # rolling 64 KiB match window (linked frames only)
    bmax = _BD_SIZES[bmax_code]
    while True:
        word = int.from_bytes(buf[pos : pos + 4], "little")
        pos += 4
        if word == 0:  # EndMark
            break
        stored = bool(word & 0x80000000)
        size = word & 0x7FFFFFFF
        if size > bmax:
            raise ValueError("block larger than declared Block_MaxSize")
        blob = buf[pos : pos + size]
        if len(blob) != size:
            raise ValueError("truncated LZ4 block")
        pos += size
        if has_bsum:
            want = int.from_bytes(buf[pos : pos + 4], "little")
            pos += 4
            if xxh32(blob) != want:
                raise ValueError("LZ4 block checksum mismatch")
        n_blocks += 1
        if stored:
            n_stored += 1
            out = blob
        else:
            # linked frames: the previous 64 KiB of frame output is
            # match window for this block (no-op when independent —
            # lz4 CLI/liblz4 never emit cross-block offsets then)
            out = lz4_decompress_block(blob, max_out=bmax, window=tail)
        parts.append(out)
        if not block_indep:
            # maintain the rolling window incrementally — re-joining
            # all parts per block is O(n^2) in block count
            tail = out[-65536:] if len(out) >= 65536 else (tail + out)[-65536:]
    content = b"".join(parts)
    checksum_ok = None
    if has_csum:
        want = int.from_bytes(buf[pos : pos + 4], "little")
        pos += 4
        checksum_ok = xxh32(content) == want
        if not checksum_ok:
            raise ValueError("LZ4 content checksum mismatch")
    if csize is not None and len(content) != csize:
        raise ValueError("decoded size != declared content size")
    return {
        "block_indep": block_indep,
        "block_max": bmax,
        "size_known": csize is not None,
        "n_blocks": n_blocks,
        "n_stored": n_stored,
        "has_block_checksum": has_bsum,
        "has_content_checksum": has_csum,
        "checksum_ok": checksum_ok,
        "content": content,
    }


# --- Spark surface ------------------------------------------------------------------


def synthesize_lz4_docs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document .lz4 member: compressible tail appended for
    id%3==0 (so compressed blocks stay hot even on short texts),
    forced-stored frames for id%7==0, block checksums for even ids,
    content size omitted for id%5==0. Pure id formulas the oracle
    recomputes."""
    out_schema = f"{id_col} long, content binary"

    def build(i, text):
        body = ("" if text is None else str(text)).encode()
        if i % 3 == 0:
            body += b" lz4" * (8 + i % 5)
        yield i, write_lz4_frame(
            body,
            block_checksum=(i % 2 == 0),
            content_size=(i % 5 != 0),
            content_checksum=True,
            force_stored=(i % 7 == 0),
        )

    return map_rows(docs, build, out_schema, cols=(id_col, text_col))


def lz4_documents(
    media: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "content",
) -> DataFrame:
    out_schema = (
        f"{id_col} long, n_blocks int, size_known boolean,"
        " has_block_checksum boolean, checksum_ok boolean,"
        " content_len long, text_md5 string"
    )

    def feat(i, content):
        d = parse_lz4_frame(content)
        yield (
            i,
            d["n_blocks"],
            d["size_known"],
            d["has_block_checksum"],
            bool(d["checksum_ok"]),
            len(d["content"]),
            hashlib.md5(d["content"]).hexdigest(),
        )

    return map_rows(media, feat, out_schema, cols=(id_col, content_col))
