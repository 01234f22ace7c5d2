"""Zstandard frame walker (RFC 8878), stdlib-only and from scratch —
training corpora increasingly ship as ``.jsonl.zst``, and a planner
needs frame/block metadata (window size, content size, block layout,
checksum state) WITHOUT decompressing anything.

What is REAL here:

- the frame container, both directions: the 0xFD2FB528 magic,
  Frame_Header_Descriptor bit fields (Frame_Content_Size_flag,
  Single_Segment_flag, Content_Checksum_flag, Dictionary_ID_flag,
  the must-be-zero reserved bit), Window_Descriptor
  exponent/mantissa coding, 1/2/4-byte Dictionary_ID, the four
  Frame_Content_Size encodings incl. the flag-1 ``value - 256``
  bias, and SKIPPABLE frames (0x184D2A5x magic + LE32 size);
- the block chain: 3-byte little-endian Block_Header
  (Last_Block bit, Block_Type, 21-bit Block_Size), with RAW and RLE
  blocks decoded for real (an RLE block stores ONE byte repeated
  Block_Size times) — so any frame written by this module round-trips
  bit-exact; Block_Type 3 (Reserved) rejected loudly;
- XXH64 from scratch (the public xxHash spec: stripe accumulators,
  merge rounds, tail, avalanche) — the frame's Content_Checksum is
  the LOW 32 BITS of XXH64(content, seed=0) and the reader
  RE-VERIFIES it on every decoded frame; pinned in pytest against
  the spec's published check values;
- COMPRESSED blocks decode END TO END from scratch since round 8 via
  ``sources/zstdblock.py`` (FSE + Huffman per RFC 8878: backward
  bitstreams, distribution headers, Huffman tree descriptions incl.
  FSE-compressed weights and the 4-stream split, sequence execution
  with the three repeated-offset slots, Treeless/Repeat table reuse
  across blocks, matches reaching earlier blocks in the frame) —
  conformance-pinned against pyarrow's bundled libzstd and the zstd
  CLI across levels.

Scale: opaque binary + Arrow ``map_rows``, narrow, zero shuffle —
one task per shard file at 100 TB, the walk is O(#blocks) per frame.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame

from neuroimaging_data_pipeline_spark.functions.rowmap import map_rows, pack_shards
from neuroimaging_data_pipeline_spark.sources.zstdblock import (
    ZstdBlockState,
    decode_block,
    parse_zstd_dictionary,
)

_MAGIC = 0xFD2FB528
_SKIPPABLE_LO = 0x184D2A50
_SKIPPABLE_HI = 0x184D2A5F

# --- XXH64 (public spec constants) -------------------------------------------------

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl(v: int, r: int) -> int:
    return ((v << r) | (v >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M64, 31) * _P1) & _M64


def xxh64(data: bytes, seed: int = 0) -> int:
    """XXH64 of ``data`` — zstd's content checksum hash."""
    n = len(data)
    pos = 0
    if n >= 32:
        a1 = (seed + _P1 + _P2) & _M64
        a2 = (seed + _P2) & _M64
        a3 = seed & _M64
        a4 = (seed - _P1) & _M64
        while pos + 32 <= n:
            a1 = _round(a1, int.from_bytes(data[pos : pos + 8], "little"))
            a2 = _round(a2, int.from_bytes(data[pos + 8 : pos + 16], "little"))
            a3 = _round(a3, int.from_bytes(data[pos + 16 : pos + 24], "little"))
            a4 = _round(a4, int.from_bytes(data[pos + 24 : pos + 32], "little"))
            pos += 32
        acc = (
            _rotl(a1, 1) + _rotl(a2, 7) + _rotl(a3, 12) + _rotl(a4, 18)
        ) & _M64
        for a in (a1, a2, a3, a4):
            acc = ((acc ^ _round(0, a)) * _P1 + _P4) & _M64
    else:
        acc = (seed + _P5) & _M64
    acc = (acc + n) & _M64
    while pos + 8 <= n:
        acc ^= _round(0, int.from_bytes(data[pos : pos + 8], "little"))
        acc = (_rotl(acc, 27) * _P1 + _P4) & _M64
        pos += 8
    if pos + 4 <= n:
        acc ^= (int.from_bytes(data[pos : pos + 4], "little") * _P1) & _M64
        acc = (_rotl(acc, 23) * _P2 + _P3) & _M64
        pos += 4
    while pos < n:
        acc ^= (data[pos] * _P5) & _M64
        acc = (_rotl(acc, 11) * _P1) & _M64
        pos += 1
    acc ^= acc >> 33
    acc = (acc * _P2) & _M64
    acc ^= acc >> 29
    acc = (acc * _P3) & _M64
    acc ^= acc >> 32
    return acc


# --- writer -------------------------------------------------------------------------

_RAW_BLOCK = 100  # bytes per raw block in synthesized frames


def _block_header(last: bool, btype: int, size: int) -> bytes:
    if size >= 1 << 21:
        raise ValueError("block size exceeds the 21-bit field")
    return ((size << 3) | (btype << 1) | int(last)).to_bytes(3, "little")


def write_zstd_frame(
    content: bytes,
    rle_run: int = 0,
    rle_byte: int = 0x3D,  # '='
    single_segment: bool = False,
    fcs_present: bool = True,
    dict_id: int = 0,
    checksum: bool = True,
) -> bytes:
    """One zstd frame carrying ``content`` as raw blocks (plus an
    optional trailing RLE run of ``rle_byte``), spec-correct headers
    throughout. ``fcs_present=False`` is only legal without
    single_segment (the spec mandates a content size there)."""
    full = content + bytes([rle_byte]) * rle_run
    out = bytearray(_MAGIC.to_bytes(4, "little"))
    # descriptor fields
    if single_segment:
        fcs_present = True  # spec: FCS always present in this mode
        n = len(full)
        if n < 256:
            fcs_flag = 0
        elif n - 256 < 1 << 16:
            fcs_flag = 1
        else:
            fcs_flag = 2
    else:
        fcs_flag = 2 if fcs_present else 0
    did_flag = 0 if not dict_id else (1 if dict_id < 256 else 2)
    desc = (
        (fcs_flag << 6)
        | (int(single_segment) << 5)
        | (int(checksum) << 2)
        | did_flag
    )
    out.append(desc)
    if not single_segment:
        # smallest exponent whose base window covers the content
        exp = 0
        while (1 << (10 + exp)) < len(full) and exp < 31:
            exp += 1
        out.append(exp << 3)  # mantissa 0
    if did_flag:
        out += dict_id.to_bytes(1 if did_flag == 1 else 2, "little")
    if fcs_flag == 0 and single_segment:
        out.append(len(full))
    elif fcs_flag == 1:
        out += (len(full) - 256).to_bytes(2, "little")
    elif fcs_flag == 2 and fcs_present:
        out += len(full).to_bytes(4, "little")
    # blocks: raw chunks, optional RLE, at least one block per spec
    chunks = [
        content[i : i + _RAW_BLOCK] for i in range(0, len(content), _RAW_BLOCK)
    ]
    if not chunks and not rle_run:
        chunks = [b""]
    for i, ch in enumerate(chunks):
        last = (i == len(chunks) - 1) and not rle_run
        out += _block_header(last, 0, len(ch)) + ch
    if rle_run:
        out += _block_header(True, 1, rle_run) + bytes([rle_byte])
    if checksum:
        out += (xxh64(full) & 0xFFFFFFFF).to_bytes(4, "little")
    return bytes(out)


def write_skippable_frame(payload: bytes, nibble: int = 0) -> bytes:
    magic = _SKIPPABLE_LO | (nibble & 0xF)
    return (
        magic.to_bytes(4, "little")
        + len(payload).to_bytes(4, "little")
        + payload
    )


# --- reader -------------------------------------------------------------------------


def _try_import_zstd():
    try:  # stdlib on 3.14+
        from compression import zstd  # type: ignore

        return zstd.decompress
    except ImportError:
        pass
    try:
        import zstandard  # type: ignore

        return zstandard.ZstdDecompressor().decompress
    except ImportError:
        return None


def parse_zstd(buf: bytes, dictionary: bytes | dict | None = None) -> dict:
    """Walk every frame in ``buf``. Returns
    ``{"n_skippable", "frames": [frame...]}`` where each frame dict
    has single_segment, window_log (None in single-segment mode),
    dict_id, size_known, content_size (header field or None),
    n_blocks/n_raw/n_rle/n_compressed, has_checksum, checksum_ok
    (False when the frame carries no checksum to verify), and content
    (always bytes — RAW/RLE blocks inline, compressed blocks via the
    from-scratch FSE+Huffman decoder in zstdblock.py)."""
    buf = bytes(buf)
    pos = 0
    n_skippable = 0
    frames: list[dict] = []
    while pos < len(buf):
        if pos + 4 > len(buf):
            raise ValueError("truncated magic")
        magic = int.from_bytes(buf[pos : pos + 4], "little")
        if _SKIPPABLE_LO <= magic <= _SKIPPABLE_HI:
            size = int.from_bytes(buf[pos + 4 : pos + 8], "little")
            if pos + 8 + size > len(buf):
                raise ValueError("truncated skippable frame")
            n_skippable += 1
            pos += 8 + size
            continue
        if magic != _MAGIC:
            raise ValueError(f"bad zstd magic at {pos}: {magic:#x}")
        frame_magic_at = pos
        pos += 4
        desc = buf[pos]
        pos += 1
        if desc & 0x08:
            raise ValueError("reserved descriptor bit set")
        fcs_flag = desc >> 6
        single_segment = bool(desc & 0x20)
        has_checksum = bool(desc & 0x04)
        did_flag = desc & 0x03
        window_log = None
        if not single_segment:
            wd = buf[pos]
            pos += 1
            window_log = 10 + (wd >> 3)
            # mantissa adds sub-power steps; only the log is planner-
            # relevant, but a reserved-range exponent still fails loudly
            if window_log > 41:
                raise ValueError("window exponent beyond spec range")
        dict_id = 0
        if did_flag:
            n = {1: 1, 2: 2, 3: 4}[did_flag]
            dict_id = int.from_bytes(buf[pos : pos + n], "little")
            pos += n
        content_size = None
        if fcs_flag == 0:
            if single_segment:
                content_size = buf[pos]
                pos += 1
        elif fcs_flag == 1:
            content_size = int.from_bytes(buf[pos : pos + 2], "little") + 256
            pos += 2
        elif fcs_flag == 2:
            content_size = int.from_bytes(buf[pos : pos + 4], "little")
            pos += 4
        else:
            content_size = int.from_bytes(buf[pos : pos + 8], "little")
            pos += 8
        n_blocks = n_raw = n_rle = n_compressed = 0
        # dictionary frames (RFC 8878 §5): the dict's entropy tables
        # and repeat offsets seed the state, its content prefixes the
        # match window (and is excluded from the frame's output).
        # A declared dict_id WITHOUT a supplied dictionary is not an
        # upfront error: frames whose blocks never reference the
        # dictionary (raw/RLE, or self-contained compressed blocks)
        # decode fine; genuine references fail loudly below and the
        # except wraps them with the dictionary hint.
        # A SUPPLIED dictionary applies even when the frame omits
        # Dictionary_ID (ADVICE r8): RFC 8878 allows encoders to
        # suppress the ID on dictionary-compressed frames, so the
        # caller's explicit dictionary wins; the id cross-check only
        # runs when both sides declare one.
        if dictionary is not None:
            dparsed = (
                dictionary
                if isinstance(dictionary, dict)
                else parse_zstd_dictionary(dictionary)
            )
            if dict_id and dparsed["dict_id"] not in (0, dict_id):
                raise ValueError(
                    f"frame wants dictionary {dict_id}, got "
                    f"{dparsed['dict_id']}"
                )
            dstate = dparsed["state"]
            blk_state = ZstdBlockState()
            blk_state.huf = dstate.huf
            blk_state.ll, blk_state.of, blk_state.ml = (
                dstate.ll, dstate.of, dstate.ml,
            )
            blk_state.reps = list(dstate.reps)
            win = bytearray(dparsed["content"])
        else:
            win = bytearray()  # frame window: matches reach earlier blocks
            blk_state = ZstdBlockState()
        win_base = len(win)
        while True:
            # truncation is a loud error, not an infinite loop: a
            # 3-byte read past EOF would decode as a non-last RAW
            # block of size 0, forever (ADVICE r7 #1)
            if pos + 3 > len(buf):
                raise ValueError(f"truncated frame: block header at {pos} past end of buffer")
            bh = int.from_bytes(buf[pos : pos + 3], "little")
            pos += 3
            last, btype, bsize = bh & 1, (bh >> 1) & 3, bh >> 3
            n_blocks += 1
            if btype == 0:
                if pos + bsize > len(buf):
                    raise ValueError("truncated frame: RAW block body past end of buffer")
                n_raw += 1
                win += buf[pos : pos + bsize]
                pos += bsize
            elif btype == 1:
                if pos + 1 > len(buf):
                    raise ValueError("truncated frame: RLE block byte past end of buffer")
                n_rle += 1
                win += buf[pos : pos + 1] * bsize
                pos += 1
            elif btype == 2:
                if pos + bsize > len(buf):
                    raise ValueError("truncated frame: compressed block body past end of buffer")
                n_compressed += 1
                try:
                    decode_block(buf[pos : pos + bsize], blk_state, win)
                except ValueError as e:
                    if dict_id and dictionary is None:
                        raise ValueError(
                            f"frame declares dictionary {dict_id} and "
                            f"decoding without it failed: {e}"
                        ) from e
                    raise
                pos += bsize
            else:
                raise ValueError("reserved block type 3")
            if last:
                break
        content = bytes(win[win_base:])
        checksum_ok = None
        if has_checksum:
            stored = int.from_bytes(buf[pos : pos + 4], "little")
            pos += 4
            checksum_ok = (xxh64(content) & 0xFFFFFFFF) == stored
        else:
            checksum_ok = False  # nothing to verify against
        if content_size is not None and len(content) != content_size:
            raise ValueError("decoded size != Frame_Content_Size")
        frames.append(
            {
                "single_segment": single_segment,
                "window_log": window_log,
                "dict_id": dict_id,
                "size_known": content_size is not None,
                "content_size": content_size,
                "n_blocks": n_blocks,
                "n_raw": n_raw,
                "n_rle": n_rle,
                "n_compressed": n_compressed,
                "has_checksum": has_checksum,
                "checksum_ok": checksum_ok,
                "content": content,
            }
        )
    return {"n_skippable": n_skippable, "frames": frames}


# --- Spark surface ------------------------------------------------------------------


def synthesize_zstd_docs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document .zst member exercising the header variants:
    skippable prefix frame for id%6==0, single-segment for odd ids,
    FCS omitted (unknown size) for id%4==0 non-single-segment frames,
    1-byte dictionary id for id%5==0, trailing RLE run of '=' for
    id%3==0, checksum present except id%4==3. Pure id formulas the
    oracle recomputes."""
    out_schema = f"{id_col} long, content binary"

    def build(i, text):
        body = ("" if text is None else str(text)).encode()
        blob = b""
        if i % 6 == 0:
            blob += write_skippable_frame(b"pad" * 2, nibble=i % 16)
        blob += write_zstd_frame(
            body,
            rle_run=(16 + i % 7) if i % 3 == 0 else 0,
            single_segment=bool(i % 2),
            fcs_present=(i % 4 != 0),
            dict_id=(i % 200) + 1 if i % 5 == 0 else 0,
            checksum=(i % 4 != 3),
        )
        yield i, blob

    return map_rows(docs, build, out_schema, cols=(id_col, text_col))


_PAD_SENTENCE = "the quick brown fox jumps over the lazy dog. "
_LEVELS = (1, 3, 6, 9, 12)


def synthesize_zstd_compressed_docs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document REAL compressed `.zst` members, written by
    pyarrow's bundled libzstd at a level cycling with doc id — the
    writer side of the s25b conformance loop (our from-scratch
    FSE+Huffman decoder must reproduce libzstd's output bit-exactly).
    Each blob is: optional skippable frame (id%6==0), the libzstd
    compressed frame over text + a compressible English pad (so
    compressed blocks actually appear even for short docs), then one
    frame of OUR raw-block writer carrying a 'T<id>' trailer — a
    mixed stream the decoder walks end to end. All content is a pure
    id/text formula the oracle recomputes."""
    out_schema = f"{id_col} long, content binary"

    def build(i, text):
        import pyarrow as pa

        body = ("" if text is None else str(text)).encode()
        body += (_PAD_SENTENCE * (20 + i % 30)).encode()
        blob = b""
        if i % 6 == 0:
            blob += write_skippable_frame(b"skip" * 3, nibble=i % 16)
        codec = pa.Codec("zstd", compression_level=_LEVELS[i % 5])
        blob += bytes(codec.compress(body))
        blob += write_zstd_frame(b"T%d" % i, checksum=True)
        yield i, blob

    return map_rows(docs, build, out_schema, cols=(id_col, text_col))


def zstd_decoded_documents(
    media: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "content",
) -> DataFrame:
    """Decode mixed zstd streams (compressed + raw frames) with the
    from-scratch block decoder and emit oracle-recomputable features:
    byte length and md5 of the full decoded stream, the skippable
    count, and the trailer frame's PARSED XXH64 checksum verdict (the
    r8 ADVICE fix: the old ``level`` column was the synthesis formula
    echoed back — it compared a formula to itself; compression level
    is not recorded in a zstd stream, so it cannot be parsed)."""
    out_schema = (
        f"{id_col} long, n_skippable int, trailer_checksum_ok boolean,"
        " content_len long, text_md5 string"
    )

    def feat(i, content):
        d = parse_zstd(content)
        full = b"".join(f["content"] for f in d["frames"])
        # the trailer frame was written with a checksum: the
        # from-scratch XXH64 verdict goes to the OUTPUT so the
        # oracle's literal TRUE verifies the checksum math ran
        yield (
            i,
            d["n_skippable"],
            d["frames"][-1]["checksum_ok"] is True,
            len(full),
            hashlib.md5(full).hexdigest(),
        )

    return map_rows(media, feat, out_schema, cols=(id_col, content_col))


_DOCS_PER_ZSHARD = 50


def synthesize_jsonl_zst_shards(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Pack documents into multi-doc ``.jsonl.zst`` shards — THE
    training-corpus layout: 50 docs per shard (shard = id // 50, one
    keyed shuffle), each shard one JSONL text (``json.dumps`` lines,
    id-sorted so the bytes are deterministic) compressed by pyarrow's
    bundled libzstd at a level cycling with shard id. The decoder
    side must reverse the whole stack — frame, FSE/Huffman blocks,
    JSONL, JSON escaping — to reassemble the exact documents."""
    import json as _json

    import pyarrow as pa

    def pack(shard, docs):
        lines = [
            _json.dumps({"id": i, "text": "" if t is None else t}, sort_keys=True)
            for i, t in docs
        ]
        body = ("\n".join(lines) + "\n").encode()
        codec = pa.Codec("zstd", compression_level=(1, 3, 6, 9)[shard % 4])
        yield shard, bytes(codec.compress(body))

    return pack_shards(
        docs, pack, "shard_id long, content binary", _DOCS_PER_ZSHARD,
        cols=(id_col, text_col),
    )


def zstd_shard_documents(
    shards: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Unpack ``.jsonl.zst`` shards with the FROM-SCRATCH decoder and
    re-emit one row per document — the inverse of
    synthesize_jsonl_zst_shards, one narrow Arrow pass."""
    import json as _json

    out_schema = f"shard_id long, {id_col} long, text string"

    def unpack(sid, content):
        (f,) = parse_zstd(content)["frames"]
        for line in f["content"].decode().splitlines():
            rec = _json.loads(line)
            yield sid, int(rec["id"]), rec["text"]

    return map_rows(shards, unpack, out_schema, cols=("shard_id", "content"))


def zstd_meta_features(
    media: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "content",
) -> DataFrame:
    out_schema = (
        f"{id_col} long, n_skippable int, single_segment boolean,"
        " size_known boolean, dict_id int, n_blocks int, n_rle int,"
        " content_len long, has_checksum boolean, checksum_ok boolean,"
        " text_md5 string"
    )

    def feat(i, content):
        d = parse_zstd(content)
        (f,) = d["frames"]  # one data frame per doc here
        yield (
            i,
            d["n_skippable"],
            f["single_segment"],
            f["size_known"],
            f["dict_id"],
            f["n_blocks"],
            f["n_rle"],
            len(f["content"]),
            f["has_checksum"],
            bool(f["checksum_ok"]),
            hashlib.md5(f["content"]).hexdigest(),
        )

    return map_rows(media, feat, out_schema, cols=(id_col, content_col))
