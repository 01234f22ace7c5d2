"""Real MP4 (ISO base media file format) container codec, stdlib-only.

Retires the container half of the 'MP4 via ffmpeg' capability gate
declared in ``multimodal/binaryops.py``: the ISO/IEC 14496-12 box
structure — ftyp / mdat / moov(mvhd, trak(tkhd, mdia(mdhd, hdlr,
minf(vmhd, dinf(dref(url)), stbl(stsd, stts, stsc, stsz,
stco))))) — is written and parsed for REAL with ``struct`` only.
What stays gated on external libraries is only the codec decode of
the frame PAYLOAD (H.264 etc. need ffmpeg); the container-level
operations a training-data pipeline actually runs at scan time —
track/duration/sample-count metadata extraction and frame-sample
byte-range extraction via the stts/stsc/stsz/stco sample tables —
are genuine here, the same split the reference applies at its
NIfTI boundary (ssm_loop.py:40 loads headers+voxels; it never
decodes scanner k-space either).

Spark boundary: identical to the sibling codecs — media are opaque
``binary`` columns, encode/decode run inside Arrow-batched
``map_rows``, plans stay narrow (no shuffle), and the fixture
bytes derive from pure integer formulas so a DuckDB oracle can
recompute every emitted feature without any codec.

Writer realism notes (each is a decoder obligation exercised by the
fixtures): sample durations alternate so stts needs true run-length
entries; samples split across TWO chunks so stsc/stco mapping is
non-trivial; a ``free`` box sits between mdat and moov so the walker
must skip unknown boxes; mvhd/tkhd/mdhd are version 0 but the parser
also takes version 1 (64-bit) forms and 64-bit ``largesize`` box
headers, covered in tests.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
from pyspark.sql import DataFrame

from neuroimaging_data_pipeline_spark.functions.rowmap import map_rows

MOVIE_TIMESCALE = 1000


def _box(tag: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + tag + payload


def _full(tag: bytes, version: int, flags: int, payload: bytes) -> bytes:
    return _box(tag, struct.pack(">B", version) + flags.to_bytes(3, "big") + payload)


def _sample_plan(doc_id: int) -> tuple[list[int], list[int]]:
    """Deterministic per-doc sample table: (durations, sizes).

    n_samples = 4 + doc_id % 5;
    duration_i = 100 + (((doc_id + i) // 2) % 3)*50 media units — the
    //2 makes consecutive durations repeat in pairs, so stts genuinely
    run-length-compresses (a formula with no equal neighbors would let
    a one-entry-per-sample "run length" pass);
    size_i = 8 + ((doc_id*13 + i*7) % 9) bytes. Pure integer formulas
    an SQL oracle recomputes verbatim.
    """
    n = 4 + doc_id % 5
    durs = [100 + (((doc_id + i) // 2) % 3) * 50 for i in range(n)]
    sizes = [8 + ((doc_id * 13 + i * 7) % 9) for i in range(n)]
    return durs, sizes


def _sample_payload(doc_id: int, i: int, size: int) -> bytes:
    """Frame payload byte j = (doc_id*31 + i*101 + j*7) % 256."""
    j = np.arange(size, dtype=np.int64)
    return ((doc_id * 31 + i * 101 + j * 7) % 256).astype(np.uint8).tobytes()


def _stts_runs(durations: list[int]) -> list[tuple[int, int]]:
    runs: list[tuple[int, int]] = []
    for d in durations:
        if runs and runs[-1][1] == d:
            runs[-1] = (runs[-1][0] + 1, d)
        else:
            runs.append((1, d))
    return runs


def encode_mp4(
    doc_id: int,
    width: int = 64,
    height: int = 48,
    payloads: list[bytes] | None = None,
    codec: bytes = b"mp4v",
    config: bytes = b"",
) -> bytes:
    """Build a genuine minimal MP4: one video track whose sample
    tables come from ``_sample_plan(doc_id)``, sample payloads in
    mdat split across two chunks, a ``free`` box the parser must
    skip, and a complete moov with real stts run-length encoding.

    ``payloads`` overrides the synthetic sample bytes (sizes are
    derived from them; durations keep the plan formula) — the MJPEG
    profile passes real JPEG frames here with ``codec=b'jpeg'``, the
    QuickTime/ISO motion-JPEG VisualSampleEntry fourcc.

    ``config`` is an already-boxed codec configuration record
    appended inside the VisualSampleEntry — the AVC profile passes
    the ``avcC`` box (ISO 14496-15 §5.4.2.1.2) here with
    ``codec=b'avc1'``."""
    if payloads is None:
        durs, sizes = _sample_plan(doc_id)
        n = len(durs)
        payloads = [
            _sample_payload(doc_id, i, sz) for i, sz in enumerate(sizes)
        ]
    else:
        n = len(payloads)
        sizes = [len(p) for p in payloads]
        durs = [100 + (((doc_id + i) // 2) % 3) * 50 for i in range(n)]
    mdat = _box(b"mdat", b"".join(payloads))

    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2mp41")
    free = _box(b"free", b"\x00" * 12)

    mdat_payload_off = len(ftyp) + 8  # mdat header is 8 bytes
    n_chunk1 = (n + 1) // 2
    chunk1_bytes = sum(sizes[:n_chunk1])
    stco_offsets = [mdat_payload_off, mdat_payload_off + chunk1_bytes]

    duration = sum(durs)
    mvhd = _full(
        b"mvhd",
        0,
        0,
        struct.pack(
            ">IIII",
            0,  # creation_time (deterministic: epoch)
            0,  # modification_time
            MOVIE_TIMESCALE,
            duration,
        )
        + struct.pack(">i", 0x00010000)  # rate 1.0
        + struct.pack(">h", 0x0100)  # volume 1.0
        + b"\x00" * 10  # reserved
        + struct.pack(
            ">9i", 0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000
        )  # unity matrix
        + b"\x00" * 24  # pre_defined
        + struct.pack(">I", 2),  # next_track_ID
    )
    tkhd = _full(
        b"tkhd",
        0,
        7,  # enabled | in_movie | in_preview
        struct.pack(">IIIII", 0, 0, 1, 0, duration)
        + b"\x00" * 8  # reserved
        + struct.pack(">hhhh", 0, 0, 0, 0)  # layer, alt_group, volume, rsvd
        + struct.pack(
            ">9i", 0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000
        )
        + struct.pack(">II", width << 16, height << 16),  # 16.16 fixed
    )
    mdhd = _full(
        b"mdhd",
        0,
        0,
        struct.pack(">IIII", 0, 0, MOVIE_TIMESCALE, duration)
        + struct.pack(">H", 0x55C4)  # language 'und'
        + struct.pack(">H", 0),
    )
    hdlr = _full(
        b"hdlr",
        0,
        0,
        struct.pack(">I", 0)
        + b"vide"
        + b"\x00" * 12
        + b"VideoHandler\x00",
    )
    # minimal VisualSampleEntry (ISO 14496-12 §12.1.3)
    sample_entry = _box(
        codec,
        b"\x00" * 6
        + struct.pack(">H", 1)  # data_reference_index
        + b"\x00" * 16  # pre_defined / reserved
        + struct.pack(">HH", width, height)
        + struct.pack(">II", 0x00480000, 0x00480000)  # 72 dpi
        + struct.pack(">I", 0)
        + struct.pack(">H", 1)  # frame_count
        + b"\x00" * 32  # compressorname
        + struct.pack(">Hh", 24, -1)  # depth, pre_defined
        + config,
    )
    stsd = _full(b"stsd", 0, 0, struct.pack(">I", 1) + sample_entry)
    runs = _stts_runs(durs)
    stts = _full(
        b"stts",
        0,
        0,
        struct.pack(">I", len(runs))
        + b"".join(struct.pack(">II", c, d) for c, d in runs),
    )
    stsc_entries = [(1, n_chunk1, 1)]
    if n - n_chunk1:
        stsc_entries.append((2, n - n_chunk1, 1))
    stsc = _full(
        b"stsc",
        0,
        0,
        struct.pack(">I", len(stsc_entries))
        + b"".join(struct.pack(">III", *e) for e in stsc_entries),
    )
    stsz = _full(
        b"stsz",
        0,
        0,
        struct.pack(">II", 0, n)
        + b"".join(struct.pack(">I", s) for s in sizes),
    )
    n_chunks = 2 if n - n_chunk1 else 1
    stco = _full(
        b"stco",
        0,
        0,
        struct.pack(">I", n_chunks)
        + b"".join(struct.pack(">I", o) for o in stco_offsets[:n_chunks]),
    )
    stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)
    vmhd = _full(b"vmhd", 0, 1, struct.pack(">HHHH", 0, 0, 0, 0))
    url = _full(b"url ", 0, 1, b"")  # self-contained
    dref = _full(b"dref", 0, 0, struct.pack(">I", 1) + url)
    dinf = _box(b"dinf", dref)
    minf = _box(b"minf", vmhd + dinf + stbl)
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    trak = _box(b"trak", tkhd + mdia)
    moov = _box(b"moov", mvhd + trak)
    return ftyp + mdat + free + moov


def _walk_boxes(data: bytes, start: int, end: int) -> Iterator[tuple[bytes, int, int]]:
    """Yield (tag, payload_start, payload_end) for each box in
    [start, end). Handles size==1 (64-bit largesize) and size==0
    (box extends to end)."""
    pos = start
    while pos + 8 <= end:
        (size,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        body = pos + 8
        if size == 1:
            (large,) = struct.unpack(">Q", data[pos + 8 : pos + 16])
            body, size = pos + 16, large
        elif size == 0:
            size = end - pos
        if size < (body - pos) or pos + size > end:
            raise ValueError(
                f"bad MP4 box {tag!r} at {pos}: size {size} exceeds bounds"
            )
        yield tag, body, pos + size
        pos += size


_CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl", b"dinf", b"edts"}


def _index_boxes(data: bytes) -> dict[bytes, list[tuple[int, int]]]:
    """Flat index tag -> [(payload_start, payload_end)], recursing
    into container boxes; unknown/leaf boxes are recorded and skipped."""
    idx: dict[bytes, list[tuple[int, int]]] = {}

    def rec(start: int, end: int) -> None:
        for tag, s, e in _walk_boxes(data, start, end):
            idx.setdefault(tag, []).append((s, e))
            if tag in _CONTAINERS:
                rec(s, e)

    rec(0, len(data))
    return idx


def _full_header(data: bytes, s: int) -> tuple[int, int]:
    """(version, payload_start_after_version_flags)."""
    return data[s], s + 4



def _checked_count(data: bytes, p: int, count: int, itemsize: int,
                   what: str) -> None:
    """Hostile containers carry flipped entry counts: validate the
    declared table fits in the remaining bytes BEFORE unpacking (a
    2^31 count would otherwise be an allocation bomb or a raw
    struct.error)."""
    if count < 0 or p + count * itemsize > len(data):
        raise ValueError(
            f"{what} declares {count} entries but only "
            f"{len(data) - p} bytes remain"
        )


def decode_mp4_meta(payload: bytes, verify_payload: bool = True) -> dict:
    """REAL MP4 metadata extraction: walk the box tree, parse
    mvhd/mdhd (v0 AND v1), hdlr, and the full sample-table suite
    (stts/stsc/stsz/stco), then resolve every sample's absolute byte
    range from the chunk map and digest the payload bytes out of
    mdat's span — so a wrong offset anywhere surfaces as a wrong
    ``payload_sum``, not a silent misread.

    Returns dict: major_brand, n_tracks, handler, timescale, duration
    (media units), n_samples, total_sample_bytes, payload_sum,
    sample_ranges [(abs_off, size)], data (the raw bytes, for
    frame extraction)."""
    data = bytes(payload)
    if len(data) < 8 or data[4:8] != b"ftyp":
        raise ValueError("not an MP4: missing leading ftyp box")
    idx = _index_boxes(data)
    # hostile/corrupt containers: a flipped fourcc makes a required
    # box vanish from the index — fail as ValueError, not KeyError
    for req in (b"ftyp", b"mvhd", b"hdlr", b"stts", b"stsz", b"stsd",
                b"stsc", b"mdat"):
        if req not in idx or not idx[req]:
            raise ValueError(f"MP4 missing required box {req.decode()!r}")
    if not (idx.get(b"stco") or idx.get(b"co64")):
        raise ValueError("MP4 missing chunk-offset box (stco/co64)")
    major_brand = data[idx[b"ftyp"][0][0] : idx[b"ftyp"][0][0] + 4].decode()

    s, _ = idx[b"mvhd"][0]
    ver, p = _full_header(data, s)
    if ver == 1:
        _, _, timescale, duration = struct.unpack(">QQIQ", data[p : p + 28])
    else:
        _, _, timescale, duration = struct.unpack(">IIII", data[p : p + 16])

    n_tracks = len(idx.get(b"trak", []))
    s, e = idx[b"hdlr"][0]
    handler = data[s + 8 : s + 12].decode()

    s, _ = idx[b"stts"][0]
    _, p = _full_header(data, s)
    (n_runs,) = struct.unpack(">I", data[p : p + 4])
    _checked_count(data, p + 4, n_runs, 8, "stts")
    runs = [
        struct.unpack(">II", data[p + 4 + 8 * i : p + 12 + 8 * i])
        for i in range(n_runs)
    ]
    n_samples = sum(c for c, _ in runs)
    if n_samples > len(data):
        # structural cap: more declared samples than container bytes
        # is only reachable with corrupt run counts — reject before
        # any O(n_samples) list materializes
        raise ValueError(
            f"stts declares {n_samples} samples in a "
            f"{len(data)}-byte container"
        )
    media_duration = sum(c * d for c, d in runs)

    s, _ = idx[b"stsz"][0]
    _, p = _full_header(data, s)
    fixed_size, count = struct.unpack(">II", data[p : p + 8])
    if count != n_samples:
        raise ValueError(f"stsz count {count} != stts samples {n_samples}")
    if fixed_size:
        sizes = [fixed_size] * count
    else:
        _checked_count(data, p + 8, count, 4, "stsz")
        sizes = list(
            struct.unpack(f">{count}I", data[p + 8 : p + 8 + 4 * count])
        )

    if b"stco" in idx:
        s, _ = idx[b"stco"][0]
        _, p = _full_header(data, s)
        (n_chunks,) = struct.unpack(">I", data[p : p + 4])
        _checked_count(data, p + 4, n_chunks, 4, "stco")
        offsets = list(
            struct.unpack(f">{n_chunks}I", data[p + 4 : p + 4 + 4 * n_chunks])
        )
    elif b"co64" in idx:
        # 64-bit chunk offsets — what real >4 GB MP4s carry
        s, _ = idx[b"co64"][0]
        _, p = _full_header(data, s)
        (n_chunks,) = struct.unpack(">I", data[p : p + 4])
        _checked_count(data, p + 4, n_chunks, 8, "co64")
        offsets = list(
            struct.unpack(f">{n_chunks}Q", data[p + 4 : p + 4 + 8 * n_chunks])
        )
    else:
        raise ValueError("MP4 missing chunk offset box (stco/co64)")

    s, _ = idx[b"stsc"][0]
    _, p = _full_header(data, s)
    (n_stsc,) = struct.unpack(">I", data[p : p + 4])
    _checked_count(data, p + 4, n_stsc, 12, "stsc")
    stsc = [
        struct.unpack(">III", data[p + 4 + 12 * i : p + 16 + 12 * i])
        for i in range(n_stsc)
    ]
    # expand stsc to per-chunk sample counts (entry applies until the
    # next entry's first_chunk)
    per_chunk: list[int] = []
    for k, (first, spc, _sdi) in enumerate(stsc):
        last = stsc[k + 1][0] - 1 if k + 1 < n_stsc else n_chunks
        span = last - first + 1
        if span < 0 or spc * max(span, 0) > n_samples:
            raise ValueError("corrupt stsc chunk map")
        per_chunk.extend([spc] * span)
    if sum(per_chunk) != n_samples:
        raise ValueError(
            f"stsc chunk map covers {sum(per_chunk)} samples, expected {n_samples}"
        )

    sample_ranges: list[tuple[int, int]] = []
    si = 0
    for chunk_i, chunk_off in enumerate(offsets):
        off = chunk_off
        for _ in range(per_chunk[chunk_i]):
            sample_ranges.append((off, sizes[si]))
            off += sizes[si]
            si += 1

    mdat_s, mdat_e = idx[b"mdat"][0]
    payload_sum = 0
    for off, size in sample_ranges:
        if off < mdat_s or off + size > mdat_e:
            raise ValueError(
                f"sample range [{off}, {off + size}) outside mdat [{mdat_s}, {mdat_e})"
            )
        if verify_payload:
            payload_sum += int(
                np.frombuffer(data[off : off + size], dtype=np.uint8).sum()
            )

    return {
        "major_brand": major_brand,
        "n_tracks": n_tracks,
        "handler": handler,
        "timescale": timescale,
        "duration": duration,
        "media_duration": media_duration,
        "n_samples": n_samples,
        "total_sample_bytes": sum(sizes),
        "payload_sum": payload_sum,
        "sample_ranges": sample_ranges,
        "data": data,
    }


def synthesize_mp4_clips(
    docs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic video-container fixture: one real MP4 per
    document from ``_sample_plan``/``_sample_payload`` formulas.
    (media_id, content binary). Narrow Arrow map_rows, no shuffle."""
    out_schema = "media_id long, content binary"

    def build(i):
        yield i, encode_mp4(i)

    return map_rows(docs, build, out_schema, cols=(id_col,))


def mp4_meta_features(
    media: DataFrame,
    id_col: str = "media_id",
    content_col: str = "content",
) -> DataFrame:
    """Container-level metadata extraction with the REAL parser:
    (media_id, n_tracks, handler, timescale, duration, n_samples,
    total_sample_bytes, payload_sum). payload_sum walks every
    stsc/stsz/stco-resolved byte range, so the whole sample-table
    chain is oracle-sealed."""
    out_schema = (
        f"{id_col} long, n_tracks int, handler string, timescale int, "
        "duration long, n_samples int, total_sample_bytes long, "
        "payload_sum long"
    )

    def feat(mid, payload):
        m = decode_mp4_meta(payload)
        yield (
            mid,
            m["n_tracks"],
            m["handler"],
            m["timescale"],
            m["duration"],
            m["n_samples"],
            m["total_sample_bytes"],
            m["payload_sum"],
        )

    return map_rows(media, feat, out_schema, cols=(id_col, content_col))


def mp4_sample_frames(
    media: DataFrame,
    every_n: int = 2,
    id_col: str = "media_id",
    content_col: str = "content",
) -> DataFrame:
    """REAL frame-sample extraction: every ``every_n``-th sample's
    bytes pulled out of mdat via the parsed sample tables — the
    container-level half of video frame sampling (codec decode of the
    extracted payload is what still needs ffmpeg). One output row per
    sampled frame: (media_id, frame_idx, frame_size, frame_sum)."""
    out_schema = (
        f"{id_col} long, frame_idx int, frame_size int, frame_sum long"
    )

    def sample_frames(mid, payload):
        m = decode_mp4_meta(payload, verify_payload=False)
        data = m["data"]
        for i in range(0, m["n_samples"], every_n):
            off, size = m["sample_ranges"][i]
            frame = np.frombuffer(
                data[off : off + size], dtype=np.uint8
            )
            yield (mid, i, size, int(frame.sum()))

    return map_rows(
        media, sample_frames, out_schema, cols=(id_col, content_col)
    )


# ----------------------------------------------------------- MJPEG profile

def mjpeg_frame_value(doc_id: int, i: int) -> int:
    """Gray value of frame ``i`` of clip ``doc_id`` — the integer
    formula the SQL oracle recomputes verbatim."""
    return (doc_id * 31 + i * 53) % 256


def encode_mjpeg(doc_id: int) -> bytes:
    """Motion-JPEG clip: the REAL MP4 container (sample tables, two
    chunks, stts runs) whose samples are REAL baseline JPEG frames
    (multimodal/jpeg.py, unit quantization) — composing the two
    already-proven codecs into true video-frame decode with zero new
    dependencies. Frame i is a constant 8x8 block of
    ``mjpeg_frame_value(doc_id, i)``, so the lossy JPEG path is
    bit-exact (DC-only block) and fully oracle-checkable; frame count
    follows the container's sample plan (4 + doc_id % 5)."""
    from neuroimaging_data_pipeline_spark.multimodal.jpeg import (
        encode_jpeg_gray,
    )

    n = 4 + doc_id % 5
    frames = [
        encode_jpeg_gray(
            np.full((8, 8), mjpeg_frame_value(doc_id, i), dtype=np.uint8)
        )
        for i in range(n)
    ]
    return encode_mp4(doc_id, width=8, height=8, payloads=frames, codec=b"jpeg")


def synthesize_mjpeg_clips(
    docs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """(media_id, content binary) — one real MJPEG clip per document.
    Narrow Arrow map_rows, no shuffle."""
    out_schema = "media_id long, content binary"

    def build(i):
        yield i, encode_mjpeg(i)

    return map_rows(docs, build, out_schema, cols=(id_col,))


def mjpeg_frame_stats(
    media: DataFrame,
    every_n: int = 2,
    id_col: str = "media_id",
    content_col: str = "content",
) -> DataFrame:
    """TRUE video frame decode: every ``every_n``-th sample's byte
    range is resolved through the parsed stsc/stsz/stco tables, and
    the extracted payload is decoded as a real JPEG down to pixels —
    (media_id, frame_idx, width, height, px_sum). This retires the
    'video frame payload decode needs ffmpeg' gap for the MJPEG
    profile; H.264 payloads still honestly gate on ffmpeg
    (multimodal/binaryops.py). Zero shuffle, embarrassingly parallel:
    the 100 TB cost is one pass over the clip bytes per frame
    sampled."""
    out_schema = (
        f"{id_col} long, frame_idx int, width int, height int, px_sum long"
    )

    from neuroimaging_data_pipeline_spark.multimodal.jpeg import (
        decode_jpeg_gray,
    )

    def sampled(mid, payload):
        m = decode_mp4_meta(payload, verify_payload=False)
        data = m["data"]
        for i in range(0, m["n_samples"], every_n):
            off, size = m["sample_ranges"][i]
            px = decode_jpeg_gray(bytes(data[off : off + size]))
            px_sum = int(px.astype(np.int64).sum())
            yield mid, i, px.shape[1], px.shape[0], px_sum

    return map_rows(media, sampled, out_schema, cols=(id_col, content_col))
