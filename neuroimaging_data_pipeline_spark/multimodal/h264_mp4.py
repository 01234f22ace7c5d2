"""H.264-inside-MP4: avcC mux/demux wiring the two proven halves
together — the from-scratch H.264 codec (h264_intra/h264_inter) and
the from-scratch ISO-BMFF container (mp4.py).

Real video corpora do not arrive as bare Annex-B elementary streams:
they arrive as ``avc1`` tracks in MP4, with SPS/PPS carried
OUT-OF-BAND in the AVCDecoderConfigurationRecord (the ``avcC`` box,
ISO 14496-15 §5.3.3.1) and every access unit stored as
LENGTH-PREFIXED NAL units (lengthSizeMinusOne framing), not
start-code-delimited ones. Both directions are implemented for real:

- mux: split the encoder's Annex-B output into NALs, lift SPS/PPS
  into an avcC record inside the VisualSampleEntry, write one MP4
  sample per coded picture with 4-byte NAL length prefixes, and let
  mp4.encode_mp4 build the full moov/stbl plumbing (stts/stsc/stsz/
  stco — samples deliberately split across two chunks).
- demux: parse the stsd VisualSampleEntry, walk its child boxes to
  the avcC record, recover SPS/PPS and the NAL length size, resolve
  every sample's byte range through the parsed sample tables, split
  the length-prefixed NALs, and re-emit a decodable Annex-B stream.

Reference parity: preprocess_parallel.sh:59-182 shells out to
external tooling for any video input; this is the engine-side
equivalent for the MP4/H.264 corpora that dominate real multimodal
training sets (SURVEY §2 multimodal columns).

Scale: mux/demux are pure per-document byte transforms executed
inside map_rows over a narrow (id, content) projection — zero
shuffle, one task per video shard at 100 TB.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from neuroimaging_data_pipeline_spark.functions.rowmap import map_rows
from neuroimaging_data_pipeline_spark.multimodal.h264 import _split_nals
from neuroimaging_data_pipeline_spark.multimodal.mp4 import (
    _box,
    _index_boxes,
    _walk_boxes,
    decode_mp4_meta,
    encode_mp4,
)

# VisualSampleEntry fixed part after the box header (14496-12 §12.1.3):
# 6 reserved + 2 data_reference_index + 16 pre_defined/reserved +
# 2+2 width/height + 4+4 dpi + 4 reserved + 2 frame_count +
# 32 compressorname + 2 depth + 2 pre_defined = 78 bytes.
_VISUAL_ENTRY_FIXED = 78


# ---------------------------------------------------------------------------
# AVCDecoderConfigurationRecord (avcC)
# ---------------------------------------------------------------------------


def build_avcc(
    sps_nals: list[bytes],
    pps_nals: list[bytes],
    length_size: int = 4,
) -> bytes:
    """Serialize an ``avcC`` box (14496-15 §5.3.3.1). NAL arguments
    are complete NAL units (header byte + EP-protected payload), NOT
    bare RBSP — the record carries them verbatim."""
    if not sps_nals or not pps_nals:
        raise ValueError("avcC needs at least one SPS and one PPS")
    if length_size not in (1, 2, 4):
        raise ValueError("NAL length size must be 1, 2 or 4")
    sps0 = sps_nals[0]
    if (sps0[0] & 0x1F) != 7:
        raise ValueError("first avcC parameter set is not an SPS")
    rec = bytearray()
    rec.append(1)  # configurationVersion
    rec.append(sps0[1])  # AVCProfileIndication
    rec.append(sps0[2])  # profile_compatibility
    rec.append(sps0[3])  # AVCLevelIndication
    rec.append(0xFC | (length_size - 1))  # reserved + lengthSizeMinusOne
    rec.append(0xE0 | len(sps_nals))  # reserved + numOfSPS
    for n in sps_nals:
        rec += struct.pack(">H", len(n)) + n
    rec.append(len(pps_nals))
    for n in pps_nals:
        rec += struct.pack(">H", len(n)) + n
    return _box(b"avcC", bytes(rec))


def parse_avcc(payload: bytes) -> dict:
    """Parse an avcC record payload (box header already stripped).
    Returns dict: profile, compat, level, length_size, sps (list of
    NAL bytes), pps (list of NAL bytes)."""
    if len(payload) < 7:
        raise ValueError("avcC record too short")
    if payload[0] != 1:
        raise ValueError(f"avcC configurationVersion {payload[0]} != 1")
    profile, compat, level = payload[1], payload[2], payload[3]
    length_size = (payload[4] & 3) + 1
    n_sps = payload[5] & 0x1F
    pos = 6

    def take(n: int) -> bytes:
        # hostile/truncated records must fail loudly as ValueError,
        # never as a silent short slice or a stray IndexError
        nonlocal pos
        if pos + n > len(payload):
            raise ValueError("truncated avcC parameter-set arrays")
        out = payload[pos : pos + n]
        pos += n
        return out

    sps = []
    for _ in range(n_sps):
        (ln,) = struct.unpack(">H", take(2))
        sps.append(take(ln))
    n_pps = take(1)[0]
    pps = []
    for _ in range(n_pps):
        (ln,) = struct.unpack(">H", take(2))
        pps.append(take(ln))
    return {
        "profile": profile,
        "compat": compat,
        "level": level,
        "length_size": length_size,
        "sps": sps,
        "pps": pps,
    }


# ---------------------------------------------------------------------------
# Mux: Annex B -> MP4 (avc1 + avcC + length-prefixed samples)
# ---------------------------------------------------------------------------


def annexb_to_samples(
    annexb: bytes, length_size: int = 4
) -> tuple[list[bytes], list[bytes], list[bytes]]:
    """Split an Annex-B stream into (sps_nals, pps_nals, samples).
    Every coded-picture NAL (IDR type 5 or non-IDR type 1) starts a
    new sample; SEI/AUD or other non-VCL NALs between pictures are
    prepended to the following picture's sample (each NAL written
    with its ``length_size``-byte big-endian prefix)."""
    sps, pps, samples = [], [], []
    pending: list[bytes] = []
    for nal in _split_nals(annexb):
        ntype = nal[0] & 0x1F
        if ntype == 7:
            sps.append(nal)
        elif ntype == 8:
            pps.append(nal)
        elif ntype in (1, 5):
            parts = pending + [nal]
            pending = []
            limit = (1 << (8 * length_size)) - 1
            for p in parts:
                if len(p) > limit:
                    raise ValueError(
                        f"NAL of {len(p)} bytes does not fit a "
                        f"{length_size}-byte length prefix"
                    )
            samples.append(
                b"".join(
                    len(p).to_bytes(length_size, "big") + p for p in parts
                )
            )
        else:
            pending.append(nal)
    if pending:
        raise ValueError("trailing non-VCL NALs after the last picture")
    if not samples:
        raise ValueError("no coded pictures in the Annex-B stream")
    return sps, pps, samples


def mux_h264_mp4(
    annexb: bytes,
    doc_id: int,
    width: int,
    height: int,
    length_size: int = 4,
) -> bytes:
    """Wrap an Annex-B H.264 stream into a self-contained MP4 with an
    ``avc1`` sample entry: SPS/PPS go out-of-band into avcC, each
    coded picture becomes one length-prefixed sample."""
    sps, pps, samples = annexb_to_samples(annexb, length_size)
    avcc = build_avcc(sps, pps, length_size)
    return encode_mp4(
        doc_id,
        width=width,
        height=height,
        payloads=samples,
        codec=b"avc1",
        config=avcc,
    )


# ---------------------------------------------------------------------------
# Demux: MP4 -> Annex B
# ---------------------------------------------------------------------------


def extract_avcc(data: bytes) -> dict:
    """Locate the avc1 VisualSampleEntry inside stsd and parse its
    avcC child box. Returns parse_avcc's dict plus entry width/height
    and the sample-entry fourcc."""
    idx = _index_boxes(data)
    if b"stsd" not in idx:
        raise ValueError("MP4 missing stsd box")
    s, e = idx[b"stsd"][0]
    # FullBox header (4) + entry_count (4)
    (n_entries,) = struct.unpack(">I", data[s + 4 : s + 8])
    if n_entries < 1:
        raise ValueError("empty stsd")
    for tag, es, ee in _walk_boxes(data, s + 8, e):
        if tag != b"avc1":
            continue
        w, h = struct.unpack(">HH", data[es + 24 : es + 28])
        for ctag, cs, ce in _walk_boxes(
            data, es + _VISUAL_ENTRY_FIXED, ee
        ):
            if ctag == b"avcC":
                out = parse_avcc(data[cs:ce])
                out["width"], out["height"] = w, h
                out["fourcc"] = "avc1"
                return out
        raise ValueError("avc1 sample entry without an avcC box")
    raise ValueError("no avc1 sample entry in stsd")


def _split_length_prefixed(sample: bytes, length_size: int) -> list[bytes]:
    nals, pos, n = [], 0, len(sample)
    while pos < n:
        if pos + length_size > n:
            raise ValueError("truncated NAL length prefix")
        ln = int.from_bytes(sample[pos : pos + length_size], "big")
        pos += length_size
        if pos + ln > n:
            raise ValueError(
                f"NAL length {ln} overruns sample of {n} bytes"
            )
        nals.append(sample[pos : pos + ln])
        pos += ln
    if not nals:
        raise ValueError("empty MP4 sample")
    return nals


def demux_h264_mp4(payload: bytes) -> tuple[bytes, dict]:
    """Extract a decodable Annex-B stream from an avc1 MP4: SPS/PPS
    from avcC first, then every sample's length-prefixed NALs in
    sample-table order. Returns (annexb, info) where info carries the
    avcC fields plus n_samples / total_sample_bytes from the parsed
    stbl."""
    meta = decode_mp4_meta(payload, verify_payload=False)
    data = meta["data"]
    cfg = extract_avcc(data)
    ls = cfg["length_size"]
    out = bytearray()
    for n in cfg["sps"] + cfg["pps"]:
        out += b"\x00\x00\x00\x01" + n
    for off, size in meta["sample_ranges"]:
        for n in _split_length_prefixed(data[off : off + size], ls):
            out += b"\x00\x00\x00\x01" + n
    info = dict(cfg)
    info["n_samples"] = meta["n_samples"]
    info["total_sample_bytes"] = meta["total_sample_bytes"]
    info["major_brand"] = meta["major_brand"]
    info["handler"] = meta["handler"]
    return bytes(out), info


def decode_h264_mp4(payload: bytes) -> tuple[list, dict]:
    """Full container-to-pixels path: demux the avc1 track and decode
    the recovered Annex-B stream with the from-scratch H.264 decoder.
    Returns (frames, info)."""
    from neuroimaging_data_pipeline_spark.multimodal.h264_inter import (
        decode_h264_sequence,
    )

    annexb, info = demux_h264_mp4(payload)
    return decode_h264_sequence(annexb), info


# ---------------------------------------------------------------------------
# Spark surface
# ---------------------------------------------------------------------------


def synthesize_h264_mp4_clips(
    docs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document MP4 clip whose avc1 track carries the m36
    multi-reference GOP (IDR -> P1 -> P2 with intra-in-P, ref_idx 1
    and P_8x8 regions): the Annex-B fixture from
    synthesize_h264_gop_frames muxed through mux_h264_mp4, so the
    pixel formulas — and therefore the SQL oracle — are exactly the
    m36 family while the container plumbing (avcC out-of-band
    parameter sets, 4-byte length-prefixed NALs, two-chunk stsc/stco
    mapping) is exercised for real."""
    from neuroimaging_data_pipeline_spark.multimodal.h264_inter import (
        synthesize_h264_gop_frames,
    )

    gop = synthesize_h264_gop_frames(docs, id_col=id_col)
    out_schema = f"{id_col} long, content binary"

    def mux(i, annexb):
        yield i, mux_h264_mp4(annexb, i, 32, 32)

    return map_rows(gop, mux, out_schema, cols=(id_col, "content"))


def h264_mp4_frame_features(
    media: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "content",
) -> DataFrame:
    """Decode avc1 MP4 clips end-to-end (container demux + H.264
    decode) and emit per-frame plane sums plus the container fields
    the oracle can pin as constants (sample count, avcC profile/
    level, NAL length size, stsd dimensions)."""
    out_schema = (
        f"{id_col} long, n_samples int, avc_profile int, avc_level int,"
        " nal_length_size int, width int, height int,"
        " sum_y_idr long, sum_y_p1 long, sum_y_p2 long,"
        " sum_cb_p2 long, sum_cr_p2 long"
    )

    def feat(i, content):
        frames, info = decode_h264_mp4(content)
        if len(frames) != info["n_samples"]:
            raise ValueError(
                f"doc {i}: decoded {len(frames)} frames from "
                f"{info['n_samples']} MP4 samples"
            )
        y_i = frames[0][0]
        y_p1 = frames[1][0]
        y_p2, cb_p2, cr_p2 = frames[2]
        yield (
            i,
            int(info["n_samples"]),
            int(info["profile"]),
            int(info["level"]),
            int(info["length_size"]),
            int(info["width"]),
            int(info["height"]),
            int(y_i.sum()),
            int(y_p1.sum()),
            int(y_p2.sum()),
            int(cb_p2.sum()),
            int(cr_p2.sum()),
        )

    return map_rows(media, feat, out_schema, cols=(id_col, content_col))
