"""MP3 container metadata, stdlib-only: ID3v2.3 tags + MPEG-1 Layer
III frame-header walking — the audio-corpus metadata stage (duration,
bitrate profile, tag extraction) that runs BEFORE any costly audio
decode, the exact analog of the MP4 sample-table (m8) and parquet
footer (s12) metadata paths.

What is REAL here, both directions:

- ID3v2.3: the 10-byte header with SYNCSAFE 28-bit size, text frames
  (TIT2/TPE1/TRCK, encoding byte 0 latin-1), frame walk on parse;
- MPEG-1 Layer III frame headers: the 11-bit sync word, version/
  layer bits, the 14-entry bitrate table and the sample-rate table,
  the padding bit, and the frame-length arithmetic
  floor(144 * bitrate / samplerate) + padding that lets a parser
  WALK frame to frame — re-verifying sync at every hop, so one
  wrong length desyncs loudly (pinned in pytest);
- VBR accounting: per-frame bitrates vary; total bytes, mean
  bitrate and sample-exact duration (1152 samples per frame) come
  out of the walk.

Payload decode: THIS module's fixtures carry deterministic filler
(the metadata stage never looks inside a frame), but since r9 the
sibling ``multimodal/mp3l3.py`` decodes real Layer III main data —
side info, bit reservoir, scalefactors, Annex B Huffman, down to
spec-exact frequency lines (m34). The remaining gates live THERE
(ESC Huffman tables, synthesis filterbank) and are loud.

Scale: opaque binary + Arrow ``map_rows``, narrow, zero shuffle.
"""

from __future__ import annotations


from pyspark.sql import DataFrame

from neuroimaging_data_pipeline_spark.functions.rowmap import map_rows

_BITRATE_KBPS = [
    None, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320,
]
_SAMPLE_RATES = [44100, 48000, 32000]
_SAMPLES_PER_FRAME = 1152


def _syncsafe(n: int) -> bytes:
    return bytes(
        [(n >> 21) & 0x7F, (n >> 14) & 0x7F, (n >> 7) & 0x7F, n & 0x7F]
    )


def _read_syncsafe(raw: bytes) -> int:
    return (raw[0] << 21) | (raw[1] << 14) | (raw[2] << 7) | raw[3]


def build_id3v2(frames: dict[str, str]) -> bytes:
    body = bytearray()
    for fid, text in frames.items():
        payload = b"\x00" + text.encode("latin-1")  # encoding byte 0
        body += fid.encode() + len(payload).to_bytes(4, "big") + b"\x00\x00"
        body += payload
    return b"ID3\x03\x00\x00" + _syncsafe(len(body)) + bytes(body)


def parse_id3v2(buf: bytes) -> tuple[dict[str, str], int]:
    """Returns ({frame_id: text}, total tag length incl. header)."""
    if buf[:3] != b"ID3":
        raise ValueError("no ID3v2 tag")
    if len(buf) < 10:
        raise ValueError("ID3v2 header truncated")
    if buf[3] != 3:
        raise NotImplementedError(f"ID3v2.{buf[3]} unsupported (v2.3 only)")
    size = _read_syncsafe(buf[6:10])
    body = buf[10 : 10 + size]
    frames: dict[str, str] = {}
    pos = 0
    while pos + 10 <= len(body):
        fid = body[pos : pos + 4]
        if fid == b"\x00\x00\x00\x00":
            break
        flen = int.from_bytes(body[pos + 4 : pos + 8], "big")
        payload = body[pos + 10 : pos + 10 + flen]
        if len(payload) != flen:
            raise ValueError("truncated ID3 frame")
        if fid.startswith(b"T") and payload[:1] == b"\x00":
            frames[fid.decode()] = payload[1:].decode("latin-1")
        pos += 10 + flen
    return frames, 10 + size


def frame_header(bitrate_idx: int, sr_idx: int, padding: int) -> bytes:
    """MPEG-1 Layer III header: sync(11) version=11 layer=01
    no-crc=1, then bitrate(4) samplerate(2) padding(1) private(0),
    mode joint-stereo, no emphasis."""
    if not 1 <= bitrate_idx <= 14:
        raise ValueError("bitrate index must be 1..14")
    if not 0 <= sr_idx <= 2:
        raise ValueError("sample-rate index must be 0..2")
    b2 = 0xFB  # 1111 1011: MPEG-1, Layer III, no CRC (sync low bits 111)
    b3 = (bitrate_idx << 4) | (sr_idx << 2) | (padding << 1)
    b4 = 0x40  # joint stereo
    return bytes([0xFF, b2, b3, b4])


def frame_length(bitrate_idx: int, sr_idx: int, padding: int) -> int:
    return (
        144000 * _BITRATE_KBPS[bitrate_idx] // _SAMPLE_RATES[sr_idx]
        + padding
    )


def build_mp3(
    tags: dict[str, str],
    frame_specs: list[tuple[int, int, int]],
) -> bytes:
    """ID3v2.3 tag + Layer III frames per (bitrate_idx, sr_idx,
    padding); payloads are deterministic filler bytes."""
    out = bytearray(build_id3v2(tags))
    for k, (bi, si, pad) in enumerate(frame_specs):
        ln = frame_length(bi, si, pad)
        out += frame_header(bi, si, pad)
        out += bytes(((k * 31 + j * 7) % 251) for j in range(ln - 4))
    return bytes(out)


def parse_mp3(buf: bytes) -> dict:
    """Walk the ID3 tag then every Layer III frame; returns tags,
    frame count, per-frame bitrates, total audio bytes, sample-rate
    and sample-exact duration. Desync anywhere raises."""
    buf = bytes(buf)
    tags, pos = parse_id3v2(buf)
    bitrates: list[int] = []
    sr = None
    audio_bytes = 0
    while pos < len(buf):
        h = buf[pos : pos + 4]
        if len(h) < 4 or h[0] != 0xFF or (h[1] & 0xE0) != 0xE0:
            raise ValueError(f"lost frame sync at byte {pos}")
        if (h[1] & 0x18) != 0x18 or (h[1] & 0x06) != 0x02:
            raise NotImplementedError(
                "only MPEG-1 Layer III frames supported"
            )
        bi = h[2] >> 4
        si = (h[2] >> 2) & 0x03
        pad = (h[2] >> 1) & 0x01
        if bi in (0, 15) or si == 3:
            raise ValueError("free-form/bad bitrate or reserved rate")
        this_sr = _SAMPLE_RATES[si]
        if sr is None:
            sr = this_sr
        elif sr != this_sr:
            raise ValueError("mixed sample rates in one stream")
        ln = frame_length(bi, si, pad)
        if pos + ln > len(buf):
            raise ValueError("truncated final frame")
        bitrates.append(_BITRATE_KBPS[bi])
        audio_bytes += ln
        pos += ln
    return {
        "tags": tags,
        "n_frames": len(bitrates),
        "bitrates": bitrates,
        "audio_bytes": audio_bytes,
        "sample_rate": sr,
        "duration_samples": len(bitrates) * _SAMPLES_PER_FRAME,
    }


# --- Spark surface ---------------------------------------------------------------


def synthesize_mp3s(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic VBR MP3 per document: 4 + id%5 frames at
    44.1 kHz, bitrate cycling 128/160/192 kbps by (id+i)%3, padding
    toggling by frame parity, plus TIT2/TPE1/TRCK ID3 tags."""
    out_schema = "media_id long, content binary"

    def build(i):
        specs = [
            (9 + (i + k) % 3, 0, k % 2)  # 128/160/192 kbps
            for k in range(4 + i % 5)
        ]
        tags = {
            "TIT2": f"doc {i}",
            "TPE1": "corpus",
            "TRCK": str(i % 100),
        }
        yield i, build_mp3(tags, specs)

    return map_rows(docs, build, out_schema, cols=(id_col,))


def mp3_meta_features(
    media: DataFrame,
    id_col: str = "media_id",
    content_col: str = "content",
) -> DataFrame:
    out_schema = (
        f"{id_col} long, title string, track int, n_frames int, "
        "audio_bytes long, sample_rate int, duration_samples long, "
        "sum_kbps long"
    )

    def feat(mid, payload):
        m = parse_mp3(payload)
        yield (
            mid,
            m["tags"]["TIT2"],
            int(m["tags"]["TRCK"]),
            m["n_frames"],
            m["audio_bytes"],
            m["sample_rate"],
            m["duration_samples"],
            sum(m["bitrates"]),
        )

    return map_rows(media, feat, out_schema, cols=(id_col, content_col))
