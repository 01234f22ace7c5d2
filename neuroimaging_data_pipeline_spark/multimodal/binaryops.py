"""Multimodal (image/audio/video) column plumbing (SURVEY-mandated
engine addition).

Design: media are opaque ``binary`` columns + typed metadata, exactly
how a 100 TB training corpus stores them (parquet binary pages,
metadata pushdown-filterable). Decode / feature-extract / resize /
frame-sample run per row through ``functions.rowmap.map_rows`` — one
``mapInArrow`` Python worker per partition, batches sized by
spark.sql.execution.arrow.maxRecordsPerBatch.

Codec status: AUDIO, RAW IMAGE AND COMPRESSED IMAGE ARE REAL — WAV
(RIFF/PCM16) encode + decode via the stdlib ``wave`` module
(``encode_wav_pcm16`` / ``decode_wav`` / ``wav_features``), PPM/P6
images via pure header+raw-bytes parsing (``encode_ppm`` /
``decode_ppm`` / ``ppm_features``), and PNG (8-bit RGB, DEFLATE,
all five scanline filters, CRC-checked chunks) via stdlib ``zlib`` +
``struct`` (``encode_png`` / ``decode_png`` / ``png_features``) —
all end-to-end through real binary parquet-shaped columns and Arrow
batches. Baseline JPEG — grayscale AND 3-component color (YCbCr
4:4:4, interleaved MCUs) — is real too, see the sibling
``multimodal/jpeg.py``; gzip text shards round-trip via the stdlib
``gzip`` helpers below; and the MP4 (ISO-BMFF) CONTAINER — box
tree, mvhd/mdhd/hdlr metadata, stts/stsc/stsz/stco sample tables,
frame-sample byte-range extraction — is real in the sibling
``multimodal/mp4.py``. Subsampled (4:2:0/4:2:2) and progressive
(SOF2 — spectral selection AND successive approximation, at 4:4:4
and 4:2:0 alike) JPEG are real too since r4; 12-bit extended
sequential (SOF1) and arithmetic-coded (SOF9) JPEG since r6
(``jpeg12.py`` / ``jpeg_arith.py``). H.264 is now real for the
codec's own lossless raw mode — Annex B NAL streams of I_PCM
macroblocks encode + decode stdlib-only in ``multimodal/h264.py``
(full SPS/PPS/IDR-slice syntax, emulation prevention, frame
cropping) — AND, since r6, for PREDICTED macroblocks:
``multimodal/h264_intra.py`` implements Intra_16x16 (all four luma
prediction modes) AND I_4x4 (all nine 4x4 modes, Table 9-4 me(v)
CBP), chroma DC prediction, the 4x4 integer transform / Hadamard /
quantization ladder at any QP, and full CAVLC entropy coding in both
directions — complete CAVLC I-frame coverage (ffmpeg cross-checks
the bitstreams where present). What still genuinely needs an
external codec: I_8x8 (High profile), CABAC streams, and inter
(P/B) frames:
``decoder='ffmpeg'`` (r6) runs the SAME plan with real decode
through the ffmpeg binary when it is on PATH (capability-gated
pytest, like the scipy/protobuf gates) and raises a clear
NotImplementedError when it is not;
``decoder='fake'`` is the always-available deterministic stand-in —
the Spark-side plumbing (schema, batch shape, partition behavior) is
identical and tested either way.
"""

from __future__ import annotations

import gzip
import hashlib
import zlib

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from neuroimaging_data_pipeline_spark.functions.rowmap import map_rows
from neuroimaging_data_pipeline_spark.multimodal.jpeg import malformed_as_valueerror


MEDIA_SCHEMA = (
    "media_id long, modality string, content binary, "
    "width int, height int, n_frames int, sample_rate int"
)

FEATURE_DIM = 16


def _fake_decode(payload: bytes, out_pixels: int) -> np.ndarray:
    """Deterministic fake decoder: sha256-seeded pseudo-pixels.
    Stable across processes/partitions (no Python hash randomization)."""
    digest = hashlib.sha256(payload or b"").digest()
    seed = int.from_bytes(digest[:8], "big") % (2**32)
    rng = np.random.default_rng(seed)
    return rng.random(out_pixels)


def ffmpeg_available() -> bool:
    """True when an ``ffmpeg`` binary is on PATH (capability gate —
    mirrors the scipy/protobuf optional-dependency pattern)."""
    import shutil

    return shutil.which("ffmpeg") is not None


def _ffmpeg_decode(payload: bytes, out_pixels: int) -> np.ndarray:
    """REAL decode via the ffmpeg binary: pipe the container bytes in,
    read gray8 rawvideo out (any codec ffmpeg knows — H.264, MJPEG,
    VP9 ...), and reduce the pixel stream to ``out_pixels`` chunk
    means in [0, 1]. Deterministic for a deterministic decoder."""
    import subprocess

    proc = subprocess.run(
        [
            "ffmpeg", "-v", "error", "-i", "pipe:0",
            "-f", "rawvideo", "-pix_fmt", "gray", "pipe:1",
        ],
        input=payload or b"",
        capture_output=True,
        check=True,
    )
    px = np.frombuffer(proc.stdout, np.uint8).astype(np.float64) / 255.0
    if px.size == 0:
        raise ValueError("ffmpeg produced no pixels")
    return np.array(
        [c.mean() if c.size else 0.0 for c in np.array_split(px, out_pixels)]
    )


def decode_features(
    media: DataFrame,
    decoder: str = "fake",
    feature_dim: int = FEATURE_DIM,
) -> DataFrame:
    """binary content -> fixed-dim feature vector per media row:
    (media_id, modality, features array<double>).

    ``decoder='fake'`` is the deterministic stand-in (always
    available); ``decoder='ffmpeg'`` runs the SAME plan with real
    codec decode through the ffmpeg binary when it is on PATH
    (capability-gated, like the scipy t-CDF and protobuf state
    gates). ``decoder='pil'`` stays an honest NotImplementedError.

    Real plan shape: narrow map_rows over the scan — at scale the
    parquet reader streams binary pages straight into Arrow batches;
    nothing shuffles.
    """
    if decoder == "fake":
        decode_one = _fake_decode
    elif decoder == "ffmpeg":
        if not ffmpeg_available():
            raise NotImplementedError(
                "decoder 'ffmpeg' requires the ffmpeg binary on PATH; "
                "it is not present in this environment (the 'fake' "
                "decoder runs the identical plumbing)"
            )
        decode_one = _ffmpeg_decode
    else:
        raise NotImplementedError(
            f"decoder '{decoder}' requires media libraries not present in "
            "this environment; 'fake' (deterministic) and 'ffmpeg' "
            "(gated on the binary) are the available decoders"
        )

    out_schema = "media_id long, modality string, features array<double>"

    def decode(mid, modality, payload):
        yield mid, modality, decode_one(payload, feature_dim).tolist()

    return map_rows(
        media, decode, out_schema, cols=("media_id", "modality", "content")
    )


def encode_wav_pcm16(samples: np.ndarray, sample_rate: int = 8000) -> bytes:
    """Real WAV (RIFF) container: mono PCM16 little-endian via the
    stdlib ``wave`` module — no external media libraries needed."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(np.asarray(samples).astype("<i2").tobytes())
    return buf.getvalue()


def decode_wav(payload: bytes) -> tuple[int, np.ndarray]:
    """Real WAV decode (stdlib ``wave``): (sample_rate, int16 samples)."""
    import io
    import wave

    with wave.open(io.BytesIO(payload), "rb") as w:
        sr = w.getframerate()
        raw = w.readframes(w.getnframes())
    return sr, np.frombuffer(raw, dtype="<i2")


def synthesize_wav_clips(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sample_rate: int = 8000,
) -> DataFrame:
    """Deterministic audio fixture: one real WAV clip per document,
    32 PCM16 samples derived from the nibbles of md5(text)
    (sample j = nibble_j * 4096 - 32768). The derivation is pure SQL
    math, so an oracle can recompute the decoded features without any
    codec — while the clip itself is a genuine RIFF container the real
    decoder must parse. (media_id, content binary)."""
    out_schema = "media_id long, content binary"

    def encode(i, text):
        hexd = hashlib.md5((text or "").encode("utf-8")).hexdigest()
        samples = np.array(
            [int(c, 16) * 4096 - 32768 for c in hexd], dtype=np.int16
        )
        yield i, encode_wav_pcm16(samples, sample_rate)

    return map_rows(docs, encode, out_schema, cols=(id_col, text_col))


def wav_features(
    media: DataFrame,
    id_col: str = "media_id",
    content_col: str = "content",
) -> DataFrame:
    """Decode WAV binary columns with the REAL stdlib codec and emit
    per-clip audio features: (media_id, sample_rate, n_samples, rms).
    Same Arrow-batched map_rows boundary as decode_features — narrow
    over the scan, nothing shuffles."""
    out_schema = (
        f"{id_col} long, sample_rate int, n_samples int, rms double"
    )

    def feat(mid, payload):
        sr, samples = decode_wav(payload)
        x = samples.astype(np.float64)
        rms = float(np.sqrt(np.mean(x * x))) if len(x) else 0.0
        yield mid, sr, len(samples), rms

    return map_rows(media, feat, out_schema, cols=(id_col, content_col))


def wav_frame_features(
    media: DataFrame,
    frame_len: int = 8,
    id_col: str = "media_id",
    content_col: str = "content",
) -> DataFrame:
    """FRAME-level audio features through the real WAV decoder — the
    audio analog of video frame sampling: each clip splits into
    consecutive ``frame_len``-sample frames and emits one row per
    frame with RMS and the zero-crossing count (sign changes between
    consecutive samples WITHIN the frame; zero counts as
    non-negative). The windowed-feature shape every audio pipeline
    (VAD, silence trim, loudness normalization) starts from. Narrow
    Arrow map_rows; the explode happens Python-side per clip, so
    still no shuffle."""
    out_schema = (
        f"{id_col} long, frame_idx int, n_in_frame int, "
        "rms double, n_zero_cross int"
    )

    def frames(mid, payload):
        _, samples = decode_wav(payload)
        x = samples.astype(np.float64)
        for f in range(0, len(x), frame_len):
            fr = x[f : f + frame_len]
            nonneg = fr >= 0
            yield (
                mid,
                f // frame_len,
                len(fr),
                float(np.sqrt(np.mean(fr * fr))),
                int(np.sum(nonneg[1:] != nonneg[:-1])),
            )

    return map_rows(media, frames, out_schema, cols=(id_col, content_col))


def encode_ppm(pixels: np.ndarray) -> bytes:
    """Real PPM (P6) image container: ASCII header + raw RGB bytes —
    decodable by any image tool, no external libraries needed.
    ``pixels`` is (H, W, 3) uint8."""
    h, w, _ = pixels.shape
    return f"P6\n{w} {h}\n255\n".encode() + pixels.astype(np.uint8).tobytes()


def rgb_features(key, arr: np.ndarray) -> tuple:
    """(key, width, height, mean_r, mean_g, mean_b, sum_px) of an
    (H, W, 3) image — the feature row every RGB image codec emits."""
    h, w, _ = arr.shape
    flat = arr.reshape(-1, 3).astype(np.float64)
    means = flat.mean(axis=0)
    return (
        key, w, h, float(means[0]), float(means[1]), float(means[2]),
        int(flat.sum()),
    )


def decode_ppm(payload: bytes) -> np.ndarray:
    """Real PPM (P6) decode: parse the header, return (H, W, 3) uint8."""
    magic, dims, maxval, raw = bytes(payload).split(b"\n", 3)
    if magic != b"P6":
        raise ValueError(f"not a P6 PPM payload: {magic!r}")
    w, h = map(int, dims.split())
    if int(maxval) != 255:
        raise ValueError("only maxval=255 PPM supported")
    return np.frombuffer(raw, dtype=np.uint8).reshape(h, w, 3)


def synthesize_ppm_images(
    docs: DataFrame,
    id_col: str = "doc_id",
    width: int = 8,
    height: int = 6,
) -> DataFrame:
    """Deterministic image fixture: one real PPM per document with
    pixel (y, x, c) = (id*7 + y*131 + x*17 + c*59) % 256 — a pure
    integer formula an oracle can recompute without any codec, while
    the image itself is a genuine P6 container the real decoder must
    parse. (media_id, content binary)."""
    out_schema = "media_id long, content binary"
    ys = np.arange(height)[:, None, None]
    xs = np.arange(width)[None, :, None]
    cs = np.arange(3)[None, None, :]
    base = ys * 131 + xs * 17 + cs * 59

    def encode(i):
        yield i, encode_ppm(((i * 7 + base) % 256).astype(np.uint8))

    return map_rows(docs, encode, out_schema, cols=(id_col,))


def ppm_features(
    media: DataFrame,
    id_col: str = "media_id",
    content_col: str = "content",
) -> DataFrame:
    """Decode PPM binaries with the REAL stdlib-only codec and emit
    per-image features: (media_id, width, height, mean_r, mean_g,
    mean_b). Same narrow Arrow-batched map_rows boundary as
    wav_features."""
    out_schema = (
        f"{id_col} long, width int, height int, "
        "mean_r double, mean_g double, mean_b double"
    )

    def feat(mid, payload):
        yield rgb_features(mid, decode_ppm(payload))[:6]

    return map_rows(media, feat, out_schema, cols=(id_col, content_col))


PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    import struct

    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def _paeth_vec(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Paeth predictor (PNG spec 9.4), vectorized over a scanline."""
    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


# Adam7 interlace pass geometry: (x0, y0, dx, dy) per pass
ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _filter_rows(px: np.ndarray) -> bytes:
    """Filter one (sub)image's scanlines, filter types cycling 0..4
    (None, Sub, Up, Average, Paeth) so every filter is exercised.
    Returns filter-byte-prefixed raw scanline bytes."""
    h, w, _ = px.shape
    raw = bytearray()
    zero3 = np.zeros(3, dtype=np.int16)
    prev = np.zeros(w * 3, dtype=np.int16)
    for y in range(h):
        row = px[y].reshape(-1).astype(np.int16)
        left = np.concatenate([zero3, row[:-3]])
        ft = y % 5
        if ft == 0:
            filt = row
        elif ft == 1:
            filt = row - left
        elif ft == 2:
            filt = row - prev
        elif ft == 3:
            filt = row - ((left + prev) >> 1)
        else:
            up_left = np.concatenate([zero3, prev[:-3]])
            filt = row - _paeth_vec(left, prev, up_left)
        raw.append(ft)
        raw.extend((filt & 0xFF).astype(np.uint8).tobytes())
        prev = row
    return bytes(raw)


def _unfilter_rows(raw: bytes, h: int, w: int) -> np.ndarray:
    """Reverse the scanline filtering of one (sub)image: full
    None/Sub/Up/Average/Paeth reconstruction. Returns (h, w, 3)."""
    stride = w * 3
    if len(raw) != h * (stride + 1):
        raise ValueError(
            f"PNG pixel data length {len(raw)} != expected {h * (stride + 1)}"
        )
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    pos = 0
    for y in range(h):
        ft = raw[pos]
        pos += 1
        line = np.frombuffer(raw[pos : pos + stride], dtype=np.uint8).astype(
            np.int32
        )
        pos += stride
        if ft == 0:
            recon = line
        elif ft == 2:
            recon = (line + prev) & 0xFF
        elif ft in (1, 3, 4):
            recon = line.copy()
            for i in range(stride):
                a = recon[i - 3] if i >= 3 else 0
                if ft == 1:
                    pred = a
                elif ft == 3:
                    pred = (a + prev[i]) >> 1
                else:
                    b = prev[i]
                    c = prev[i - 3] if i >= 3 else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                recon[i] = (line[i] + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {ft} on row {y}")
        out[y] = recon.astype(np.uint8)
        prev = recon
    return out.reshape(h, w, 3)


def encode_png(pixels: np.ndarray, interlace: bool = False) -> bytes:
    """Real PNG writer, stdlib-only (``zlib`` DEFLATE + ``struct``):
    8-bit RGB (color type 2), CRC-checked chunks, filter types
    cycling 0..4 per scanline so any decoder of these payloads must
    implement the full filter suite. ``interlace=True`` writes
    ADAM7: seven independently-filtered sub-images (empty passes
    skipped per spec) in one DEFLATE stream — the progressive-render
    layout real web PNGs use. ``pixels`` is (H, W, 3) uint8."""
    import struct

    h, w, _ = pixels.shape
    px = pixels.astype(np.uint8)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1 if interlace else 0)
    if interlace:
        raw = b"".join(
            _filter_rows(px[y0::dy, x0::dx])
            for x0, y0, dx, dy in ADAM7
            if px[y0::dy, x0::dx].size
        )
    else:
        raw = _filter_rows(px)
    idat = zlib.compress(raw, 9)
    return (
        PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", idat)
        + _png_chunk(b"IEND", b"")
    )


@malformed_as_valueerror("PNG", zlib.error)
def decode_png(payload: bytes) -> np.ndarray:
    """Real PNG decode, stdlib-only: signature + chunk walk with CRC
    verification, IHDR validation, multi-IDAT concatenation, zlib
    inflate, full scanline un-filtering (None/Sub/Up/Average/Paeth),
    and BOTH interlace modes — sequential and ADAM7 (seven
    independently-filtered sub-images scattered back onto the pixel
    grid, empty passes skipped per spec). Supports the 8-bit RGB
    profile the writer emits; anything else raises. Returns
    (H, W, 3) uint8.

    Sub/Average/Paeth reconstruction is sequential in the left
    neighbor, so those rows run a per-byte loop — fine for the small
    fixtures here; a production path would push wide images through
    a C-level unfilter. Ancillary chunks (tEXt, pHYs, ...) are
    skipped after their CRC check, per spec."""
    import struct

    data = bytes(payload)
    if data[:8] != PNG_SIG:
        raise ValueError(f"not a PNG payload: {data[:8]!r}")
    pos = 8
    w = h = None
    interlace = 0
    idat = bytearray()
    while pos + 12 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        chunk = data[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(
            ">I", data[pos + 8 + length : pos + 12 + length]
        )
        if zlib.crc32(tag + chunk) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG CRC mismatch in chunk {tag!r}")
        if tag == b"IHDR":
            w, h, depth, ctype, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", chunk
            )
            if (depth, ctype, comp, filt) != (8, 2, 0, 0) or interlace > 1:
                raise ValueError(
                    "only 8-bit RGB PNG supported, got "
                    f"depth={depth} color={ctype} interlace={interlace}"
                )
        elif tag == b"IDAT":
            idat.extend(chunk)
        elif tag == b"IEND":
            break
        pos += 12 + length
    if w is None:
        raise ValueError("PNG missing IHDR")
    raw = zlib.decompress(bytes(idat))
    if not interlace:
        return _unfilter_rows(raw, h, w)
    # ADAM7: carve the stream into per-pass sub-images and scatter
    out = np.zeros((h, w, 3), dtype=np.uint8)
    off = 0
    for x0, y0, dx, dy in ADAM7:
        ph = (h - y0 + dy - 1) // dy
        pw = (w - x0 + dx - 1) // dx
        if ph <= 0 or pw <= 0:
            continue
        size = ph * (pw * 3 + 1)
        out[y0::dy, x0::dx] = _unfilter_rows(raw[off : off + size], ph, pw)
        off += size
    if off != len(raw):
        raise ValueError(
            f"ADAM7 stream has {len(raw) - off} trailing bytes"
        )
    return out


def synthesize_png_images(
    docs: DataFrame,
    id_col: str = "doc_id",
    width: int = 8,
    height: int = 10,
) -> DataFrame:
    """Deterministic compressed-image fixture: one real PNG per
    document with pixel (y, x, c) = (id*11 + y*37 + x*23 + c*71) % 256
    — a pure integer formula an oracle can recompute without any
    codec, while the payload is a genuine DEFLATE-compressed PNG whose
    rows cycle through all five filter types (height 10 = each filter
    twice). (media_id, content binary)."""
    out_schema = "media_id long, content binary"
    ys = np.arange(height)[:, None, None]
    xs = np.arange(width)[None, :, None]
    cs = np.arange(3)[None, None, :]
    base = ys * 37 + xs * 23 + cs * 71

    def encode(i):
        yield i, encode_png(((i * 11 + base) % 256).astype(np.uint8))

    return map_rows(docs, encode, out_schema, cols=(id_col,))


def synthesize_png_interlaced(
    docs: DataFrame,
    id_col: str = "doc_id",
    width: int = 12,
    height: int = 9,
) -> DataFrame:
    """Deterministic ADAM7-interlaced PNG fixture: pixel (y, x, c) =
    (id*29 + y*41 + x*13 + c*67) % 256 at 12x9 — the odd height makes
    the seven passes uneven (different sub-image dims per pass), so
    the pass-geometry arithmetic is genuinely exercised on every
    image. (media_id, content binary)."""
    out_schema = "media_id long, content binary"
    ys = np.arange(height)[:, None, None]
    xs = np.arange(width)[None, :, None]
    cs = np.arange(3)[None, None, :]
    base = ys * 41 + xs * 13 + cs * 67

    def encode(i):
        px = ((i * 29 + base) % 256).astype(np.uint8)
        yield i, encode_png(px, interlace=True)

    return map_rows(docs, encode, out_schema, cols=(id_col,))


def png_features(
    media: DataFrame,
    id_col: str = "media_id",
    content_col: str = "content",
) -> DataFrame:
    """Decode PNG binaries with the REAL stdlib-only codec and emit
    per-image features: (media_id, width, height, mean_r, mean_g,
    mean_b, sum_px). sum_px (total of all pixel bytes) makes the
    oracle sensitive to every single pixel, not only channel means.
    Same narrow Arrow-batched map_rows boundary as ppm_features."""
    out_schema = (
        f"{id_col} long, width int, height int, "
        "mean_r double, mean_g double, mean_b double, sum_px long"
    )

    def feat(mid, payload):
        yield rgb_features(mid, decode_png(payload))

    return map_rows(media, feat, out_schema, cols=(id_col, content_col))


def _gzip_text(key, text):
    """(key, one RFC 1952 member of ``text``); mtime 0 keeps bytes stable."""
    body = (text or "").encode("utf-8")
    yield key, gzip.compress(body, compresslevel=6, mtime=0)


def synthesize_gzip_docs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Real gzip-compressed text shards (stdlib ``gzip``): the storage
    format most training corpora actually arrive in (.jsonl.gz /
    .txt.gz). One genuine RFC 1952 member per document, carried as an
    opaque binary column. (media_id, content binary)."""
    out_schema = "media_id long, content binary"

    return map_rows(docs, _gzip_text, out_schema, cols=(id_col, text_col))


def gzip_text_features(
    media: DataFrame,
    id_col: str = "media_id",
    content_col: str = "content",
) -> DataFrame:
    """Decompress gzip binaries with the REAL stdlib codec and emit
    per-doc features over the RECOVERED text: (media_id, n_chars,
    digest md5-of-text). The compressed byte size is deliberately NOT
    in the output — gzip output bytes depend on the compressor
    level/implementation, so an oracle cannot recompute them; the
    decompressed-content digest is what seals the round trip. Same
    narrow Arrow map_rows boundary as the other codecs."""
    out_schema = f"{id_col} long, n_chars int, digest string"

    def feat(mid, payload):
        text = gzip.decompress(payload).decode("utf-8")
        yield mid, len(text), hashlib.md5(text.encode("utf-8")).hexdigest()

    return map_rows(media, feat, out_schema, cols=(id_col, content_col))


def synthesize_jsonl_shards(
    lines: "DataFrame",
    shard_col: str = "shard_id",
    line_col: str = "payload",
) -> "DataFrame":
    """Real .jsonl.gz shards: ``lines`` carries one pre-built JSONL
    payload string per shard (JSON serialization stays JVM-side via
    to_json; only the byte compression runs here). One genuine
    RFC 1952 member per shard. (media_id, content binary)."""
    out_schema = "media_id long, content binary"

    return map_rows(lines, _gzip_text, out_schema, cols=(shard_col, line_col))


def gunzip_text(
    media: "DataFrame",
    id_col: str = "media_id",
    content_col: str = "content",
    out_col: str = "payload",
) -> "DataFrame":
    """Inflate gzip binaries back to text and STOP — unlike
    gzip_text_features this emits the raw recovered payload so the
    downstream parse (JSON lines, TSV, ...) stays in JVM expressions
    (from_json / split), keeping Python to the byte codec only."""
    out_schema = f"{id_col} long, {out_col} string"

    def inflate(mid, payload):
        yield mid, gzip.decompress(payload).decode("utf-8")

    return map_rows(media, inflate, out_schema, cols=(id_col, content_col))


def resize_plan(
    media: DataFrame,
    target_w: int,
    target_h: int,
) -> DataFrame:
    """Resize metadata planning (pure column math — the real resample
    happens in the decode UDF at materialization): scale factors +
    output dims, preserving aspect by letterboxing."""
    scale = F.least(
        F.lit(target_w) / F.col("width"), F.lit(target_h) / F.col("height")
    )
    return media.withColumn("scale", (F.round(scale, 6) + F.lit(0.0))).withColumn(
        "out_w", (F.round(F.col("width") * scale) + F.lit(0.0)).cast("int")
    ).withColumn("out_h", (F.round(F.col("height") * scale) + F.lit(0.0)).cast("int"))


def frame_sample_plan(
    media: DataFrame,
    every_n: int = 10,
) -> DataFrame:
    """Video frame sampling plumbing: explode sampled frame indices
    (media_id, frame_idx) — the decode of each sampled frame is the
    same map_rows boundary as decode_features."""
    idx = F.sequence(
        F.lit(0),
        F.greatest(F.col("n_frames") - 1, F.lit(0)),
        F.lit(every_n),
    )
    return (
        media.filter(F.col("modality") == "video")
        .select("media_id", F.explode(idx).alias("frame_idx"))
    )
