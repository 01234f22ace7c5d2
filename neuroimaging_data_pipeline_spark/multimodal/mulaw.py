"""G.711 mu-law audio codec (ITU-T G.711, WAVE_FORMAT_MULAW = 7),
stdlib+numpy only — the telephony compression codec, extending the
audio surface beyond the PCM16 WAV in binaryops (m2/m10) with a REAL
lossy-companding format: 14-bit linear samples -> 8-bit segmented
log codes -> decoded linear, exactly the sign/segment/mantissa
integer arithmetic of the standard (bias 33, 8 segments, 4-bit
mantissa, complemented code bytes).

Container: a genuine RIFF/WAVE file with wFormatTag 7 (mono, 8 kHz,
8 bits) written and parsed chunk-by-chunk here — the stdlib ``wave``
module only does PCM, so the fmt/data chunk walk is explicit and any
audio tool can read the output.

Exactness contract: mu-law decode is a 255-value codebook and
decode(encode(x)) is pure integer arithmetic, so the m23 oracle
recomputes every decoded sample in SQL (floor(log2(..)) segment
find + mantissa shift — verified bit-equal to the numpy path over
the full 14-bit input range in pytest). Decoded values are FIXED
POINTS: decode(encode(d)) == d, also pinned.

Scale: opaque binary + Arrow ``map_rows``, narrow, zero shuffle.
"""

from __future__ import annotations

import struct

import numpy as np
from pyspark.sql import DataFrame

from neuroimaging_data_pipeline_spark.functions.rowmap import map_rows

_BIAS = 33
_CLIP = 8159  # max encodable magnitude (14-bit mu-law range)


def mulaw_encode(x: np.ndarray) -> np.ndarray:
    """Linear samples (any int dtype, clipped to +/-8159) -> mu-law
    code bytes. Vectorized: segment = exponent of (|x|+33) via
    frexp (exact for integers), mantissa = next 4 bits."""
    x = np.asarray(x, np.int64)
    sign = np.where(x < 0, 0x80, 0).astype(np.int64)
    m = np.minimum(np.abs(x) + _BIAS, 0x1FFF)
    exp = (np.frexp(m.astype(np.float64))[1] - 1 - 5).astype(np.int64)
    mant = (m >> (exp + 1)) & 0x0F
    return ((sign | (exp << 4) | mant) ^ 0xFF).astype(np.uint8)


_DECODE_LUT = np.zeros(256, np.int64)
for _c in range(256):
    _u = _c ^ 0xFF
    _m = ((2 * (_u & 0x0F) + _BIAS) << ((_u >> 4) & 7)) - _BIAS
    _DECODE_LUT[_c] = -_m if _u & 0x80 else _m


def mulaw_decode(codes: np.ndarray) -> np.ndarray:
    """Code bytes -> linear samples via the 256-entry LUT (how real
    decoders do it)."""
    return _DECODE_LUT[np.asarray(codes, np.uint8)]


def write_wav_mulaw(samples: np.ndarray, sample_rate: int = 8000) -> bytes:
    """RIFF/WAVE, wFormatTag 7 (mu-law), mono 8-bit."""
    data = mulaw_encode(samples).tobytes()
    fmt = struct.pack("<HHIIHH", 7, 1, sample_rate, sample_rate, 1, 8)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
        + (b"\x00" if len(data) % 2 else b"")
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def read_wav_mulaw(buf: bytes) -> tuple[np.ndarray, int]:
    """Parse a mu-law WAV back to (decoded linear samples, rate).
    PCM or other format tags raise (the PCM path lives in
    binaryops.decode_wav)."""
    buf = bytes(buf)
    if buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos = 12
    fmt_tag = rate = None
    data = None
    while pos + 8 <= len(buf):
        cid = buf[pos : pos + 4]
        size = struct.unpack_from("<I", buf, pos + 4)[0]
        chunk = buf[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt_tag, channels, rate = struct.unpack_from("<HHI", chunk, 0)
            if fmt_tag != 7:
                raise ValueError(
                    f"wFormatTag {fmt_tag} is not mu-law (7); PCM decode "
                    "lives in binaryops.decode_wav"
                )
            if channels != 1:
                raise ValueError("only mono mu-law supported")
        elif cid == b"data":
            data = chunk
        pos += 8 + size + (size % 2)
    if fmt_tag is None or data is None:
        raise ValueError("missing fmt or data chunk")
    return mulaw_decode(np.frombuffer(data, np.uint8)), rate


# --- Spark surface -------------------------------------------------------------

_N_SAMPLES = 40


def synthesize_mulaw_clips(
    docs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic mu-law WAV per document: 40 linear samples
    x_j = ((id * 131 + j * 617) % 16319) - 8159 spanning the full
    14-bit range, companded through the real codec into a real
    format-7 RIFF container."""
    out_schema = "media_id long, content binary"
    j = np.arange(_N_SAMPLES, dtype=np.int64)

    def build(i):
        x = (i * 131 + j * 617) % 16319 - 8159
        yield i, write_wav_mulaw(x)

    return map_rows(docs, build, out_schema, cols=(id_col,))


def mulaw_clip_features(
    media: DataFrame,
    id_col: str = "media_id",
    content_col: str = "content",
) -> DataFrame:
    """Decode mu-law WAVs and emit per-clip stats of the DECODED
    samples (sum, sum of |.|, max |.|) — all integer, all
    oracle-recomputable from the companding arithmetic."""
    out_schema = (
        f"{id_col} long, n_samples int, sample_rate int, "
        "sum_decoded long, sum_abs long, max_abs int"
    )

    def feat(key, payload):
        d, rate = read_wav_mulaw(payload)
        a = np.abs(d)
        yield key, len(d), rate, int(d.sum()), int(a.sum()), int(a.max())

    return map_rows(media, feat, out_schema, cols=(id_col, content_col))
