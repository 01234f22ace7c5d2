"""TFRecord + ``tf.train.Example`` reader/writer, stdlib-only and
from scratch — THE classic ML training-shard format: length-framed
protobuf Example records, each frame guarded by two MASKED CRC-32C
checksums. No tensorflow, no protobuf library: the protobuf WIRE
FORMAT itself is implemented here for the (public, frozen) Example
schema.

What is REAL:

- the TFRecord frame (the format TensorFlow documents): LE64 length,
  masked CRC-32C OF THE LENGTH BYTES, payload, masked CRC-32C of the
  payload — both checksums re-verified on every record (the mask is
  snappy's ``((crc>>15)|(crc<<17)) + 0xa282ead8``, shared from
  sources/snappy.py along with the from-scratch Castagnoli table);
- protobuf wire format for the Example schema: varints, field tags
  (``field<<3 | wire_type``), length-delimited nesting, the
  map<string, Feature> entry encoding (repeated submessages with
  key=1/value=2), BytesList (repeated bytes), Int64List and
  FloatList in their PACKED encodings (packed varints / packed
  little-endian float32), and tolerant field-order/unknown-field
  handling on decode (unknown fields are skipped by wire type, the
  spec's forward-compat rule);
- negative int64s ride the 10-byte two's-complement varint form, per
  the wire spec.

Interop pin: when ``tensorflow`` or ``crc32c``-bearing readers exist
they can consume these shards byte-for-byte (absent here — the
from-scratch frame + proto layers are instead pinned by hand-built
byte fixtures in pytest).

Scale: one task per shard, opaque binary through Arrow
``map_rows``, zero shuffle beyond the keyed pack.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

from pyspark.sql import DataFrame

from neuroimaging_data_pipeline_spark.functions.rowmap import map_rows, pack_shards
from neuroimaging_data_pipeline_spark.sources.snappy import (
    _mask_crc,
    crc32c,
)

# --- protobuf wire primitives ---------------------------------------------------------


def _uvarint(n: int) -> bytes:
    out = bytearray()
    while n >= 0x80:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


def _read_uvarint(buf: bytes, pos: int) -> tuple[int, int]:
    shift = val = 0
    while True:
        if pos >= len(buf):
            raise ValueError("truncated varint")
        b = buf[pos]
        pos += 1
        val |= (b & 0x7F) << shift
        if not b & 0x80:
            return val, pos
        shift += 7
        if shift > 70:
            raise ValueError("varint too long")


def _varint64(n: int) -> bytes:
    """int64 as a wire varint: negatives use the 10-byte
    two's-complement form, per the protobuf spec."""
    return _uvarint(n & 0xFFFFFFFFFFFFFFFF)


def _tag(field: int, wire: int) -> bytes:
    return _uvarint((field << 3) | wire)


def _len_delim(field: int, payload: bytes) -> bytes:
    return _tag(field, 2) + _uvarint(len(payload)) + payload


# --- tf.train.Example encode -----------------------------------------------------------


def _feature(value) -> bytes:
    """Feature message: bytes -> BytesList(1), list[int] ->
    Int64List(3, packed), list[float] -> FloatList(2, packed f32)."""
    if isinstance(value, bytes):
        inner = _len_delim(1, value)          # BytesList.value
        return _len_delim(1, inner)           # Feature.bytes_list
    if isinstance(value, list) and value and isinstance(value[0], float):
        packed = b"".join(struct.pack("<f", v) for v in value)
        inner = _len_delim(1, packed)         # FloatList.value (packed)
        return _len_delim(2, inner)           # Feature.float_list
    if isinstance(value, list):
        packed = b"".join(_varint64(int(v)) for v in value)
        inner = _len_delim(1, packed)         # Int64List.value (packed)
        return _len_delim(3, inner)           # Feature.int64_list
    raise TypeError(f"unsupported feature value {type(value)}")


def encode_example(features: dict[str, object]) -> bytes:
    """tf.train.Example bytes for a {name: bytes|[int]|[float]} dict.
    Map entries are emitted in sorted-key order (deterministic
    serialization; readers accept any order)."""
    feats = bytearray()
    for name in sorted(features):
        entry = _len_delim(1, name.encode()) + _len_delim(
            2, _feature(features[name])
        )
        feats += _len_delim(1, entry)         # Features.feature entry
    return _len_delim(1, bytes(feats))        # Example.features


# --- tf.train.Example decode -----------------------------------------------------------


def _skip_field(buf: bytes, pos: int, wire: int) -> int:
    if wire == 0:
        _, pos = _read_uvarint(buf, pos)
        return pos
    if wire == 1:
        return pos + 8
    if wire == 2:
        ln, pos = _read_uvarint(buf, pos)
        return pos + ln
    if wire == 5:
        return pos + 4
    raise ValueError(f"unsupported wire type {wire}")


def _fields(buf: bytes) -> Iterator[tuple[int, int, bytes | int]]:
    """Walk a message's fields: yields (field, wire, value) where
    value is bytes for wire 2 and the varint for wire 0."""
    pos = 0
    while pos < len(buf):
        key, pos = _read_uvarint(buf, pos)
        field, wire = key >> 3, key & 7
        if wire == 0:
            v, pos = _read_uvarint(buf, pos)
            yield field, wire, v
        elif wire == 2:
            ln, pos = _read_uvarint(buf, pos)
            if pos + ln > len(buf):
                raise ValueError("length-delimited field past end")
            yield field, wire, buf[pos : pos + ln]
            pos += ln
        else:
            start = pos
            pos = _skip_field(buf, pos, wire)
            yield field, wire, buf[start:pos]


def _decode_feature(buf: bytes):
    for field, wire, val in _fields(buf):
        if field == 1 and wire == 2:  # BytesList
            out = [v for f, w, v in _fields(val) if f == 1 and w == 2]
            return ("bytes", out)
        if field == 2 and wire == 2:  # FloatList
            vals: list[float] = []
            for f, w, v in _fields(val):
                if f != 1:
                    continue
                if w == 2:  # packed
                    vals += [
                        struct.unpack_from("<f", v, i)[0]
                        for i in range(0, len(v), 4)
                    ]
                elif w == 5:
                    vals.append(struct.unpack("<f", v)[0])
            return ("float", vals)
        if field == 3 and wire == 2:  # Int64List
            vals = []
            for f, w, v in _fields(val):
                if f != 1:
                    continue
                if w == 2:  # packed varints
                    p = 0
                    while p < len(v):
                        u, p = _read_uvarint(v, p)
                        vals.append(
                            u - (1 << 64) if u >= (1 << 63) else u
                        )
                elif w == 0:
                    vals.append(
                        v - (1 << 64) if v >= (1 << 63) else v
                    )
            return ("int64", vals)
    return ("empty", [])


def decode_example(buf: bytes) -> dict[str, tuple[str, list]]:
    """Example bytes -> {feature name: (kind, values)}; unknown
    fields anywhere are skipped by wire type (forward compat)."""
    out: dict[str, tuple[str, list]] = {}
    for field, wire, val in _fields(bytes(buf)):
        if field != 1 or wire != 2:
            continue  # unknown Example field
        for f2, w2, entry in _fields(val):
            if f2 != 1 or w2 != 2:
                continue
            name = None
            feat = None
            for f3, w3, v3 in _fields(entry):
                if f3 == 1 and w3 == 2:
                    name = v3.decode()
                elif f3 == 2 and w3 == 2:
                    feat = v3
            if name is None or feat is None:
                raise ValueError("map entry missing key or value")
            out[name] = _decode_feature(feat)
    return out


# --- TFRecord framing -------------------------------------------------------------------


def write_tfrecords(payloads: list[bytes]) -> bytes:
    out = bytearray()
    for p in payloads:
        ln = struct.pack("<Q", len(p))
        out += ln
        out += struct.pack("<I", _mask_crc(crc32c(ln)))
        out += p
        out += struct.pack("<I", _mask_crc(crc32c(p)))
    return bytes(out)


def read_tfrecords(buf: bytes) -> list[bytes]:
    buf = bytes(buf)
    pos = 0
    out = []
    while pos < len(buf):
        if pos + 12 > len(buf):
            raise ValueError("truncated TFRecord header")
        ln_bytes = buf[pos : pos + 8]
        (ln,) = struct.unpack("<Q", ln_bytes)
        (lcrc,) = struct.unpack_from("<I", buf, pos + 8)
        if _mask_crc(crc32c(ln_bytes)) != lcrc:
            raise ValueError("TFRecord length CRC mismatch")
        pos += 12
        data = buf[pos : pos + ln]
        if len(data) != ln:
            raise ValueError("truncated TFRecord payload")
        pos += ln
        if pos + 4 > len(buf):
            raise ValueError("truncated TFRecord data CRC")
        (dcrc,) = struct.unpack_from("<I", buf, pos)
        if _mask_crc(crc32c(data)) != dcrc:
            raise ValueError("TFRecord data CRC mismatch")
        pos += 4
        out.append(data)
    return out


# --- Spark surface -----------------------------------------------------------------------

_DOCS_PER_SHARD = 64


def synthesize_tfrecord_shards(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Pack documents into TFRecord shards (id // 64), one Example per
    doc with the canonical multimodal-feature spread: text (bytes),
    lang (bytes), id + n_chars (int64, the id NEGATED for odd docs so
    the 10-byte negative varint form stays hot), score (float32 list,
    quarter-steps so f32 is exact cross-engine). One keyed shuffle to
    pack, then narrow map_rows."""

    def build(shard_id, docs):
        payloads = []
        for i, text, lang in docs:
            text = "" if text is None else text
            payloads.append(
                encode_example(
                    {
                        "text": text.encode(),
                        "lang": str(lang).encode(),
                        "id": [i if i % 2 == 0 else -i],
                        "n_chars": [len(text)],
                        "score": [float((i % 100) / 4.0),
                                  float((i % 7) / 2.0)],
                    }
                )
            )
        yield shard_id, write_tfrecords(payloads)

    return pack_shards(
        docs, build, "shard_id long, content binary", _DOCS_PER_SHARD,
        cols=(id_col, text_col, "lang"),
    )


def tfrecord_documents(
    shards: DataFrame,
    content_col: str = "content",
) -> DataFrame:
    out_schema = (
        "doc_id long, lang string, n_chars long, score_sum double,"
        " text_md5 string"
    )

    def parse(content):
        for rec in read_tfrecords(content):
            ex = decode_example(rec)
            raw_id = ex["id"][1][0]
            yield (
                -raw_id if raw_id < 0 else raw_id,
                ex["lang"][1][0].decode(),
                ex["n_chars"][1][0],
                # quarter/half-step float32s are exact in double
                float(sum(ex["score"][1])),
                hashlib.md5(ex["text"][1][0]).hexdigest(),
            )

    return map_rows(shards, parse, out_schema, cols=(content_col,))
