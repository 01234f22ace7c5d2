"""CBOR codec (RFC 8949), stdlib-only and from scratch — the binary
JSON that config blobs, IoT/telemetry payloads and COSE/WebAuthn
records ship in; the schemaless sibling to the Avro OCF and Arrow IPC
sources here.

What is REAL here, both directions:

- all major types: unsigned / negative integers (64-bit, with the
  -1-minus-n encoding), byte strings, UTF-8 text strings, arrays,
  maps, tags (number preserved around the decoded item), and the
  simple values false/true/null/undefined;
- PREFERRED SERIALIZATION (RFC 8949 section 4.1): integers in their
  shortest form (immediate 0-23, then 1/2/4/8 bytes), and floats in
  the shortest of half/single/double that round-trips — including a
  from-scratch IEEE 754 binary16 encode/decode (subnormals,
  infinities, NaN);
- indefinite-length arrays, maps, and chunked text/byte strings
  (major-type-consistent chunks, 0xFF break), decoded to the same
  values their definite forms produce;
- the RFC 8949 Appendix A examples are pinned in pytest as literal
  hex — encode(value) must produce the exact published bytes and
  decode(bytes) the exact published value, so this is an EXTERNAL
  conformance pin, not a self-roundtrip.

Scale: shard packing is one keyed shuffle; parsing is a narrow
``map_rows`` over opaque shard blobs, zero further shuffle.
"""

from __future__ import annotations

import hashlib
import math
import struct

from pyspark.sql import DataFrame

from neuroimaging_data_pipeline_spark.functions.rowmap import map_rows, pack_shards


class Tag:
    """A tagged item (major type 6): tag number + enclosed value."""

    __slots__ = ("number", "value")

    def __init__(self, number: int, value):
        self.number = number
        self.value = value

    def __eq__(self, other):
        return (
            isinstance(other, Tag)
            and self.number == other.number
            and self.value == other.value
        )

    def __repr__(self):
        return f"Tag({self.number}, {self.value!r})"


class Undefined:
    """CBOR 'undefined' (0xF7) — distinct from null."""

    _inst = None

    def __new__(cls):
        if cls._inst is None:
            cls._inst = super().__new__(cls)
        return cls._inst

    def __repr__(self):
        return "undefined"


UNDEFINED = Undefined()


# --- binary16 --------------------------------------------------------------------


def half_to_float(h: int) -> float:
    """IEEE 754 binary16 -> Python float, from scratch (RFC 8949
    Appendix D does exactly this arithmetic)."""
    sign = -1.0 if h & 0x8000 else 1.0
    exp = (h >> 10) & 0x1F
    frac = h & 0x3FF
    if exp == 0:
        return sign * frac * 2.0**-24  # subnormal (or zero)
    if exp == 31:
        return sign * (math.inf if frac == 0 else math.nan)
    return sign * (1024 + frac) * 2.0 ** (exp - 25)


def float_to_half(x: float) -> int | None:
    """Shortest-form probe: the binary16 pattern when x round-trips
    exactly, else None."""
    if math.isnan(x):
        return 0x7E00  # the canonical NaN
    if math.isinf(x):
        return 0x7C00 if x > 0 else 0xFC00
    sign = 0x8000 if math.copysign(1.0, x) < 0 else 0
    a = abs(x)
    if a == 0.0:
        return sign
    # subnormal range: frac/2^24 for frac in 1..1023
    frac24 = a * 2.0**24
    if frac24 == int(frac24) and 1 <= int(frac24) <= 0x3FF:
        return sign | int(frac24)
    m, e = math.frexp(a)  # a = m * 2^e, m in [0.5, 1)
    exp = e + 14  # biased: a = (1024+frac)/1024 * 2^(e-1) -> bias 15
    if not 1 <= exp <= 30:
        return None
    frac = m * 2048 - 1024  # m in [0.5,1) -> 1024..2047
    if frac != int(frac):
        return None
    return sign | (exp << 10) | int(frac)


# --- encoder ---------------------------------------------------------------------


def _head(major: int, n: int) -> bytes:
    if n < 24:
        return bytes([major << 5 | n])
    if n < 1 << 8:
        return bytes([major << 5 | 24, n])
    if n < 1 << 16:
        return bytes([major << 5 | 25]) + n.to_bytes(2, "big")
    if n < 1 << 32:
        return bytes([major << 5 | 26]) + n.to_bytes(4, "big")
    if n < 1 << 64:
        return bytes([major << 5 | 27]) + n.to_bytes(8, "big")
    raise ValueError("integer too large for CBOR")


def encode(v) -> bytes:
    """Preferred serialization (shortest form) per RFC 8949 4.1."""
    if v is None:
        return b"\xf6"
    if v is UNDEFINED:
        return b"\xf7"
    if isinstance(v, bool):
        return b"\xf5" if v else b"\xf4"
    if isinstance(v, int):
        return _head(0, v) if v >= 0 else _head(1, -1 - v)
    if isinstance(v, float):
        h = float_to_half(v)
        if h is not None:
            return b"\xf9" + h.to_bytes(2, "big")
        try:
            single = struct.pack(">f", v)
        except OverflowError:  # magnitude past binary32: double it is
            single = None
        if single is not None and struct.unpack(">f", single)[0] == v:
            return b"\xfa" + single
        return b"\xfb" + struct.pack(">d", v)
    if isinstance(v, (bytes, bytearray)):
        return _head(2, len(v)) + bytes(v)
    if isinstance(v, str):
        b = v.encode("utf-8")
        return _head(3, len(b)) + b
    if isinstance(v, (list, tuple)):
        return _head(4, len(v)) + b"".join(encode(x) for x in v)
    if isinstance(v, dict):
        return _head(5, len(v)) + b"".join(
            encode(k) + encode(val) for k, val in v.items()
        )
    if isinstance(v, Tag):
        return _head(6, v.number) + encode(v.value)
    raise TypeError(f"cannot encode {type(v)}")


# --- decoder ---------------------------------------------------------------------


class _Dec:
    def __init__(self, buf: bytes):
        self.buf = bytes(buf)
        self.pos = 0

    def byte(self) -> int:
        if self.pos >= len(self.buf):
            raise ValueError("CBOR truncated")
        b = self.buf[self.pos]
        self.pos += 1
        return b

    def take(self, n: int) -> bytes:
        if self.pos + n > len(self.buf):
            raise ValueError("CBOR truncated")
        out = self.buf[self.pos : self.pos + n]
        self.pos += n
        return out

    def length(self, ai: int) -> int | None:
        """Additional-info -> length; None signals indefinite."""
        if ai < 24:
            return ai
        if ai == 24:
            return self.byte()
        if ai in (25, 26, 27):
            return int.from_bytes(self.take({25: 2, 26: 4, 27: 8}[ai]), "big")
        if ai == 31:
            return None
        raise ValueError(f"reserved additional info {ai}")

    def item(self):
        ib = self.byte()
        major, ai = ib >> 5, ib & 0x1F
        if major == 0:
            n = self.length(ai)
            if n is None:
                raise ValueError("indefinite unsigned int")
            return n
        if major == 1:
            n = self.length(ai)
            if n is None:
                raise ValueError("indefinite negative int")
            return -1 - n
        if major in (2, 3):
            n = self.length(ai)
            if n is None:  # chunked string: same-major definite chunks
                parts = []
                while True:
                    nb = self.byte()
                    if nb == 0xFF:
                        break
                    cm, cai = nb >> 5, nb & 0x1F
                    cl = self.length(cai)
                    if cm != major or cl is None:
                        raise ValueError("bad indefinite string chunk")
                    parts.append(self.take(cl))
                raw = b"".join(parts)
            else:
                raw = self.take(n)
            return raw if major == 2 else raw.decode("utf-8")
        if major == 4:
            n = self.length(ai)
            out = []
            if n is None:
                while self.buf[self.pos : self.pos + 1] != b"\xff":
                    out.append(self.item())
                self.pos += 1
            else:
                out = [self.item() for _ in range(n)]
            return out
        if major == 5:
            n = self.length(ai)
            out = {}
            if n is None:
                while self.buf[self.pos : self.pos + 1] != b"\xff":
                    k = self.item()
                    out[k] = self.item()
                self.pos += 1
            else:
                for _ in range(n):
                    k = self.item()
                    out[k] = self.item()
            return out
        if major == 6:
            n = self.length(ai)
            if n is None:
                raise ValueError("indefinite tag number")
            return Tag(n, self.item())
        # major 7: simple / floats
        if ai == 20:
            return False
        if ai == 21:
            return True
        if ai == 22:
            return None
        if ai == 23:
            return UNDEFINED
        if ai == 25:
            return half_to_float(int.from_bytes(self.take(2), "big"))
        if ai == 26:
            return struct.unpack(">f", self.take(4))[0]
        if ai == 27:
            return struct.unpack(">d", self.take(8))[0]
        if ai == 24:
            return self.byte()  # simple value 32..255
        if ai < 20:
            return ai  # unassigned simple values 0..19
        raise ValueError(f"reserved float/simple encoding {ai}")


def decode(buf: bytes):
    d = _Dec(buf)
    v = d.item()
    if d.pos != len(d.buf):
        raise ValueError(f"{len(d.buf) - d.pos} trailing bytes after item")
    return v


# --- Spark surface ---------------------------------------------------------------

DOCS_PER_SHARD = 64


def synthesize_cbor_shards(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Pack documents into CBOR shards of DOCS_PER_SHARD ids: one
    definite array of per-doc maps {"id", "text", "n"}, with a tag 1
    (epoch seconds) wrapper on the id every 3rd doc so tags stay hot
    on the query path."""

    def build(shard_id, docs):
        items = []
        for i, t in docs:
            txt = "" if t is None else t
            items.append(
                {"id": Tag(1, i) if i % 3 == 0 else i, "text": txt, "n": len(txt)}
            )
        yield shard_id, encode(items)

    return pack_shards(
        docs, build, "shard_id long, content binary", DOCS_PER_SHARD,
        cols=(id_col, text_col),
    )


def cbor_documents(
    shards: DataFrame,
    content_col: str = "content",
) -> DataFrame:
    out_schema = "doc_id long, tagged boolean, n_chars long, text_md5 string"

    def parse(content):
        for rec in decode(content):
            rid = rec["id"]
            tagged = isinstance(rid, Tag)
            if tagged:
                if rid.number != 1:
                    raise ValueError("unexpected tag number")
                rid = rid.value
            if rec["n"] != len(rec["text"]):
                raise ValueError("n/text mismatch in CBOR record")
            md5 = hashlib.md5(rec["text"].encode()).hexdigest()
            yield int(rid), tagged, len(rec["text"]), md5

    return map_rows(shards, parse, out_schema, cols=(content_col,))
