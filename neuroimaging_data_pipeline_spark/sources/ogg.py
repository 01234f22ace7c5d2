"""Ogg container (RFC 3533), stdlib-only and from scratch, both
directions — the streaming-media container speech/podcast corpora
arrive in (Opus/Vorbis ride inside it). Like the other media sources
the PAYLOAD codec is out of scope; the container layer — where
framing bugs actually corrupt corpora — is exact:

- page grammar: ``OggS`` capture pattern, version 0, the three
  header-type flags (continued-packet / BOS / EOS), the 64-bit
  granule position, bitstream serial, strictly-increasing page
  sequence numbers (gaps detected), segment table;
- the LACING scheme: packets split into 255-byte segments, a lacing
  value < 255 terminates a packet, a packet whose last segment is
  exactly 255 bytes CONTINUES onto the next page (which must raise
  its continued flag) — reassembly across pages is the part every
  naive reader gets wrong, so the synthesizer forces multi-page
  spans and the reader re-verifies flag consistency;
- Ogg's OWN CRC-32 flavor: polynomial 0x04C11DB7, init 0, NO
  reflection, NO final xor (distinct from zlib's reflected CRC-32,
  snappy's CRC-32C and xz's CRC-64 — pinned apart in pytest),
  computed over the page with the CRC field zeroed and re-verified
  on every page;
- nominal-bitrate-style stream bookkeeping: one logical stream per
  doc (BOS on the first page, EOS on the last, constant serial).

Scale: opaque binary + Arrow ``map_rows``, narrow, zero shuffle.
"""

from __future__ import annotations

import hashlib
import struct

from pyspark.sql import DataFrame

from neuroimaging_data_pipeline_spark.functions.rowmap import map_rows

# --- Ogg CRC-32 (non-reflected, poly 0x04C11DB7, init 0, xorout 0) --------------------

_OGG_CRC_TABLE = []
for _n in range(256):
    _c = _n << 24
    for _ in range(8):
        _c = ((_c << 1) ^ 0x04C11DB7) & 0xFFFFFFFF if _c & 0x80000000 \
            else (_c << 1) & 0xFFFFFFFF
    _OGG_CRC_TABLE.append(_c)


def ogg_crc(data: bytes) -> int:
    crc = 0
    for b in data:
        crc = ((crc << 8) & 0xFFFFFFFF) ^ _OGG_CRC_TABLE[
            ((crc >> 24) & 0xFF) ^ b
        ]
    return crc


# --- writer ---------------------------------------------------------------------------

_MAX_SEGS = 40  # segments per page (kept small so packet spans are hot)

_CONTINUED, _BOS, _EOS = 0x01, 0x02, 0x04


def _lacing(packet: bytes) -> list[int]:
    """RFC 3533 lacing: n//255 segments of 255 then the remainder —
    a packet of exactly k*255 bytes ends with a 0 lacing value."""
    out = [255] * (len(packet) // 255)
    out.append(len(packet) % 255)
    return out


def write_ogg_stream(
    packets: list[bytes],
    serial: int = 0,
    granule_step: int = 960,
) -> bytes:
    """One logical stream: packets laced into pages of at most
    _MAX_SEGS segments, continuation flags set exactly where a packet
    crosses a page boundary, BOS on page 0, EOS on the final page,
    granule position advancing per completed packet (-1 on pages that
    complete none, per spec)."""
    # flatten to (lacing value, data, completes_packet_index)
    laced: list[tuple[int, bytes]] = []
    for p_idx, p in enumerate(packets):
        vals = _lacing(p)
        at = 0
        for v in vals:
            laced.append((v, p[at : at + v]))
            at += v
    pages = [
        laced[i : i + _MAX_SEGS] for i in range(0, len(laced), _MAX_SEGS)
    ] or [[]]
    out = bytearray()
    completed = 0
    mid_packet = False  # carrying an unfinished packet into this page
    for seq, segs in enumerate(pages):
        htype = 0
        if mid_packet:
            htype |= _CONTINUED
        if seq == 0:
            htype |= _BOS
        if seq == len(pages) - 1:
            htype |= _EOS
        n_done = sum(1 for v, _ in segs if v < 255)
        completed += n_done
        granule = (
            completed * granule_step if n_done else 0xFFFFFFFFFFFFFFFF
        )
        mid_packet = bool(segs) and segs[-1][0] == 255
        hdr = bytearray(b"OggS\x00")
        hdr.append(htype)
        hdr += struct.pack("<Q", granule)
        hdr += struct.pack("<I", serial)
        hdr += struct.pack("<I", seq)
        hdr += b"\x00\x00\x00\x00"  # CRC placeholder
        hdr.append(len(segs))
        hdr += bytes(v for v, _ in segs)
        body = b"".join(d for _, d in segs)
        page = bytes(hdr) + body
        crc = ogg_crc(page)
        page = page[:22] + struct.pack("<I", crc) + page[26:]
        out += page
    return bytes(out)


# --- reader ---------------------------------------------------------------------------


def parse_ogg_stream(buf: bytes) -> dict:
    """Walk one logical stream: per-page CRC re-verified, sequence
    gaps / flag inconsistencies loud, packets reassembled across
    pages. Returns packets + page bookkeeping."""
    buf = bytes(buf)
    pos = 0
    packets: list[bytes] = []
    partial = bytearray()
    open_packet = False
    n_pages = 0
    n_spanning = 0
    expected_seq = 0
    serial = None
    saw_eos = False
    while pos < len(buf):
        if saw_eos:
            raise ValueError("data after the EOS page")
        if buf[pos : pos + 4] != b"OggS":
            raise ValueError(f"lost Ogg capture at {pos}")
        if buf[pos + 4] != 0:
            raise ValueError("unsupported Ogg version")
        htype = buf[pos + 5]
        (page_serial,) = struct.unpack_from("<I", buf, pos + 14)
        (seq,) = struct.unpack_from("<I", buf, pos + 18)
        (crc_stored,) = struct.unpack_from("<I", buf, pos + 22)
        nsegs = buf[pos + 26]
        lace = buf[pos + 27 : pos + 27 + nsegs]
        body_at = pos + 27 + nsegs
        body_len = sum(lace)
        page_end = body_at + body_len
        if page_end > len(buf):
            raise ValueError("truncated Ogg page")
        page = bytearray(buf[pos:page_end])
        page[22:26] = b"\x00\x00\x00\x00"
        if ogg_crc(bytes(page)) != crc_stored:
            raise ValueError(f"Ogg page CRC mismatch at {pos}")
        if serial is None:
            serial = page_serial
            if not htype & _BOS:
                raise ValueError("first page missing BOS")
        elif page_serial != serial:
            raise ValueError("serial change inside a logical stream")
        if seq != expected_seq:
            raise ValueError(
                f"page sequence gap: want {expected_seq}, got {seq}"
            )
        expected_seq += 1
        if bool(htype & _CONTINUED) != open_packet:
            raise ValueError("continued flag inconsistent with lacing")
        if htype & _EOS:
            saw_eos = True
        if open_packet and htype & _CONTINUED:
            n_spanning += 1
        at = body_at
        for v in lace:
            partial += buf[at : at + v]
            at += v
            if v < 255:
                packets.append(bytes(partial))
                partial = bytearray()
                open_packet = False
            else:
                open_packet = True
        n_pages += 1
        pos = page_end
    if open_packet:
        raise ValueError("stream ends mid-packet")
    if not saw_eos:
        raise ValueError("missing EOS page")
    return {
        "serial": serial,
        "n_pages": n_pages,
        "n_packets": len(packets),
        "n_spanning": n_spanning,
        "packets": packets,
    }


# --- Spark surface ----------------------------------------------------------------------


def synthesize_ogg_docs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document Ogg stream: a small header packet, the text as
    one packet (spanning pages whenever its segment count crosses a
    page boundary), and for id%3==0 a repetitive tail packet sized
    to GUARANTEE a multi-page span (2 pages of segments), so the
    continued-packet path stays hot. Pure id formulas the oracle
    recomputes."""
    out_schema = f"{id_col} long, content binary"

    def build(i, text):
        body = ("" if text is None else str(text)).encode()
        # the S29 oracle's page/span SQL assumes the text
        # packet never itself crosses a page boundary and the
        # forced tail crosses exactly one; both silently break
        # once header+text segments approach a full page, so
        # oversized corpora must fail loudly here instead of
        # diverging (ADVICE r7 #5)
        if 2 + len(body) // 255 > _MAX_SEGS - 3:
            raise ValueError(
                f"doc {i}: body of {len(body)} bytes needs "
                f"{len(body) // 255 + 1} segments — too close "
                f"to a {_MAX_SEGS}-segment page for the S29 "
                "oracle's fixed lacing arithmetic"
            )
        pkts = [b"NDPA" + str(i).encode(), body]
        if i % 3 == 0:
            pkts.append(b"=" * (255 * (_MAX_SEGS + 2)))
        yield i, write_ogg_stream(pkts, serial=(i * 2654435761) % 2**32)

    return map_rows(docs, build, out_schema, cols=(id_col, text_col))


def ogg_documents(
    media: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "content",
) -> DataFrame:
    out_schema = (
        f"{id_col} long, n_pages int, n_packets int, n_spanning int,"
        " content_len long, text_md5 string"
    )

    def feat(i, content):
        d = parse_ogg_stream(content)
        hdr, body = d["packets"][0], d["packets"][1]
        if hdr != b"NDPA" + str(i).encode():
            raise ValueError("header packet mismatch")
        yield (
            i,
            d["n_pages"],
            d["n_packets"],
            d["n_spanning"],
            len(body),
            hashlib.md5(body).hexdigest(),
        )

    return map_rows(media, feat, out_schema, cols=(id_col, content_col))
