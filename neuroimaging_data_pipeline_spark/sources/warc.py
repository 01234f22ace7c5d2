"""WARC (ISO 28500 / WARC/1.0) web-archive source, stdlib-only — the
container format web corpora actually arrive in (Common Crawl ships
WARC shards with one gzip member per record), completing the
web-ingest story next to the HTML/boilerplate extractor
(text/html.py) and the URL operators (text/urls.py).

What is REAL here:

- WARC/1.0 record framing in both directions: version line, named
  headers, Content-Length-delimited payload, the mandatory CRLF CRLF
  record terminator;
- the Common Crawl layout: a leading ``warcinfo`` record followed by
  ``response`` records whose payload is a full HTTP/1.1 response
  (status line + headers + body), parsed back out with an HTTP
  splitter;
- per-record gzip members (the multi-member stream ``zlib`` must
  walk via ``unused_data``) AND plain concatenation — both written
  and both parsed;
- ``WARC-Payload-Digest: sha1:<base32>`` computed on write and
  RE-VERIFIED on parse (same integrity discipline as the TAR
  checksum guard) — a corrupted shard raises, never mis-parses.

No reference analog (the reference ingests TSV/NIfTI,
ssm_loop.py:41); this is engine-addition scope for the LLM-corpus
pipeline, same as the TAR WebDataset source (multimodal/tar.py).

Scale: shard packing is a single keyed shuffle (``pack_shards``, one
Arrow group per shard — the same grouping a distributed WARC writer
needs); parsing is a narrow map_rows over opaque binary shards,
embarrassingly parallel, zero further shuffle. At 100 TB the shards
arrive as parquet binary columns or via the DataSource API (sources/
datasource.py shows the registered-format half).
"""

from __future__ import annotations

import base64
import gzip
import hashlib
import zlib

from pyspark.sql import DataFrame

from neuroimaging_data_pipeline_spark.functions.rowmap import map_rows, pack_shards

_CRLF = b"\r\n"
_WARC_DATE = "2026-01-01T00:00:00Z"  # fixed: shards must be deterministic


def _payload_digest(payload: bytes) -> str:
    return "sha1:" + base64.b32encode(hashlib.sha1(payload).digest()).decode()


def write_warc_record(
    warc_type: str, headers: dict[str, str], payload: bytes
) -> bytes:
    """One WARC/1.0 record with computed Content-Length and
    WARC-Payload-Digest."""
    out = [b"WARC/1.0"]
    fields = {
        "WARC-Type": warc_type,
        "WARC-Date": _WARC_DATE,
        **headers,
        "WARC-Payload-Digest": _payload_digest(payload),
        "Content-Length": str(len(payload)),
    }
    for k, v in fields.items():
        out.append(f"{k}: {v}".encode())
    return _CRLF.join(out) + _CRLF * 2 + payload + _CRLF * 2


def http_response(body: bytes, status: int = 200) -> bytes:
    reason = {200: "OK", 404: "Not Found", 301: "Moved Permanently"}.get(
        status, "OK"
    )
    head = (
        f"HTTP/1.1 {status} {reason}\r\n"
        f"Content-Type: text/plain; charset=utf-8\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    )
    return head.encode() + body


def write_warc(
    records: list[tuple[str, dict[str, str], bytes]],
    gzip_per_record: bool = True,
) -> bytes:
    """Serialize records as one WARC shard. ``gzip_per_record`` gives
    the Common Crawl layout: each record its own gzip member (mtime
    pinned 0 so shards are byte-deterministic)."""
    out = bytearray()
    for warc_type, headers, payload in records:
        rec = write_warc_record(warc_type, headers, payload)
        out += gzip.compress(rec, mtime=0) if gzip_per_record else rec
    return bytes(out)


def _gunzip_members(buf: bytes) -> bytes:
    """Concatenate all members of a multi-member gzip stream."""
    out = bytearray()
    rest = buf
    while rest:
        d = zlib.decompressobj(wbits=31)
        out += d.decompress(rest)
        out += d.flush()
        if not d.eof:
            raise ValueError("truncated gzip member in WARC shard")
        rest = d.unused_data
    return bytes(out)


def parse_warc(buf: bytes) -> list[tuple[dict[str, str], bytes]]:
    """Parse a WARC shard (gzipped-per-record or plain) into
    (headers, payload) pairs. Header names are returned lower-cased;
    the payload digest is re-verified against WARC-Payload-Digest."""
    buf = bytes(buf)
    if buf[:2] == b"\x1f\x8b":
        buf = _gunzip_members(buf)
    records = []
    pos = 0
    n = len(buf)
    while pos < n:
        head_end = buf.find(_CRLF * 2, pos)
        if head_end < 0:
            raise ValueError("WARC record header without CRLFCRLF")
        lines = buf[pos:head_end].split(_CRLF)
        if not lines[0].startswith(b"WARC/"):
            raise ValueError(f"bad WARC version line {lines[0]!r}")
        headers: dict[str, str] = {}
        for line in lines[1:]:
            k, _, v = line.partition(b":")
            headers[k.decode().strip().lower()] = v.decode().strip()
        clen = int(headers["content-length"])
        body_start = head_end + 4
        payload = buf[body_start : body_start + clen]
        if len(payload) != clen:
            raise ValueError("WARC payload truncated")
        want = headers.get("warc-payload-digest")
        if want and _payload_digest(payload) != want:
            raise ValueError(
                f"WARC payload digest mismatch in "
                f"{headers.get('warc-record-id', '<no id>')}"
            )
        if buf[body_start + clen : body_start + clen + 4] != _CRLF * 2:
            raise ValueError("WARC record terminator missing")
        records.append((headers, payload))
        pos = body_start + clen + 4
    return records


def parse_http_response(payload: bytes) -> tuple[int, dict[str, str], bytes]:
    """Split an HTTP/1.1 response payload into (status, headers,
    body)."""
    head_end = payload.find(_CRLF * 2)
    if head_end < 0:
        raise ValueError("HTTP payload without header terminator")
    lines = payload[:head_end].split(_CRLF)
    parts = lines[0].split(b" ", 2)
    if not parts[0].startswith(b"HTTP/"):
        raise ValueError(f"bad HTTP status line {lines[0]!r}")
    status = int(parts[1])
    headers = {}
    for line in lines[1:]:
        k, _, v = line.partition(b":")
        headers[k.decode().strip().lower()] = v.decode().strip()
    return status, headers, payload[head_end + 4 :]


# --- Spark surface -----------------------------------------------------------

DOCS_PER_SHARD = 64


def synthesize_warc_shards(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Pack documents into deterministic WARC shards (one keyed
    shuffle — the grouping any distributed shard writer needs): shard
    k holds docs with id // DOCS_PER_SHARD == k, a warcinfo record
    first, one HTTP response record per doc at
    http://corpus.example/doc/{id}. Odd shards use the Common Crawl
    gzip-per-record layout, even shards plain concatenation, so both
    parse paths stay hot."""

    def build(shard_id, docs):
        records: list[tuple[str, dict[str, str], bytes]] = [
            (
                "warcinfo",
                {"WARC-Record-ID": f"<urn:shard:{shard_id}>"},
                b"software: neuroimaging-data-pipeline-spark warc writer\r\n",
            )
        ]
        for i, text in docs:
            body = ("" if text is None else text).encode()
            records.append(
                (
                    "response",
                    {
                        "WARC-Record-ID": f"<urn:doc:{i}>",
                        "WARC-Target-URI": f"http://corpus.example/doc/{i}",
                    },
                    http_response(body),
                )
            )
        yield shard_id, write_warc(records, gzip_per_record=bool(shard_id % 2))

    return pack_shards(
        docs, build, "shard_id long, content binary", DOCS_PER_SHARD,
        cols=(id_col, text_col),
    )


def warc_records(
    shards: DataFrame,
    content_col: str = "content",
) -> DataFrame:
    """Parse WARC shards into one row per HTTP response record:
    (doc_id from the target URI, warc_type, http_status,
    content_length of the body in OCTETS — HTTP Content-Length
    semantics, matched by strlen() on the oracle side, not character
    count — body_md5, and n_warcinfo = the count of warcinfo records
    seen in the row's shard, folded onto every response row so a
    framing bug that drops the shard header is oracle-visible (the
    synthesizer writes exactly one per shard)."""
    out_schema = (
        "doc_id long, warc_type string, http_status int, "
        "content_length long, body_md5 string, n_warcinfo int"
    )

    def parse(content):
        n_warcinfo = 0
        rows = []
        for headers, payload in parse_warc(content):
            if headers["warc-type"] == "warcinfo":
                n_warcinfo += 1
                continue
            if headers["warc-type"] != "response":
                continue
            uri = headers["warc-target-uri"]
            status, _, body = parse_http_response(payload)
            rows.append((
                int(uri.rsplit("/", 1)[1]), headers["warc-type"], status,
                len(body), hashlib.md5(body).hexdigest(),
            ))
        return [(*r, n_warcinfo) for r in rows]

    return map_rows(shards, parse, out_schema, cols=(content_col,))
