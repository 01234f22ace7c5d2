"""mbox + MIME email source, stdlib-only — mailing-list archives and
mail dumps are a classic text-corpus source; this completes the
document-ingest set next to WARC (sources/warc.py) and PDF
(multimodal/pdf.py).

What is REAL here:

- mboxrd container framing in both directions: messages delimited by
  ``From `` separator lines, with the standard mboxrd quoting (every
  body line matching ``^>*From `` gains one ``>`` on write and loses
  one on read) so message bodies that themselves contain ``From ``
  lines round-trip exactly — the part naive splitters corrupt;
- RFC 5322 / MIME messages: multipart/alternative with a text/plain
  part and a text/html part, transfer-encoded base64 (odd ids) or
  quoted-printable (even ids), parsed back with the stdlib ``email``
  package (header walk, part walk, CTE decode) — the same
  stdlib-as-primitive stance as zlib/wave elsewhere;
- deterministic generation: explicit MIME boundaries, fixed dates,
  explicit Message-IDs — byte-stable shards.

Scale: shard packing is one keyed shuffle (``pack_shards``, one Arrow
group per shard); parsing is a narrow ``map_rows`` over opaque shard
blobs, zero further shuffle — same shape as the WARC and TAR sources.
"""

from __future__ import annotations

import hashlib
import re
from email import message_from_bytes

from pyspark.sql import DataFrame

from neuroimaging_data_pipeline_spark.functions.rowmap import map_rows, pack_shards

_FROM_SEP = re.compile(rb"^From ", re.M)
_QUOTED = re.compile(rb"^(>+)From ", re.M)
_TO_QUOTE = re.compile(rb"^(>*)From ", re.M)
_DATE = "Thu, 01 Jan 2026 00:00:00 +0000"


def _encode_body(text: str, cte: str) -> bytes:
    raw = (text + "\n").encode()
    if cte == "base64":
        import base64

        return base64.encodebytes(raw).replace(b"\n", b"\r\n")
    import quopri

    return quopri.encodestring(raw).replace(b"\n", b"\r\n")


def build_message(doc_id: int, text: str) -> bytes:
    """One deterministic multipart/alternative message: text/plain +
    text/html, base64 CTE for odd ids and quoted-printable for even
    ids. Built as raw RFC 5322 bytes (the EmailMessage generator
    costs ~2.6 ms/message — 50x this builder — and a corpus shard
    writer runs per document); the PARSER stays the stdlib email
    package, so the bytes are still validated by an independent
    implementation."""
    cte = "base64" if doc_id % 2 else "quoted-printable"
    boundary = f"==ndp-{doc_id}=="
    out = bytearray()
    out += (
        f"From: author{doc_id}@corpus.example\r\n"
        f"To: list@corpus.example\r\n"
        f"Subject: doc {doc_id}\r\n"
        f"Date: {_DATE}\r\n"
        f"Message-ID: <doc-{doc_id}@corpus.example>\r\n"
        f"MIME-Version: 1.0\r\n"
        f'Content-Type: multipart/alternative; boundary="{boundary}"\r\n'
        f"\r\n"
    ).encode()
    for subtype, body in (("plain", text), ("html", f"<p>{text}</p>")):
        out += (
            f"--{boundary}\r\n"
            f'Content-Type: text/{subtype}; charset="utf-8"\r\n'
            f"Content-Transfer-Encoding: {cte}\r\n"
            f"\r\n"
        ).encode()
        out += _encode_body(body, cte)
    out += f"--{boundary}--\r\n".encode()
    return bytes(out)


def write_mbox(messages: list[bytes]) -> bytes:
    """mboxrd container: ``From `` separator line per message, body
    lines matching ^>*From  quoted with one more ``>``."""
    out = bytearray()
    for raw in messages:
        quoted = _TO_QUOTE.sub(rb">\1From ", raw)
        out += b"From MAILER-DAEMON Thu Jan  1 00:00:00 2026\n"
        out += quoted
        if not quoted.endswith(b"\n"):
            out += b"\n"
        out += b"\n"
    return bytes(out)


def parse_mbox(buf: bytes) -> list[bytes]:
    """Split an mboxrd file into raw messages, reversing the
    ``>From `` quoting."""
    buf = bytes(buf)
    if not buf.startswith(b"From "):
        raise ValueError("mbox must start with a 'From ' separator line")
    messages = []
    # split on separator lines (only unquoted ^From  lines qualify)
    starts = [m.start() for m in _FROM_SEP.finditer(buf)]
    for i, s in enumerate(starts):
        end = starts[i + 1] if i + 1 < len(starts) else len(buf)
        body_at = buf.find(b"\n", s)  # drop the separator line itself
        raw = buf[body_at + 1 : end]
        raw = _QUOTED.sub(lambda m: m.group(0)[1:], raw)
        messages.append(raw.rstrip(b"\n") + b"\n")
    return messages


class _NeedStdlib(Exception):
    """Message shape outside the fast walker's subset."""


def _split_head(block: bytes) -> tuple[bytes, bytes]:
    """(header bytes, body bytes) at the first blank line."""
    for sep in (b"\r\n\r\n", b"\n\n"):
        at = block.find(sep)
        if at >= 0:
            return block[:at], block[at + len(sep) :]
    return block, b""


def _parse_headers(head: bytes) -> list[tuple[str, str]]:
    out: list[tuple[str, str]] = []
    for ln in head.split(b"\n"):
        ln = ln.rstrip(b"\r")
        if not ln:
            continue
        if ln[:1] in (b" ", b"\t"):
            # folded header: stdlib keeps the fold bytes in the value
            raise _NeedStdlib("folded header")
        name, _, val = ln.partition(b":")
        out.append(
            (
                name.decode("ascii", "surrogateescape").strip().lower(),
                val.strip().decode("ascii", "surrogateescape"),
            )
        )
    return out


def _hget(headers: list[tuple[str, str]], name: str, default=None):
    name = name.lower()
    for k, v in headers:
        if k == name:
            return v
    return default


def _content_type(headers) -> str:
    ct = _hget(headers, "content-type")
    if ct is None:
        return "text/plain"
    return ct.split(";", 1)[0].strip().lower()


_BOUNDARY = re.compile(
    r'boundary\s*=\s*(?:"([^"]*)"|([^\s;]+))', re.I
)


def _split_multipart(body: bytes, boundary: bytes) -> list[bytes]:
    """RFC 2046 part split: children live between delimiter lines
    ``--boundary``; the close delimiter carries a trailing ``--``."""
    pat = re.compile(
        rb"(?m)^--" + re.escape(boundary) + rb"(--)?[ \t]*\r?$"
    )
    parts, start, closed = [], None, False
    for m in pat.finditer(body):
        if start is not None:
            chunk = body[start : m.start()]
            # the line break before the delimiter belongs to it
            if chunk.endswith(b"\r\n"):
                chunk = chunk[:-2]
            elif chunk.endswith(b"\n"):
                chunk = chunk[:-1]
            parts.append(chunk)
        if m.group(1):
            closed = True
            break
        start = m.end()
        if body[start : start + 2] == b"\r\n":
            start += 2
        elif body[start : start + 1] == b"\n":
            start += 1
    if start is None or not closed:
        raise _NeedStdlib("unterminated or missing multipart delimiters")
    return parts


def _decode_cte(body: bytes, cte: str) -> bytes:
    if cte == "base64":
        import base64

        try:
            return base64.b64decode(body)
        except ValueError as exc:  # binascii.Error: bad padding or length
            raise _NeedStdlib("undecodable base64 body") from exc
    if cte == "quoted-printable":
        import quopri

        return quopri.decodestring(body)
    if cte in ("", "7bit", "8bit", "binary"):
        return body
    raise _NeedStdlib(f"unsupported CTE {cte!r}")


def _walk_fast(block: bytes, parts: list) -> None:
    head, body = _split_head(block)
    headers = _parse_headers(head)
    ctype = _content_type(headers)
    if ctype.startswith("multipart/"):
        ct = _hget(headers, "content-type", "")
        m = _BOUNDARY.search(ct)
        if not m:
            raise _NeedStdlib("multipart without boundary")
        boundary = (m.group(1) or m.group(2)).encode()
        for sub in _split_multipart(body, boundary):
            _walk_fast(sub, parts)
        return
    if ctype.startswith("message/"):
        raise _NeedStdlib("embedded message")
    cte = (_hget(headers, "content-transfer-encoding") or "7bit").lower()
    parts.append(
        {
            "content_type": ctype,
            "cte": cte,
            "body": _decode_cte(body, cte) or b"",
        }
    )


def extract_parts(raw: bytes) -> dict:
    """Parse one RFC 5322 message: headers + decoded MIME parts.

    r14: a bounded header/MIME walker replaces the stdlib ``email``
    feedparser on the hot path — the stdlib parser was ~60% of the
    shard-decode CPU (r13 profile) and re-runs a line-oriented state
    machine per message. The walker handles exactly the RFC subset a
    corpus archive carries (plain headers, nested multipart/* with
    explicit boundaries, base64 / quoted-printable / identity CTEs)
    and DELEGATES anything else — exotic CTEs, message/rfc822,
    missing close delimiters — to the stdlib parser, so behavior on
    the long tail is unchanged. Parity with the stdlib walk is pinned
    in tests/test_mbox.py."""
    try:
        head, _ = _split_head(raw)
        headers = _parse_headers(head)
        parts: list[dict] = []
        _walk_fast(raw, parts)
        return {
            "subject": _hget(headers, "subject", ""),
            "from": _hget(headers, "from", ""),
            "message_id": _hget(headers, "message-id", ""),
            "parts": parts,
        }
    except _NeedStdlib:
        pass
    msg = message_from_bytes(raw)
    parts = []
    for part in msg.walk():
        if part.get_content_maintype() == "multipart":
            continue
        parts.append(
            {
                "content_type": part.get_content_type(),
                "cte": (part.get("Content-Transfer-Encoding") or "7bit")
                .lower(),
                "body": part.get_payload(decode=True) or b"",
            }
        )
    return {
        "subject": msg.get("Subject", ""),
        "from": msg.get("From", ""),
        "message_id": msg.get("Message-ID", ""),
        "parts": parts,
    }


# --- Spark surface -------------------------------------------------------------

DOCS_PER_SHARD = 64


def synthesize_mbox_shards(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Pack documents into deterministic mboxrd shards (shard k holds
    ids with id // DOCS_PER_SHARD == k, ascending)."""

    def build(shard_id, docs):
        msgs = [build_message(i, "" if t is None else t) for i, t in docs]
        yield shard_id, write_mbox(msgs)

    return pack_shards(
        docs, build, "shard_id long, content binary", DOCS_PER_SHARD,
        cols=(id_col, text_col),
    )


def mbox_messages(
    shards: DataFrame,
    content_col: str = "content",
) -> DataFrame:
    """Parse mbox shards into one row per message: doc id from the
    Message-ID, part count, the transfer encoding used, and md5 of
    the decoded text/plain body."""
    out_schema = (
        "doc_id long, n_parts int, cte string, "
        "plain_len long, plain_md5 string"
    )

    def parse(content):
        for raw in parse_mbox(content):
            info = extract_parts(raw)
            m = re.match(r"<doc-(\d+)@", info["message_id"])
            if not m:
                raise ValueError(
                    f"unexpected Message-ID {info['message_id']!r}"
                )
            plain = [
                p for p in info["parts"]
                if p["content_type"] == "text/plain"
            ]
            if len(plain) != 1:
                raise ValueError("expected exactly one text/plain")
            body = plain[0]["body"].decode()
            # CTE canonicalizes the line ending; the corpus
            # text is single-line, so strip the trailing CRLF
            body = body.rstrip("\r\n")
            yield (
                int(m.group(1)),
                len(info["parts"]),
                plain[0]["cte"],
                len(body),
                hashlib.md5(body.encode()).hexdigest(),
            )

    return map_rows(shards, parse, out_schema, cols=(content_col,))
