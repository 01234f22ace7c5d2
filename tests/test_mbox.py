"""mbox + MIME source (sources/mbox.py): mboxrd From-quoting, MIME
part walk, both transfer encodings, determinism, and framing guards."""

from __future__ import annotations

import pytest

from neuroimaging_data_pipeline_spark.sources.mbox import (
    build_message,
    extract_parts,
    parse_mbox,
    write_mbox,
)


def test_roundtrip_both_ctes_and_part_walk():
    texts = {3: "hello base64 world", 4: "qp text with = signs and dots.."}
    mbox = write_mbox([build_message(i, t) for i, t in texts.items()])
    back = parse_mbox(mbox)
    assert len(back) == 2
    for raw, (i, t) in zip(back, texts.items()):
        info = extract_parts(raw)
        assert info["message_id"] == f"<doc-{i}@corpus.example>"
        types = [p["content_type"] for p in info["parts"]]
        assert types == ["text/plain", "text/html"]
        plain = info["parts"][0]
        assert plain["cte"] == ("base64" if i % 2 else "quoted-printable")
        assert plain["body"].decode().rstrip("\r\n") == t
        html = info["parts"][1]["body"].decode().rstrip("\r\n")
        assert html == f"<p>{t}</p>"


def test_mboxrd_quoting_protects_from_lines():
    # the body contains both a bare and an already-quoted From line
    tricky = "line one\nFrom the start\n>From quoted\n>>From deeper"
    mbox = write_mbox([build_message(1, tricky), build_message(2, "x")])
    # naive split on '\nFrom ' would cut message 1 apart; ours must not
    back = parse_mbox(mbox)
    assert len(back) == 2
    body = extract_parts(back[0])["parts"][0]["body"].decode()
    assert body.replace("\r\n", "\n").rstrip("\n") == tricky


def test_deterministic_bytes():
    a = write_mbox([build_message(7, "same text")])
    assert a == write_mbox([build_message(7, "same text")])


def test_bad_container_raises():
    with pytest.raises(ValueError, match="From "):
        parse_mbox(b"not an mbox at all")


def _stdlib_extract(raw):
    from email import message_from_bytes

    msg = message_from_bytes(raw)
    parts = []
    for part in msg.walk():
        if part.get_content_maintype() == "multipart":
            continue
        parts.append(
            {
                "content_type": part.get_content_type(),
                "cte": (
                    part.get("Content-Transfer-Encoding") or "7bit"
                ).lower(),
                "body": part.get_payload(decode=True) or b"",
            }
        )
    return {
        "subject": msg.get("Subject", ""),
        "from": msg.get("From", ""),
        "message_id": msg.get("Message-ID", ""),
        "parts": parts,
    }


def test_fast_walker_matches_stdlib():
    """r14: the bounded MIME walker must agree with the stdlib email
    parser on the source's message family and on crafted edge shapes,
    and must DELEGATE unsupported shapes to the stdlib parser."""
    for i in range(0, 60, 7):
        raw = build_message(i, f"body From line\nFrom x {i}\nünicode ⇒")
        assert extract_parts(raw) == _stdlib_extract(raw)
    single = b"From: x@y\r\nSubject: hi\r\n\r\nplain body\r\n"
    assert extract_parts(single) == _stdlib_extract(single)
    nested = (
        b"From: x\r\nContent-Type: multipart/mixed; boundary=\"outer\"\r\n"
        b"\r\n--outer\r\n"
        b"Content-Type: multipart/alternative; boundary=\"inner\"\r\n\r\n"
        b"--inner\r\nContent-Type: text/plain\r\n\r\nA\r\n--inner--\r\n"
        b"\r\n--outer--\r\n"
    )
    assert extract_parts(nested) == _stdlib_extract(nested)
    exotic = b"From: x\r\nContent-Transfer-Encoding: x-uuencode\r\n\r\nb\r\n"
    assert extract_parts(exotic) == _stdlib_extract(exotic)
    folded_subject = b"From: x\r\nSubject: hello\r\n\tworld\r\n\r\nb\r\n"
    assert extract_parts(folded_subject) == _stdlib_extract(folded_subject)
    folded_part_type = (
        b"From: x\r\nContent-Type: multipart/mixed; boundary=\"b\"\r\n"
        b"\r\n--b\r\nContent-Type: text/plain;\r\n charset=utf-8\r\n"
        b"\r\nA\r\n--b--\r\n"
    )
    assert extract_parts(folded_part_type) == _stdlib_extract(
        folded_part_type
    )


def test_bad_base64_falls_back_to_stdlib():
    """A badly padded base64 part is delegated to the stdlib parser,
    which tolerates it, instead of failing the task."""
    import base64
    import binascii

    body = b"aGVsbG8gd29ybGQ"  # "hello world" missing its "=" padding
    with pytest.raises(binascii.Error):
        base64.b64decode(body)
    raw = (
        b"From: x@y\r\nSubject: pad\r\n"
        b"Content-Type: text/plain\r\n"
        b"Content-Transfer-Encoding: base64\r\n\r\n" + body + b"\r\n"
    )
    got = extract_parts(raw)
    assert got == _stdlib_extract(raw)
    assert got["parts"][0]["cte"] == "base64"
