"""Charset detection and mojibake repair — the encoding-sanitation
stage a web corpus runs before any text analysis: crawled bytes
arrive as UTF-8, legacy Latin-1/CP1252, or double-encoded mojibake
(UTF-8 bytes misread as Latin-1 and re-saved as UTF-8 — the 'Ã©'
disease), and every downstream operator here (lang-ID, dedup,
quality) assumes clean decoded text.

What is REAL here:

- a from-scratch RFC 3629 UTF-8 validator (DFA over lead-byte
  classes) that rejects overlongs (0xC0/0xC1, 0xE0 0x80-0x9F,
  0xF0 0x80-0x8F), surrogates (0xED 0xA0-0xBF), and anything past
  U+10FFFF (0xF4 0x90+, 0xF5-0xFF) — fuzz-pinned byte-for-byte
  against the stdlib decoder in pytest;
- deterministic detection order: valid UTF-8 first; then the
  mojibake probe — a decoded string that round-trips through
  Latin-1 back into VALID multibyte UTF-8 was double-encoded, and
  the round-trip IS the repair; then CP1252 vs Latin-1 split on the
  0x80-0x9F block (defined punctuation in CP1252, control characters
  in Latin-1 — no real text uses them as controls);
- repair returns the canonical text, so md5s of repaired output are
  oracle-checkable against the original documents.

Scale: narrow Arrow ``map_rows`` over byte columns, zero shuffle.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame

from neuroimaging_data_pipeline_spark.functions.rowmap import map_rows


def utf8_valid(raw: bytes) -> bool:
    """RFC 3629 well-formedness, from scratch (Table 3-7 of the
    Unicode standard): lead byte selects the continuation count and
    the FIRST continuation's tightened range."""
    b = bytes(raw)
    i, n = 0, len(b)
    while i < n:
        c = b[i]
        if c < 0x80:
            i += 1
            continue
        if 0xC2 <= c <= 0xDF:
            need, lo, hi = 1, 0x80, 0xBF
        elif c == 0xE0:
            need, lo, hi = 2, 0xA0, 0xBF  # else overlong
        elif 0xE1 <= c <= 0xEC or c in (0xEE, 0xEF):
            need, lo, hi = 2, 0x80, 0xBF
        elif c == 0xED:
            need, lo, hi = 2, 0x80, 0x9F  # else surrogate
        elif c == 0xF0:
            need, lo, hi = 3, 0x90, 0xBF  # else overlong
        elif 0xF1 <= c <= 0xF3:
            need, lo, hi = 3, 0x80, 0xBF
        elif c == 0xF4:
            need, lo, hi = 3, 0x80, 0x8F  # else > U+10FFFF
        else:  # 0x80-0xC1 stray continuation / overlong, 0xF5-0xFF
            return False
        if i + need >= n:
            return False
        if not lo <= b[i + 1] <= hi:
            return False
        for k in range(2, need + 1):
            if not 0x80 <= b[i + k] <= 0xBF:
                return False
        i += need + 1
    return True


def detect_and_repair(raw: bytes) -> tuple[str, bool, str]:
    """-> (charset, was_mojibake, repaired text). Detection order:
    UTF-8 (with the double-encoding probe), then CP1252 when the
    0x80-0x9F block appears, else Latin-1."""
    raw = bytes(raw)
    if utf8_valid(raw):
        s = raw.decode("utf-8")
        if any(ord(ch) > 0x7F for ch in s):
            try:
                inner = s.encode("latin-1")
            except UnicodeEncodeError:
                inner = None
            if (
                inner is not None
                and any(b > 0x7F for b in inner)
                and utf8_valid(inner)
            ):
                return "utf-8", True, inner.decode("utf-8")
        return "utf-8", False, s
    if any(0x80 <= b <= 0x9F for b in raw):
        return "cp1252", False, raw.decode("cp1252")
    return "latin-1", False, raw.decode("latin-1")


# --- Spark surface ---------------------------------------------------------------

# per-case suffixes spliced onto the (ASCII) document text before
# encoding, so every charset path carries real non-ASCII content;
# each is representable in its case's charset
SUFFIXES = {
    0: " — naïve café №0",   # any unicode: stays UTF-8
    1: " café déjà ±1",      # Latin-1 only, no 0x80-9F
    2: " — smörgåsbord",          # double-encoded below
    3: " “quoted” – dash",        # CP1252 punctuation block
}


def encode_case(doc_id: int, text: str) -> bytes:
    """Deterministic charset scrambling by id: 0 clean UTF-8,
    1 Latin-1, 2 UTF-8→Latin-1→UTF-8 mojibake, 3 CP1252."""
    case = doc_id % 4
    s = ("" if text is None else str(text)) + SUFFIXES[case]
    if case == 0:
        return s.encode("utf-8")
    if case == 1:
        return s.encode("latin-1")
    if case == 2:
        return s.encode("utf-8").decode("latin-1").encode("utf-8")
    return s.encode("cp1252")


def synthesize_encoded_docs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    out_schema = f"{id_col} long, raw binary"

    def build(i, text):
        yield i, encode_case(i, text)

    return map_rows(docs, build, out_schema, cols=(id_col, text_col))


def encoding_repair(
    raw_docs: DataFrame,
    id_col: str = "doc_id",
    raw_col: str = "raw",
    emit_text: bool = False,
) -> DataFrame:
    """``emit_text=True`` additionally carries the repaired text
    itself (column ``repaired``) — what a release pipeline needs to
    hand downstream sanitation stages (e10's PII redaction); the
    stats-only default keeps the t_encoding_repair row narrow."""
    out_schema = (
        f"{id_col} long, charset string, mojibake boolean,"
        " n_nonascii long, repaired_md5 string"
    )
    if emit_text:
        out_schema += ", repaired string"

    def repair(i, raw):
        charset, moji, text = detect_and_repair(raw)
        row = (
            i,
            charset,
            moji,
            sum(1 for ch in text if ord(ch) > 0x7F),
            hashlib.md5(text.encode("utf-8")).hexdigest(),
        )
        yield row + (text,) if emit_text else row

    return map_rows(raw_docs, repair, out_schema, cols=(id_col, raw_col))
