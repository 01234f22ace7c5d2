"""PDF text extraction, stdlib-only (zlib) — the document format a
real training corpus mines papers and reports from, completing the
document-ingest story next to HTML (text/html.py) and WARC
(sources/warc.py).

What is REAL here (ISO 32000-1 subset, both directions):

- writer: a well-formed PDF 1.4 — catalog / page-tree / per-page
  FlateDecode content streams / Type1 font objects, a byte-accurate
  xref table (20-byte entries, free-entry head), trailer with /Root
  and /Size, startxref;
- parser: startxref discovery from the file tail, xref table walk to
  every object's byte offset, object header + dictionary scan,
  stream payload extraction via the /Length entry, zlib inflate of
  FlateDecode streams, and a content-stream tokenizer for the text
  shows: BT/ET blocks, Tj literal strings WITH the full escape set
  (\\( \\) \\\\ \\n \\r \\t \\b \\f, octal \\ddd, line
  continuations) and TJ arrays (kerning numbers skipped, string
  pieces concatenated in order);
- page accounting from the parsed page tree (/Type /Page objects),
  cross-checked against /Count in the Pages node.

Text round-trips exactly (writer escapes, parser unescapes), so the
m22 oracle checks md5 of the extracted text straight against the
documents table — any framing, xref, inflate or escape bug breaks
the hash match.

r11: PDF 1.5 — write_pdf15 emits object streams (/ObjStm) and a
cross-reference STREAM (/Type /XRef, /W [1 4 2] binary rows under
the PNG Up predictor), and the parser reverses it all (predictor
un-filtering incl. Sub/Average/Paeth, /Index subsections, /Prev
chains, type-2 resolution through the pair header).
Honest gates (raise, never silent): encrypted PDFs and non-Flate
filters raise
NotImplementedError; glyph-level layout (font widths, CMaps,
ToUnicode for composite fonts) is out of scope — the extractor reads
the text operators, the same scope as a WET-style text dump.

Scale: opaque binary + Arrow ``map_rows``, narrow, zero shuffle —
the same adapter split as every codec here (reference draws it at
NIfTI, ssm_loop.py:40).
"""

from __future__ import annotations

import re
import zlib

from pyspark.sql import DataFrame

from neuroimaging_data_pipeline_spark.functions.rowmap import map_rows

# --- writer -------------------------------------------------------------------


def _escape_pdf_string(s: str) -> str:
    out = []
    for ch in s:
        if ch in "()\\":
            out.append("\\" + ch)
        elif ch == "\n":
            out.append("\\n")
        elif ch == "\r":
            out.append("\\r")
        elif ch == "\t":
            out.append("\\t")
        else:
            out.append(ch)
    return "".join(out)


def write_pdf(pages: list[list[str]]) -> bytes:
    """A complete single-font PDF: one content stream per page, each
    page's text pieces emitted alternately as Tj shows and TJ
    kerning arrays (so both extractor paths run on every page)."""
    objs: list[bytes] = []  # 1-indexed object bodies (without n 0 obj)
    n_pages = len(pages)
    page_obj_ids = [4 + 2 * i for i in range(n_pages)]
    kids = " ".join(f"{i} 0 R" for i in page_obj_ids)
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")  # obj 1
    objs.append(
        f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode()
    )  # obj 2
    objs.append(
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    )  # obj 3
    for pieces in pages:
        shows = []
        for k, piece in enumerate(pieces):
            esc = _escape_pdf_string(piece)
            if k % 2 == 0:
                shows.append(f"({esc}) Tj")
            else:
                shows.append(f"[ ({esc}) -250 ] TJ")
        content = (
            "BT /F1 12 Tf 72 720 Td " + " ".join(shows) + " ET"
        ).encode()
        flate = zlib.compress(content)
        objs.append(
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            f"/Resources << /Font << /F1 3 0 R >> >> "
            f"/Contents {len(objs) + 2} 0 R >>".encode()
        )
        objs.append(
            f"<< /Length {len(flate)} /Filter /FlateDecode >>\n"
            f"stream\n".encode() + flate + b"\nendstream"
        )
    out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets = [0]  # object 0 is the free head
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objs) + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
        f"startxref\n{xref_at}\n%%EOF\n".encode()
    )
    return bytes(out)



def write_pdf15(pages: list[list[str]]) -> bytes:
    """PDF 1.5 twin of write_pdf: the same document expressed the
    way modern producers write it — non-stream objects (catalog,
    page tree, font, page dicts) packed into a compressed OBJECT
    STREAM (/Type /ObjStm), and the cross-reference table as a
    CROSS-REFERENCE STREAM (/Type /XRef, /W [1 4 2], FlateDecode
    with the PNG Up predictor /Predictor 12, trailer fields inline).
    Content streams stay top-level (streams cannot live inside an
    object stream, 7.5.7)."""
    n_pages = len(pages)
    page_ids = [4 + 2 * i for i in range(n_pages)]
    content_ids = [5 + 2 * i for i in range(n_pages)]
    objstm_id = 4 + 2 * n_pages
    xref_id = objstm_id + 1
    size = xref_id + 1

    kids = " ".join(f"{i} 0 R" for i in page_ids)
    instream: list[tuple[int, bytes]] = [
        (1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        (2, f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>"
            .encode()),
        (3, b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"),
    ]
    contents: list[bytes] = []
    for k, pieces in enumerate(pages):
        shows = []
        for j, piece in enumerate(pieces):
            esc = _escape_pdf_string(piece)
            shows.append(f"({esc}) Tj" if j % 2 == 0
                         else f"[ ({esc}) -250 ] TJ")
        content = ("BT /F1 12 Tf 72 720 Td " + " ".join(shows)
                   + " ET").encode()
        contents.append(zlib.compress(content))
        instream.append((
            page_ids[k],
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            f"/Resources << /Font << /F1 3 0 R >> >> "
            f"/Contents {content_ids[k]} 0 R >>".encode(),
        ))
    # object stream: "num off ..." header then bodies at /First
    offs, body = [], bytearray()
    for num, b in instream:
        offs.append((num, len(body)))
        body += b + b" "
    header = " ".join(f"{n} {o}" for n, o in offs).encode() + b" "
    stm_payload = zlib.compress(header + bytes(body))
    objstm = (
        f"<< /Type /ObjStm /N {len(instream)} /First {len(header)} "
        f"/Length {len(stm_payload)} /Filter /FlateDecode >>\n"
        f"stream\n".encode() + stm_payload + b"\nendstream"
    )

    out = bytearray(b"%PDF-1.5\n%\xe2\xe3\xcf\xd3\n")
    top_off: dict[int, int] = {}
    for cid, flate in zip(content_ids, contents):
        top_off[cid] = len(out)
        out += (
            f"{cid} 0 obj\n<< /Length {len(flate)} /Filter "
            f"/FlateDecode >>\nstream\n".encode()
            + flate + b"\nendstream\nendobj\n"
        )
    top_off[objstm_id] = len(out)
    out += f"{objstm_id} 0 obj\n".encode() + objstm + b"\nendobj\n"
    xref_at = len(out)
    top_off[xref_id] = xref_at

    # entry rows, W = [1 4 2]
    rows = bytearray()

    def row(t: int, f2: int, f3: int) -> bytes:
        return bytes([t]) + f2.to_bytes(4, "big") + f3.to_bytes(2, "big")

    stm_index = {num: i for i, (num, _) in enumerate(instream)}
    rows += row(0, 0, 0xFFFF)  # object 0: free head
    for num in range(1, size):
        if num in stm_index:
            rows += row(2, objstm_id, stm_index[num])
        else:
            rows += row(1, top_off[num], 0)
    # PNG Up predictor over 7-byte rows (what real producers emit)
    ncols = 7
    pred = bytearray()
    prev = bytes(ncols)
    for i in range(0, len(rows), ncols):
        cur = bytes(rows[i : i + ncols])
        pred.append(2)  # Up
        pred += bytes((c - p) & 0xFF for c, p in zip(cur, prev))
        prev = cur
    xref_payload = zlib.compress(bytes(pred))
    out += (
        f"{xref_id} 0 obj\n<< /Type /XRef /Size {size} /Root 1 0 R "
        f"/W [1 4 2] /Filter /FlateDecode "
        f"/DecodeParms << /Predictor 12 /Columns {ncols} >> "
        f"/Length {len(xref_payload)} >>\nstream\n".encode()
        + xref_payload + b"\nendstream\nendobj\n"
    )
    out += f"startxref\n{xref_at}\n%%EOF\n".encode()
    return bytes(out)


# --- parser -------------------------------------------------------------------

_OBJ_HEAD = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")


def _unpredict_png(data: bytes, ncols: int) -> bytes:
    """Reverse PNG row predictors over ncols-byte rows, bpp 1 —
    the /Predictor >= 10 form xref streams use (7.4.4.4)."""
    stride = ncols + 1
    if len(data) % stride:
        raise ValueError("predicted xref data not a whole row count")
    out = bytearray()
    prev = bytes(ncols)
    for i in range(0, len(data), stride):
        ft = data[i]
        line = data[i + 1 : i + stride]
        if ft == 0:
            cur = bytearray(line)
        elif ft == 2:  # Up
            cur = bytearray((c + p) & 0xFF for c, p in zip(line, prev))
        elif ft in (1, 3, 4):
            cur = bytearray(ncols)
            for j in range(ncols):
                a = cur[j - 1] if j else 0
                b = prev[j]
                c = prev[j - 1] if j else 0
                if ft == 1:
                    pr = a
                elif ft == 3:
                    pr = (a + b) >> 1
                else:
                    q = a + b - c
                    qa, qb, qc = abs(q - a), abs(q - b), abs(q - c)
                    pr = a if qa <= qb and qa <= qc else (
                        b if qb <= qc else c)
                cur[j] = (line[j] + pr) & 0xFF
        else:
            raise ValueError(f"bad predictor row tag {ft}")
        out += cur
        prev = bytes(cur)
    return bytes(out)


def _parse_xref_stream(
    buf: bytes, pos: int, _seen: frozenset = frozenset()
) -> dict[int, tuple]:
    """Parse a PDF 1.5 cross-reference STREAM (7.5.8): /W-typed
    binary rows, FlateDecode + optional PNG /Predictor, /Index
    subsections, /Prev chain. Returns {obj: ('top', offset) |
    ('stm', objstm_num, idx)} — later (newer) tables win; a type-0
    (free) row in a newer table DELETES the /Prev-chain entry it
    shadows (7.5.8.3), so incrementally-freed objects don't
    resurface. /Prev offsets are cycle-guarded via ``_seen``."""
    if pos in _seen:
        raise ValueError("xref stream /Prev cycle")
    _seen = _seen | {pos}
    m = _OBJ_HEAD.match(buf, pos)
    if not m:
        raise ValueError("startxref points at no object")
    end = buf.find(b"endobj", m.end())
    if end < 0:
        raise ValueError("xref stream without endobj")
    body = buf[m.end() : end]
    if not re.search(rb"/Type\s*/XRef\b", body):
        raise ValueError("startxref object is not /Type /XRef")
    wm = re.search(rb"/W\s*\[\s*(\d+)\s+(\d+)\s+(\d+)\s*\]", body)
    sm = re.search(rb"/Size\s+(\d+)", body)
    lm = re.search(rb"/Length\s+(\d+)", body)
    if not (wm and sm and lm):
        raise ValueError("xref stream missing /W, /Size or /Length")
    if not re.search(rb"/Filter\s*/FlateDecode\b", body):
        raise NotImplementedError("non-Flate xref stream")
    w = tuple(int(g) for g in wm.groups())
    size = int(sm.group(1))
    im = re.search(rb"/Index\s*\[([\d\s]+)\]", body)
    index = ([int(v) for v in im.group(1).split()] if im
             else [0, size])
    stm = re.search(rb"stream\r?\n", body)
    if not stm:
        raise ValueError("xref stream without stream data")
    try:
        raw = zlib.decompress(
            body[stm.end() : stm.end() + int(lm.group(1))]
        )
    except zlib.error as e:
        raise ValueError(f"corrupt xref stream deflate: {e}") from None
    # /DecodeParms keys appear in arbitrary order (7.3.7) — match
    # /Predictor and /Columns independently within the dict body.
    dp = re.search(rb"/DecodeParms\s*<<([^>]*)>>", body)
    if dp:
        parms = dp.group(1)
        prm = re.search(rb"/Predictor\s+(\d+)", parms)
        clm = re.search(rb"/Columns\s+(\d+)", parms)
        predictor = int(prm.group(1)) if prm else 1
        if predictor >= 10:
            # ISO 32000-1 Table 8 gives /Columns a default of 1, so a
            # conforming stream may omit it (ADVICE r12).
            raw = _unpredict_png(raw, int(clm.group(1)) if clm else 1)
        elif predictor != 1:
            raise NotImplementedError(f"/Predictor {predictor}")
    entries: dict[int, tuple] = {}
    pv = re.search(rb"/Prev\s+(\d+)", body)
    if pv:
        entries.update(
            _parse_xref_stream(buf, int(pv.group(1)), _seen)
        )
    rw = sum(w)
    p = 0
    for k in range(0, len(index), 2):
        first, count = index[k], index[k + 1]
        for n in range(first, first + count):
            if p + rw > len(raw):
                raise ValueError("xref stream rows truncated")
            fields = []
            for width in w:
                fields.append(
                    int.from_bytes(raw[p : p + width], "big")
                    if width else None
                )
                p += width
            t = fields[0] if w[0] else 1  # default type 1 (7.5.8.3)
            if t == 1:
                entries[n] = ("top", fields[1])
            elif t == 2:
                entries[n] = ("stm", fields[1], fields[2])
            elif t == 0:
                # free: a newer table's free row shadows (deletes)
                # any in-use entry inherited from the /Prev chain.
                entries.pop(n, None)
            # unknown types: no entry
    if not entries:
        raise ValueError("empty xref stream")
    return entries


def _parse_xref(buf: bytes) -> dict[int, tuple]:
    """Locate and parse the cross-reference data: a classic xref
    TABLE or (PDF 1.5) a cross-reference STREAM. Returns
    {obj: ('top', offset) | ('stm', objstm_num, idx)}."""
    tail = buf[-256:]
    # An incrementally-updated file has several startxref/%%EOF
    # blocks; the LAST one is authoritative (7.5.6), so take the
    # final match in the tail window, not the first.
    ms = list(re.finditer(rb"startxref\s+(\d+)\s*%%EOF", tail))
    if not ms:
        raise ValueError("PDF without startxref/%%EOF tail")
    pos = int(ms[-1].group(1))
    if buf[pos : pos + 4] != b"xref":
        if buf[pos : pos + 1].isdigit() or _OBJ_HEAD.match(buf, pos):
            return _parse_xref_stream(buf, pos)
        raise ValueError("startxref does not point at an xref table")
    offsets: dict[int, tuple] = {}
    p = pos + 4
    while True:
        m = re.match(rb"\s*(\d+)\s+(\d+)\s*\n", buf[p : p + 64])
        if not m:
            break
        first, count = int(m.group(1)), int(m.group(2))
        p += m.end()
        for k in range(count):
            entry = buf[p : p + 20]
            if len(entry) < 18:
                raise ValueError("truncated xref entry")
            off, kind = entry[0:10], entry[17:18]
            if kind == b"n":
                offsets[first + k] = ("top", int(off))
            p += 20
        if buf[p : p + 7] == b"trailer":
            break
    if not offsets:
        raise ValueError("empty xref table")
    return offsets


def _scan_fields(body: bytes) -> dict:
    """Shallow dictionary scan shared by top-level and in-object-
    stream objects: /Type, /Length, /Filter, /Count, /N, /First."""
    fields: dict[str, object] = {}
    tm = re.search(rb"/Type\s*/(\w+)", body)
    if tm:
        fields["type"] = tm.group(1).decode()
    lm = re.search(rb"/Length\s+(\d+)", body)
    if lm:
        fields["length"] = int(lm.group(1))
    fm = re.search(rb"/Filter\s*/(\w+)", body)
    if fm:
        fields["filter"] = fm.group(1).decode()
    cm = re.search(rb"/Count\s+(\d+)", body)
    if cm:
        fields["count"] = int(cm.group(1))
    for key, name in ((rb"/N\s+(\d+)", "n"),
                      (rb"/First\s+(\d+)", "first")):
        km = re.search(key, body)
        if km:
            fields[name] = int(km.group(1))
    return fields


def _load_objstm(buf: bytes, off: int) -> dict[int, bytes]:
    """Inflate an object stream (7.5.7) and slice its contained
    object bodies: {obj_num: body_bytes}."""
    fields, stream = _object_at(buf, off)
    if fields.get("type") != "ObjStm" or stream is None:
        raise ValueError("xref type-2 entry points at no /ObjStm")
    n, first = fields.get("n"), fields.get("first")
    if n is None or first is None:
        raise ValueError("/ObjStm missing /N or /First")
    head = stream[:first].split()
    if len(head) < 2 * n:
        raise ValueError("/ObjStm pair header truncated")
    pairs = [(int(head[2 * i]), int(head[2 * i + 1]))
             for i in range(n)]
    out: dict[int, bytes] = {}
    for i, (num, rel) in enumerate(pairs):
        end = pairs[i + 1][1] if i + 1 < n else len(stream) - first
        out[num] = stream[first + rel : first + end]
    return out


def _object_at(buf: bytes, off: int) -> tuple[dict, bytes | None]:
    """Parse the object at a byte offset into (dict-ish fields,
    stream payload or None). The dictionary scan is shallow: we pull
    /Type, /Length, /Filter, /Count — what the extractor needs."""
    m = _OBJ_HEAD.match(buf, off)
    if not m:
        raise ValueError(f"no object header at offset {off}")
    end = buf.find(b"endobj", m.end())
    if end < 0:
        raise ValueError("object without endobj")
    body = buf[m.end() : end]
    fields = _scan_fields(body)
    if re.search(rb"/Encrypt\b", body):
        raise NotImplementedError("encrypted PDFs unsupported")
    stream = None
    sm = re.search(rb"stream\r?\n", body)
    if sm:
        if "length" not in fields:
            raise ValueError("stream without /Length")
        start = sm.end()
        stream = body[start : start + int(fields["length"])]
        filt = fields.get("filter")
        if filt == "FlateDecode":
            try:
                stream = zlib.decompress(stream)
            except zlib.error as e:
                raise ValueError(
                    f"corrupt FlateDecode stream: {e}") from None
        elif filt is not None:
            raise NotImplementedError(f"filter /{filt} unsupported")
    return fields, stream


def _unescape_pdf_string(raw: bytes) -> str:
    out = bytearray()
    i = 0
    n = len(raw)
    while i < n:
        b = raw[i]
        if b != 0x5C:  # backslash
            out.append(b)
            i += 1
            continue
        i += 1
        if i >= n:
            break
        c = raw[i : i + 1]
        if c in b"nrtbf":
            out.append({"n": 10, "r": 13, "t": 9, "b": 8, "f": 12}[c.decode()])
            i += 1
        elif c == b"\n":  # line continuation
            i += 1
        elif c.isdigit():
            j = i
            while j < n and j - i < 3 and raw[j : j + 1].isdigit():
                j += 1
            out.append(int(raw[i:j], 8) & 0xFF)
            i = j
        else:
            out.append(raw[i])
            i += 1
    return out.decode("latin-1")


_TEXT_SHOW = re.compile(
    rb"\((?P<s>(?:[^()\\]|\\.)*)\)\s*Tj"
    rb"|\[(?P<arr>(?:[^\]\\]|\\.)*)\]\s*TJ",
    re.S,  # escaped newlines (line continuations) live inside strings
)
_ARR_STR = re.compile(rb"\((?:[^()\\]|\\.)*\)", re.S)


def extract_text(content: bytes) -> str:
    """Concatenate the text shown by Tj / TJ operators inside BT/ET
    blocks of one content stream."""
    pieces: list[str] = []
    for bt in re.finditer(rb"BT\b(.*?)\bET", content, re.S):
        for m in _TEXT_SHOW.finditer(bt.group(1)):
            if m.group("s") is not None:
                pieces.append(_unescape_pdf_string(m.group("s")))
            else:
                for sm in _ARR_STR.finditer(m.group("arr")):
                    pieces.append(_unescape_pdf_string(sm.group(0)[1:-1]))
    return "".join(pieces)


def parse_pdf(buf: bytes) -> dict:
    """Parse a PDF into {n_pages, n_objects, text} via the xref walk
    (every object visited at its recorded offset — a wrong offset
    anywhere fails loudly)."""
    buf = bytes(buf)
    if not buf.startswith(b"%PDF-"):
        raise ValueError("missing %PDF header")
    trailer_at = buf.rfind(b"trailer")
    if trailer_at >= 0 and re.search(rb"/Encrypt\b", buf[trailer_at:]):
        raise NotImplementedError("encrypted PDFs unsupported")
    entries = _parse_xref(buf)
    n_pages = 0
    declared = None
    texts: list[tuple[int, str]] = []
    objstm_cache: dict[int, dict[int, bytes]] = {}
    for num in sorted(entries):
        e = entries[num]
        if e[0] == "top":
            fields, stream = _object_at(buf, e[1])
        else:  # ('stm', objstm_num, idx): object inside an ObjStm
            snum = e[1]
            if snum not in objstm_cache:
                se = entries.get(snum)
                if se is None or se[0] != "top":
                    raise ValueError(
                        f"type-2 entry references missing /ObjStm "
                        f"{snum}"
                    )
                objstm_cache[snum] = _load_objstm(buf, se[1])
            body = objstm_cache[snum].get(num)
            if body is None:
                raise ValueError(
                    f"object {num} not found in /ObjStm {e[1]}"
                )
            fields, stream = _scan_fields(body), None
        if fields.get("type") == "Page":
            n_pages += 1
        if fields.get("type") == "Pages":
            declared = fields.get("count")
        if stream is not None and fields.get("type") not in (
            "ObjStm", "XRef"
        ):
            texts.append((num, extract_text(stream)))
    if declared is not None and declared != n_pages:
        raise ValueError(
            f"page tree declares {declared} pages, found {n_pages}"
        )
    return {
        "n_pages": n_pages,
        "n_objects": len(entries),
        "text": "".join(t for _, t in sorted(texts)),
    }


# --- Spark surface -------------------------------------------------------------


def synthesize_pdfs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    version: str = "1.4",
) -> DataFrame:
    """Deterministic PDF fixture: each document becomes a PDF with
    1 + id % 3 pages, its text split evenly across pages and within
    a page across alternating Tj / TJ shows — extraction must
    reassemble the exact original string. ``version='1.5'`` writes
    the modern form (object streams + a cross-reference stream with
    the PNG Up predictor) through write_pdf15."""
    out_schema = "media_id long, content binary"

    def build(i, text):
        text = "" if text is None else str(text)
        n_pages = 1 + i % 3
        per = -(-max(len(text), 1) // n_pages)
        pages = []
        for p in range(n_pages):
            chunk = text[p * per : (p + 1) * per]
            # split the page chunk into 1-3 show pieces
            k = 1 + (i + p) % 3
            step = -(-max(len(chunk), 1) // k)
            pages.append(
                [chunk[j * step : (j + 1) * step] for j in range(k)]
            )
        yield i, write_pdf15(pages) if version == "1.5" else write_pdf(pages)

    return map_rows(docs, build, out_schema, cols=(id_col, text_col))


def pdf_text_features(
    media: DataFrame,
    id_col: str = "media_id",
    content_col: str = "content",
) -> DataFrame:
    """Parse PDFs and emit (id, n_pages, n_objects, n_chars,
    text_md5) — md5 of the extracted text, oracle-checkable against
    the source table."""
    import hashlib

    out_schema = (
        f"{id_col} long, n_pages int, n_objects int, "
        "n_chars long, text_md5 string"
    )

    def feat(key, payload):
        info = parse_pdf(payload)
        text = info["text"]
        yield (
            key, info["n_pages"], info["n_objects"], len(text),
            hashlib.md5(text.encode("latin-1")).hexdigest(),
        )

    return map_rows(media, feat, out_schema, cols=(id_col, content_col))
