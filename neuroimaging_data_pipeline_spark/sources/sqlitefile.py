"""SQLite database-file source, stdlib-only and from scratch (struct
over the documented file format, same stance as the ZIP central-
directory walk in sources/zipshard.py): SQLite is the container half
the world's dataset METADATA ships in (HuggingFace dataset infos,
annotation tools, scraper state, browser/telemetry exports), and the
single-file b-tree design is what makes it random-access — a reader
pages straight to a table's root and walks only that subtree, never
streaming the whole file.

What is REAL here, both directions:

- the 100-byte header (page size incl. the 1==65536 encoding,
  reserved-byte region, text-encoding and schema-format words) is
  parsed and every field the format makes load-bearing is honored;
- table b-trees: interior (0x05) pages with left-child pointers and
  the rightmost pointer, leaf (0x0d) pages with the cell-pointer
  array, walked in rowid order with a visited-page cycle guard;
- the record format: 9-byte big-endian varints, all serial types
  (NULL, 1/2/3/4/6/8-byte signed big-endian ints, float64, the
  schema-format-4 constants 0/1, text and blob with length encoded
  in the type word) — and the rowid-alias quirk: an INTEGER PRIMARY
  KEY column is stored as NULL in the record and carried by the
  b-tree rowid;
- payload OVERFLOW: the exact local-payload split (X = U-35,
  M = ((U-12)*32)/255 - 23, K = M + (P-M) % (U-4)) and the 4-byte
  linked overflow-page chain, verified against stdlib-written rows
  bigger than a page;
- sqlite_master on page 1 is the ONLY way table root pages are
  located (no scanning for plausible pages);
- a from-scratch single-table WRITER that emits leaf pages, one
  interior level when rows spill over a page, and a page-1 schema
  row — pinned in pytest by opening the raw bytes with the stdlib
  ``sqlite3`` and passing PRAGMA integrity_check.

Scale: shard packing is one keyed shuffle; parsing is a narrow
``map_rows`` over opaque shard blobs, zero further shuffle — the
same posture as every other binary source here.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

from pyspark.sql import DataFrame

from neuroimaging_data_pipeline_spark.functions.rowmap import map_rows, pack_shards

_MAGIC = b"SQLite format 3\x00"
# arbitrary-but-valid "written by" version stamp (3.45.0); readers
# only require it to be non-zero alongside version-valid-for
_VERSION_NUMBER = 3045000


# --- varints / records -----------------------------------------------------------


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    """SQLite varint: up to 8 bytes of 7 payload bits (MSB = continue),
    a 9th byte contributes all 8 bits. Returns (value, next_pos)."""
    v = 0
    for i in range(8):
        b = buf[pos + i]
        if b < 0x80:
            return (v << 7) | b, pos + i + 1
        v = (v << 7) | (b & 0x7F)
    return (v << 8) | buf[pos + 8], pos + 9


def _write_varint(v: int) -> bytes:
    if v < 0 or v >= 1 << 64:
        raise ValueError("varint out of range")
    if v >= 1 << 56:  # needs the 9-byte form
        out = bytearray([(v >> (8 + 7 * i)) & 0x7F | 0x80 for i in range(7, -1, -1)])
        out.append(v & 0xFF)
        return bytes(out)
    out = bytearray([v & 0x7F])
    v >>= 7
    while v:
        out.append(v & 0x7F | 0x80)
        v >>= 7
    return bytes(reversed(out))


_INT_SIZES = {1: 1, 2: 2, 3: 3, 4: 4, 5: 6, 6: 8}


def _decode_record(payload: bytes) -> list:
    """Decode one record (row) per the serial-type table."""
    hdr_len, pos = _read_varint(payload, 0)
    serials = []
    while pos < hdr_len:
        s, pos = _read_varint(payload, pos)
        serials.append(s)
    if pos != hdr_len:
        raise ValueError("record header length mismatch")
    vals = []
    for s in serials:
        if s == 0:
            vals.append(None)
        elif s in _INT_SIZES:
            n = _INT_SIZES[s]
            vals.append(int.from_bytes(payload[pos : pos + n], "big", signed=True))
            pos += n
        elif s == 7:
            vals.append(struct.unpack_from(">d", payload, pos)[0])
            pos += 8
        elif s == 8:
            vals.append(0)
        elif s == 9:
            vals.append(1)
        elif s >= 13 and s % 2 == 1:
            n = (s - 13) // 2
            vals.append(payload[pos : pos + n].decode())
            pos += n
        elif s >= 12:
            n = (s - 12) // 2
            vals.append(payload[pos : pos + n])
            pos += n
        else:
            raise NotImplementedError(f"serial type {s}")
    if pos != len(payload):
        raise ValueError("record payload length mismatch")
    return vals


def _encode_value(v) -> tuple[int, bytes]:
    """Minimal-size serial type for a Python value (schema format 1:
    the 0/1 constants 8/9 are never EMITTED, only read)."""
    if v is None:
        return 0, b""
    if isinstance(v, bool):
        v = int(v)
    if isinstance(v, int):
        for serial, n in _INT_SIZES.items():
            if -(1 << (8 * n - 1)) <= v < 1 << (8 * n - 1):
                return serial, v.to_bytes(n, "big", signed=True)
        raise ValueError("integer out of 64-bit range")
    if isinstance(v, float):
        return 7, struct.pack(">d", v)
    if isinstance(v, str):
        b = v.encode()
        return 13 + 2 * len(b), b
    if isinstance(v, (bytes, bytearray)):
        return 12 + 2 * len(v), bytes(v)
    raise TypeError(f"unsupported value {type(v)}")


def _encode_record(values: list) -> bytes:
    serials, bodies = [], []
    for v in values:
        s, b = _encode_value(v)
        serials.append(_write_varint(s))
        bodies.append(b)
    # header length includes its own varint; sizes here never need the
    # fixed-point iteration (header < 128 bytes would, ours may not be,
    # so iterate once to stabilize)
    ser = b"".join(serials)
    hdr_len = len(ser) + 1
    if len(_write_varint(hdr_len)) > 1:
        hdr_len = len(ser) + len(_write_varint(hdr_len + 1))
    return _write_varint(hdr_len) + ser + b"".join(bodies)


# --- reader ----------------------------------------------------------------------


class _Db:
    def __init__(self, buf: bytes):
        self.buf = bytes(buf)
        if self.buf[:16] != _MAGIC:
            raise ValueError("not an SQLite 3 database")
        (raw_ps,) = struct.unpack_from(">H", self.buf, 16)
        self.page_size = 65536 if raw_ps == 1 else raw_ps
        reserved = self.buf[20]
        self.usable = self.page_size - reserved
        (enc,) = struct.unpack_from(">I", self.buf, 56)
        if enc != 1:
            raise NotImplementedError(f"text encoding {enc} (UTF-8 only)")

    def page(self, n: int) -> bytes:
        if n < 1 or (n - 1) * self.page_size >= len(self.buf):
            raise ValueError(f"page {n} out of range")
        return self.buf[(n - 1) * self.page_size : n * self.page_size]

    def _cell_payload(self, page: bytes, pos: int) -> tuple[int, bytes]:
        """Leaf-table cell at pos -> (rowid, full payload incl. any
        overflow chain)."""
        p_len, pos = _read_varint(page, pos)
        rowid, pos = _read_varint(page, pos)
        u = self.usable
        x = u - 35
        if p_len <= x:
            return rowid, page[pos : pos + p_len]
        m = ((u - 12) * 32) // 255 - 23
        k = m + (p_len - m) % (u - 4)
        local = k if k <= x else m
        out = bytearray(page[pos : pos + local])
        (nxt,) = struct.unpack_from(">I", page, pos + local)
        seen = set()
        while nxt:
            if nxt in seen:
                raise ValueError("overflow chain cycle")
            seen.add(nxt)
            op = self.page(nxt)
            (nxt,) = struct.unpack_from(">I", op, 0)
            out += op[4 : 4 + min(u - 4, p_len - len(out))]
        if len(out) != p_len:
            raise ValueError("overflow chain short of declared payload")
        return rowid, bytes(out)

    def walk_table(self, root: int) -> Iterator[tuple[int, list]]:
        """Yield (rowid, values) in rowid order from a table b-tree."""
        stack, seen = [root], set()
        # iterative in-order walk: expand interiors lazily
        def emit(pageno: int) -> Iterator[tuple[int, list]]:
            if pageno in seen:
                raise ValueError("b-tree page cycle")
            seen.add(pageno)
            pg = self.page(pageno)
            off = 100 if pageno == 1 else 0
            ptype = pg[off]
            (ncells,) = struct.unpack_from(">H", pg, off + 3)
            if ptype == 0x0D:  # leaf table
                ptrs = struct.unpack_from(f">{ncells}H", pg, off + 8)
                for p in ptrs:
                    rowid, payload = self._cell_payload(pg, p)
                    yield rowid, _decode_record(payload)
            elif ptype == 0x05:  # interior table
                ptrs = struct.unpack_from(f">{ncells}H", pg, off + 12)
                for p in ptrs:
                    (child,) = struct.unpack_from(">I", pg, p)
                    yield from emit(child)
                (right,) = struct.unpack_from(">I", pg, off + 8)
                yield from emit(right)
            else:
                raise NotImplementedError(f"page type 0x{ptype:02x}")

        del stack
        yield from emit(root)


def read_sqlite_table(buf: bytes, table: str) -> list[tuple[int, list]]:
    """Locate ``table`` through sqlite_master on page 1 (the only
    legitimate path to a root page) and return its rows as
    (rowid, [values...]) in rowid order. An INTEGER PRIMARY KEY alias
    column arrives as None in the record — per the format — and the
    caller reads it from the rowid."""
    db = _Db(buf)
    root = None
    for _rowid, rec in db.walk_table(1):
        # sqlite_master: type, name, tbl_name, rootpage, sql
        if len(rec) >= 4 and rec[0] == "table" and rec[1] == table:
            root = rec[3]
    if root is None:
        raise KeyError(f"table {table!r} not in sqlite_master")
    return list(db.walk_table(root))


# --- writer ----------------------------------------------------------------------


def write_sqlite(
    table: str,
    columns: list[str],
    rows: list[tuple[int, list]],
    page_size: int = 4096,
) -> bytes:
    """Emit a complete single-table database: page 1 carries the
    sqlite_master schema row, data rows (rowid, values) pack into leaf
    pages in rowid order, and one interior level is added when they
    spill past a single leaf. Column 0 of ``columns`` is declared
    INTEGER PRIMARY KEY, so its record slot is written as NULL and the
    rowid carries the value (the alias quirk, faithfully). Payloads
    must fit locally — this writer never emits overflow chains (the
    reader handles them; synthesized shard rows are far under a page).
    """
    usable = page_size  # reserved byte = 0
    x_max = usable - 35
    rows = sorted(rows, key=lambda r: r[0])

    def leaf_cell(rowid: int, values: list) -> bytes:
        payload = _encode_record([None] + list(values))
        if len(payload) > x_max:
            raise ValueError("row payload would overflow (unsupported in writer)")
        return _write_varint(len(payload)) + _write_varint(rowid) + payload

    def pack_leaves(cells: list[tuple[int, bytes]]) -> list[tuple[bytes, int]]:
        """-> [(page bytes, max rowid)] with dense end-packed content."""
        pages, cur, cur_sz = [], [], 0
        for rowid, cell in cells:
            # 8-byte header + 2-byte pointer per cell
            if cur and 8 + 2 * (len(cur) + 1) + cur_sz + len(cell) > usable:
                pages.append(_emit_leaf(cur))
                cur, cur_sz = [], 0
            cur.append((rowid, cell))
            cur_sz += len(cell)
        if cur:
            pages.append(_emit_leaf(cur))
        return pages

    def _emit_leaf(cells: list[tuple[int, bytes]]) -> tuple[bytes, int]:
        pg = bytearray(page_size)
        end = usable
        ptrs = []
        for _rowid, cell in cells:
            end -= len(cell)
            pg[end : end + len(cell)] = cell
            ptrs.append(end)
        struct.pack_into(">BHHHB", pg, 0, 0x0D, 0, len(cells), end, 0)
        struct.pack_into(f">{len(ptrs)}H", pg, 8, *ptrs)
        return bytes(pg), cells[-1][0]

    data_cells = [(rid, leaf_cell(rid, vals)) for rid, vals in rows]
    leaves = pack_leaves(data_cells)

    # layout: page 1 = sqlite_master; pages 2..1+n = leaves; optional
    # interior root after them
    n_leaves = max(len(leaves), 1)
    if len(leaves) <= 1:
        data_root = 2
        n_pages = 2
        interior = None
    else:
        data_root = 2 + len(leaves)
        n_pages = data_root
        # interior cells: (child page, max rowid of child) for all but
        # the last leaf; rightmost pointer = last leaf
        cells = []
        for i, (_pg, maxrow) in enumerate(leaves[:-1]):
            cells.append(struct.pack(">I", 2 + i) + _write_varint(maxrow))
        body = b"".join(cells)
        if 12 + 2 * len(cells) + len(body) > usable:
            raise ValueError("too many leaves for one interior level")
        ip = bytearray(page_size)
        end = usable
        ptrs = []
        for c in cells:
            end -= len(c)
            ip[end : end + len(c)] = c
            ptrs.append(end)
        struct.pack_into(">BHHHBI", ip, 0, 0x05, 0, len(cells), end, 0, 1 + len(leaves))
        struct.pack_into(f">{len(ptrs)}H", ip, 12, *ptrs)
        interior = bytes(ip)

    # page 1: header + sqlite_master leaf holding ONE schema row
    col_sql = ", ".join(
        [f"{columns[0]} INTEGER PRIMARY KEY"] + [f"{c} TEXT" for c in columns[1:]]
    )
    sql = f"CREATE TABLE {table}({col_sql})"
    master_rec = _encode_record(["table", table, table, data_root, sql])
    if len(master_rec) > x_max:
        raise ValueError("schema row would overflow")
    master_cell = _write_varint(len(master_rec)) + _write_varint(1) + master_rec
    p1 = bytearray(page_size)
    end = usable - len(master_cell)
    p1[end:usable] = master_cell
    struct.pack_into(">BHHHB", p1, 100, 0x0D, 0, 1, end, 0)
    struct.pack_into(">H", p1, 108, end)
    # 100-byte header
    p1[0:16] = _MAGIC
    struct.pack_into(">H", p1, 16, page_size if page_size < 65536 else 1)
    p1[18] = p1[19] = 1          # file format write/read version: legacy
    p1[20] = 0                   # reserved bytes per page
    p1[21], p1[22], p1[23] = 64, 32, 32
    struct.pack_into(">I", p1, 24, 1)          # file change counter
    struct.pack_into(">I", p1, 28, n_pages)    # database size in pages
    struct.pack_into(">I", p1, 40, 1)          # schema cookie
    struct.pack_into(">I", p1, 44, 1)          # schema format 1
    struct.pack_into(">I", p1, 56, 1)          # text encoding UTF-8
    struct.pack_into(">I", p1, 92, 1)          # version-valid-for
    struct.pack_into(">I", p1, 96, _VERSION_NUMBER)

    out = bytearray(bytes(p1))
    if not leaves:  # empty table: a single empty leaf as root
        pg = bytearray(page_size)
        struct.pack_into(">BHHHB", pg, 0, 0x0D, 0, 0, usable, 0)
        out += pg
    else:
        for pg, _maxrow in leaves:
            out += pg
        if interior is not None:
            out += interior
    assert len(out) == n_pages * page_size, (len(out), n_pages, n_leaves)
    return bytes(out)


# --- Spark surface ---------------------------------------------------------------

DOCS_PER_SHARD = 64


def synthesize_sqlite_shards(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Pack documents into single-table SQLite shards of
    DOCS_PER_SHARD ids (table ``docs``, doc_id as the rowid-alias
    primary key) using the from-scratch writer. One keyed shuffle."""

    def build(shard_id, docs):
        rows = [(i, ["" if t is None else t]) for i, t in docs]
        yield shard_id, write_sqlite("docs", ["doc_id", "text"], rows)

    return pack_shards(
        docs, build, "shard_id long, content binary", DOCS_PER_SHARD,
        cols=(id_col, text_col),
    )


def sqlite_documents(
    shards: DataFrame,
    content_col: str = "content",
    table: str = "docs",
) -> DataFrame:
    """Decode SQLite shard blobs back to rows with the from-scratch
    b-tree walk; narrow map_rows, no shuffle."""
    out_schema = "doc_id long, n_chars long, text_md5 string, n_pages long"

    def parse(content):
        n_pages = len(content) // _Db(content).page_size
        for rowid, rec in read_sqlite_table(content, table):
            text = rec[1]
            md5 = hashlib.md5(text.encode()).hexdigest()
            yield rowid, len(text), md5, n_pages

    return map_rows(shards, parse, out_schema, cols=(content_col,))
