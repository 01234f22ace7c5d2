"""Content-defined chunking (CDC) — shift-resistant sub-document
dedup boundaries.

Fixed-stride passage dedup (dedup/passage.py) breaks when one word is
inserted: every later window shifts. CDC places chunk boundaries
where the CONTENT says so — a hash of the w-char window ending at a
position decides the cut — so an edit only disturbs the chunks it
touches (the rsync/LBFS/casync principle; Muthitacharoen et al.,
"A Low-Bandwidth Network File System", SOSP 2001).

Determinism/parity: the boundary test is md5 of the exact w-char
window with a 16-bit prefix mod D — the same md5-parity discipline as
the MinHash family, so the DuckDB oracle recomputes identical cuts.

Execution (r5): the boundary scan is numpy-VECTORIZED MD5. Every
window is exactly CDC_W=16 chars, so for ASCII text (after
normalization, the overwhelming case for web corpora) each window is
a single 64-byte MD5 block with constant padding — and MD5's 64
rounds are plain 32-bit modular arithmetic, which numpy evaluates
for EVERY window position of a whole Arrow batch at once (uint32
wraparound = mod 2^32 for free). Bit-exact digests, so the DuckDB
oracle and all recorded fixtures are untouched; non-ASCII documents
fall back to the per-char hashlib loop (pinned equal in pytest).
This replaces r4's one-hashlib-call-per-character Python loop
(~150 ns/char of crypto + interpreter overhead per position).

Plan shape: chunking is pure map-side work (zero shuffle); the only
shuffle is the corpus-wide chunk-frequency aggregate on compact
(md5, count) pairs with map-side partials. Embarrassingly parallel —
the 100 TB cost is one streaming pass over the text bytes.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from neuroimaging_data_pipeline_spark.functions.rowmap import map_batches

#: window width (chars) and divisor: boundary where H(window) % D == 0
CDC_W = 16
CDC_D = 64  # expected chunk length ~ D chars


def _norm(text_col) -> F.Column:
    return F.regexp_replace(F.lower(F.trim(text_col)), r"\s+", " ")


# ------------------------------------------------------- vectorized md5
# Single-block MD5 (RFC 1321) evaluated with numpy across N messages of
# identical 16-byte length: block = msg(16) | 0x80 | zeros(39) | len=128
# bits as 64-bit LE. Message words M0..M3 vary per window; M4 = 0x80,
# M14 = 128, all other words 0. Constants below are the standard md5
# tables (K[i] = floor(abs(sin(i+1)) * 2^32), s = per-round rotations).

_MD5_S = (
    [7, 12, 17, 22] * 4 + [5, 9, 14, 20] * 4
    + [4, 11, 16, 23] * 4 + [6, 10, 15, 21] * 4
)


def _md5_tables():
    import math

    k = [int(abs(math.sin(i + 1)) * 2**32) & 0xFFFFFFFF for i in range(64)]
    return k


_MD5_K = _md5_tables()


def _md5_prefix16_all_windows(data: "np.ndarray", w: int) -> "np.ndarray":
    """For a uint8 array of length L, return a uint32 array of length
    L-w+1 whose entry p is the big-endian 16-bit prefix of
    md5(data[p:p+w]) — i.e. int.from_bytes(digest[:2], 'big') — for
    every window position at once. Requires w == 16 (one md5 block)."""
    import numpy as np

    assert w == 16
    L = int(data.shape[0])
    n = L - w + 1
    if n <= 0:
        return np.zeros(0, dtype=np.uint32)

    d32 = data.astype(np.uint32)
    # M0..M3: little-endian 32-bit words of the 16 window bytes
    m = [
        (
            d32[k : k + n]
            | (d32[k + 1 : k + 1 + n] << 8)
            | (d32[k + 2 : k + 2 + n] << 16)
            | (d32[k + 3 : k + 3 + n] << 24)
        )
        for k in (0, 4, 8, 12)
    ]
    m4 = np.uint32(0x80)      # padding byte right after the message
    m14 = np.uint32(128)      # message length in bits (16 bytes)
    zero = np.uint32(0)

    def msg(g: int):
        if g < 4:
            return m[g]
        if g == 4:
            return m4
        if g == 14:
            return m14
        return zero

    a = np.full(n, 0x67452301, dtype=np.uint32)
    b = np.full(n, 0xEFCDAB89, dtype=np.uint32)
    c = np.full(n, 0x98BADCFE, dtype=np.uint32)
    d = np.full(n, 0x10325476, dtype=np.uint32)
    a0, b0, c0, d0 = a.copy(), b.copy(), c.copy(), d.copy()

    for i in range(64):
        if i < 16:
            f = (b & c) | (~b & d)
            g = i
        elif i < 32:
            f = (d & b) | (~d & c)
            g = (5 * i + 1) % 16
        elif i < 48:
            f = b ^ c ^ d
            g = (3 * i + 5) % 16
        else:
            f = c ^ (b | ~d)
            g = (7 * i) % 16
        tmp = d
        d = c
        c = b
        x = a + f + np.uint32(_MD5_K[i]) + msg(g)
        s = _MD5_S[i]
        b = b + ((x << np.uint32(s)) | (x >> np.uint32(32 - s)))
        a = tmp

    a_fin = a + a0  # digest bytes 0..3 are little-endian a_fin
    # prefix16 = digest[0] << 8 | digest[1] = (a & 0xff) << 8 | (a>>8)&0xff
    return ((a_fin & np.uint32(0xFF)) << np.uint32(8)) | (
        (a_fin >> np.uint32(8)) & np.uint32(0xFF)
    )


def _cut_ends(s: str) -> list[int]:
    """Chunk END positions for one normalized document: after any
    position p where the 16-bit md5 prefix of s[p:p+W] ≡ 0 (mod D) a
    cut lands at p+W; the final chunk always ends at len(s).
    Reference form (per-window hashlib) — the vectorized batch kernel
    in :func:`_cut_ends_batch` is pinned equal to this in pytest, and
    non-ASCII documents fall back here."""
    L = len(s)
    cuts: list[int] = []
    if L >= CDC_W:
        for p in range(L - CDC_W + 1):
            h = hashlib.md5(s[p : p + CDC_W].encode("utf-8")).digest()
            if int.from_bytes(h[:2], "big") % CDC_D == 0:
                cuts.append(p + CDC_W)
    ends = sorted(set(cuts + [L])) if L else []
    return ends


def _cut_ends_batch(texts: list[str]) -> list[list[int]]:
    """Chunk END positions for MANY documents in one vectorized md5
    pass. All ASCII documents are concatenated into a single byte
    array, the 16-bit md5 prefix of every window position is computed
    at once (the per-document form would spend more time on numpy
    dispatch than on arithmetic for ~KB docs), and boundary positions
    are sliced back per document — windows that would straddle a
    document boundary fall outside that doc's valid range and are
    excluded by the slice. Non-ASCII docs take the hashlib path."""
    import numpy as np

    ends: list = [None] * len(texts)
    ascii_idx: list[int] = []
    ascii_raw: list[bytes] = []
    for i, s in enumerate(texts):
        if not s:
            ends[i] = []
            continue
        raw = s.encode("utf-8")
        if len(raw) == len(s):  # ASCII: char windows == byte windows
            ascii_idx.append(i)
            ascii_raw.append(raw)
        else:
            ends[i] = _cut_ends(s)
    if ascii_idx:
        concat = np.frombuffer(b"".join(ascii_raw), dtype=np.uint8)
        pref = _md5_prefix16_all_windows(concat, CDC_W)
        bpos = np.nonzero(pref % CDC_D == 0)[0]
        off = 0
        for i, raw in zip(ascii_idx, ascii_raw):
            L = len(raw)
            if L >= CDC_W:
                lo = np.searchsorted(bpos, off)
                hi = np.searchsorted(bpos, off + L - CDC_W, side="right")
                cuts = [int(p) - off + CDC_W for p in bpos[lo:hi]]
            else:
                cuts = []
            if cuts and cuts[-1] == L:
                ends[i] = cuts
            else:
                ends[i] = cuts + [L]
            off += L
    return ends


def cdc_chunks(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, chunk_idx, chunk_len, chunk_md5) — one row per
    content-defined chunk of the normalized text. A cut lands after
    position i+w-1 whenever the 16-bit md5 prefix of the w-char
    window starting at i is ≡ 0 (mod D); the final chunk always ends
    at the document end. Empty docs yield no chunks.

    The boundary scan runs in Arrow-batched ``map_batches`` with the
    module-level vectorized-md5 kernel (one numpy pass over all
    window positions of a document; see module docstring). Values are
    bit-identical to per-char hashlib md5 — pinned in pytest — so the
    SQL oracle is unchanged. Zero shuffle; embarrassingly parallel."""
    from typing import Iterator

    import pandas as pd

    out_schema = (
        f"{id_col} long, chunk_idx int, chunk_len long, chunk_md5 string"
    )

    def chunk_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            texts = list(pdf["s"])
            all_ends = _cut_ends_batch(texts)
            for did, s, ends in zip(pdf[id_col], texts, all_ends):
                prev = 0
                for ci, e in enumerate(ends):
                    c = s[prev:e]
                    rows.append(
                        (
                            did,
                            ci,
                            len(c),
                            hashlib.md5(c.encode("utf-8")).hexdigest(),
                        )
                    )
                    prev = e
            yield pd.DataFrame(
                rows,
                columns=[id_col, "chunk_idx", "chunk_len", "chunk_md5"],
            )

    return map_batches(
        docs,
        chunk_batches,
        out_schema,
        cols=(F.col(id_col), _norm(F.col(text_col)).alias("s")),
    )


def cdc_dedup_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per document: (id, n_chunks, avg_chunk_len, n_corpus_unique) —
    how many of its content-defined chunks occur exactly once in the
    whole corpus (the storable-savings signal CDC dedup acts on).

    Corpus frequency comes from a window count over chunk_md5, not a
    join against a self-derived aggregate: the self-join form makes
    the chunking ``map_batches`` subtree appear TWICE in the plan, and
    Spark recomputes it both times — doubling the (dominant) md5 scan
    cost. One chunking pass, one hash-partition shuffle on the
    compact chunk_md5 key, then the per-doc aggregate."""
    from pyspark.sql import Window

    ch = cdc_chunks(docs, id_col, text_col)
    w = Window.partitionBy("chunk_md5")
    return (
        ch.withColumn("n_occ", F.count(F.lit(1)).over(w))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            (F.round(F.avg("chunk_len"), 6) + F.lit(0.0)).alias(
                "avg_chunk_len"
            ),
            F.sum(F.when(F.col("n_occ") == 1, 1).otherwise(0)).alias(
                "n_corpus_unique"
            ),
        )
    )
