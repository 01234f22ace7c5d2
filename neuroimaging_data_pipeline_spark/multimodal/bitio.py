"""MSB-first bit I/O and prefix codes for the H.264, FLAC, JPEG, TIFF,
MP3 and bzip2 codecs.

One writer, one reader and one prefix-code table shape serve every
format that packs its fields most-significant bit first:

- ``BitWriter``: fields pile up in an integer accumulator that is
  flushed to the byte buffer in one ``to_bytes`` per ~16 bytes (a
  per-call byte loop cost ~10% of CAVLC encode CPU; a 128-bit flush
  threshold measured fastest, since larger ones make every call
  shift a big accumulator). Exp-Golomb ``ue``/``se``, zero alignment
  and RBSP trailing bits for H.264; ``nbits``/``extend`` for the
  writers that cost and concatenate sub-streams (FLAC, MP3).
- ``BitReader``: batched reads over the spanned bytes, and windowed
  ``bit_length`` scans for Exp-Golomb prefixes and unary runs. Every
  read raises ``ValueError`` when the data runs out.
- ``prefix_table``/``BitReader.prefix``: a ``{(length, code):
  symbol}`` map plus a 256-entry first-level LUT over the next 8
  bits; codes of up to 8 bits decode with one window read and one
  list index, longer ones probe the map once per length.
- ``canonical_codes``/``canonical_table``: the canonical code
  construction (codes assigned in order of length, then list order)
  that JPEG DHT segments and bzip2 tables transmit, as an encode map
  or as a decode pair.

Format hooks stay with their formats: H.264 emulation prevention
(``h264._ep_insert``/``_ep_remove``) and JPEG byte stuffing and
restart markers (``jpeg._scan_bytes``/``_split_scan``) work on whole
byte strings around this module. The LSB-first readers (inflate, GIF
LZW), zstd's backward reader and the arithmetic coders (CABAC, JPEG
arithmetic) use other bit orders and are not served here.
"""

from __future__ import annotations


def _exhausted() -> ValueError:
    return ValueError("bitstream exhausted mid-element")


class BitWriter:
    """MSB-first bit writer. ``n`` counts ALL pending bits (not yet
    in ``out``), so ``n % 8`` is the distance from byte alignment."""

    __slots__ = ("out", "acc", "n")

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def u(self, v: int, bits: int) -> None:
        """Write the low ``bits`` bits of ``v``."""
        self.acc = (self.acc << bits) | (v & ((1 << bits) - 1))
        n = self.n + bits
        if n >= 128:
            rem = n & 7
            self.out += (self.acc >> rem).to_bytes((n - rem) >> 3, "big")
            self.acc &= (1 << rem) - 1
            n = rem
        self.n = n

    def ue(self, v: int) -> None:
        # Exp-Golomb codeword = (nbits-1) zeros then the nbits-bit
        # code — exactly `code` written in a 2*nbits-1 bit field.
        code = v + 1
        self.u(code, 2 * code.bit_length() - 1)

    def se(self, v: int) -> None:
        self.ue(2 * v - 1 if v > 0 else -2 * v)

    def _flush(self) -> None:
        if self.n >= 8:
            rem = self.n & 7
            self.out += (
                (self.acc >> rem).to_bytes((self.n - rem) >> 3, "big")
            )
            self.acc &= (1 << rem) - 1
            self.n = rem

    def align_zero(self) -> None:
        pad = (-self.n) % 8
        if pad:
            self.acc <<= pad
            self.n += pad
        self._flush()

    def trailing(self) -> None:
        """H.264 rbsp_trailing_bits: a stop bit, then zero alignment."""
        self.u(1, 1)
        self.align_zero()

    def nbits(self) -> int:
        return (len(self.out) << 3) + self.n

    def extend(self, other: BitWriter) -> None:
        """Append another writer's whole bitstream (no alignment
        assumed on either side)."""
        if other.out:
            self.u(int.from_bytes(other.out, "big"), len(other.out) << 3)
        if other.n:
            self.u(other.acc, other.n)

    def bytes_(self) -> bytes:
        """The stream so far, its last byte zero-padded; the writer
        keeps its bit count and can go on writing."""
        self._flush()
        if self.n:
            return bytes(self.out) + bytes(
                ((self.acc << (8 - self.n)) & 0xFF,)
            )
        return bytes(self.out)


class BitReader:
    """MSB-first bit reader over ``data`` from bit position ``pos``."""

    __slots__ = ("data", "pos")

    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.pos = pos  # bit position

    def u(self, bits: int) -> int:
        # Batched extraction: pull the spanned bytes in one slice and
        # shift — O(bytes spanned), not O(bits).
        pos = self.pos
        end = pos + bits
        if bits == 1:  # single-flag reads dominate; skip the slice
            try:
                byte = self.data[pos >> 3]
            except IndexError:
                raise _exhausted() from None
            self.pos = end
            return (byte >> (7 - (pos & 7))) & 1
        last = (end + 7) >> 3
        if last > len(self.data):
            raise _exhausted()
        self.pos = end
        chunk = int.from_bytes(self.data[pos >> 3 : last], "big")
        return (chunk >> ((last << 3) - end)) & ((1 << bits) - 1)

    def ue(self) -> int:
        # One 48-bit window + bit_length finds the zero prefix (capped
        # at 32, so six bytes always cover it when the stream has the
        # bits; a shorter window means the stream tail).
        data = self.data
        pos = self.pos
        n = len(data) << 3
        if pos >= n:
            raise _exhausted()
        byte_i = pos >> 3
        win = int.from_bytes(data[byte_i : byte_i + 6], "big")
        m = ((min(byte_i + 6, len(data)) - byte_i) << 3) - (pos & 7)
        val = win & ((1 << m) - 1)  # the next m real bits
        if val == 0:
            if m > 32:
                raise ValueError("bad Exp-Golomb code")
            raise _exhausted()
        zeros = m - val.bit_length()
        if zeros > 32:
            raise ValueError("bad Exp-Golomb code")
        self.pos = pos + zeros + 1
        return (1 << zeros) - 1 + (self.u(zeros) if zeros else 0)

    def se(self) -> int:
        k = self.ue()
        return (k + 1) // 2 if k % 2 else -(k // 2)

    def unary(self) -> int:
        """Count the zeros before the next 1 bit and consume both —
        64-bit windows scanned with bit_length, so a long run costs
        one step per 8 bytes."""
        data = self.data
        pos = self.pos
        size = len(data)
        q = 0
        while True:
            byte_i = pos >> 3
            if byte_i >= size:
                raise _exhausted()
            end = min(byte_i + 8, size)
            m = ((end - byte_i) << 3) - (pos & 7)
            val = int.from_bytes(data[byte_i:end], "big") & ((1 << m) - 1)
            if val:
                zeros = m - val.bit_length()
                self.pos = pos + zeros + 1
                return q + zeros
            q += m
            pos += m

    def align(self) -> None:
        self.pos = (self.pos + 7) & ~7

    def prefix(self, dtab: tuple[dict, list]):
        """Decode one prefix-code symbol with a ``prefix_table`` pair.
        Near the stream tail the window is zero-padded, which is safe:
        prefix-freedom means a padded hit is either the true in-bounds
        code or fails the length bound."""
        codes, lut = dtab
        data = self.data
        pos = self.pos
        n = len(data) << 3
        if pos >= n:
            raise _exhausted()
        byte_i = pos >> 3
        win = int.from_bytes(data[byte_i : byte_i + 2], "big")
        pad = byte_i + 2 - len(data)
        if pad > 0:
            win <<= pad << 3
        hit = lut[(win >> (8 - (pos & 7))) & 0xFF]
        if hit is not None:
            sym, ln = hit
            pos += ln
            if pos > n:
                raise _exhausted()
            self.pos = pos
            return sym
        # a LUT miss means no code of <= 8 bits matches: probe the
        # longer lengths against a 32-bit window
        win = int.from_bytes(data[byte_i : byte_i + 5], "big")
        pad = byte_i + 5 - len(data)
        if pad > 0:
            win <<= pad << 3
        win = (win >> (8 - (pos & 7))) & 0xFFFFFFFF
        for ln in range(9, 33):
            sym = codes.get((ln, win >> (32 - ln)))
            if sym is not None:
                if pos + ln > n:
                    raise _exhausted()
                self.pos = pos + ln
                return sym
        raise ValueError("invalid prefix code")


def prefix_table(codes: dict) -> tuple[dict, list]:
    """``{(length, code): symbol}`` -> the ``(map, lut8)`` pair that
    ``BitReader.prefix`` decodes with. ``lut8[p]`` is ``(symbol,
    length)`` for the code of <= 8 bits that prefixes the 8-bit value
    ``p``, else None. Codes are laid down longest first, so on an
    overlapping (not prefix-free) input the shortest code wins."""
    lut: list = [None] * 256
    for (ln, code), sym in sorted(codes.items(), key=lambda kv: -kv[0][0]):
        if ln <= 8:
            lo = code << (8 - ln)
            span = 1 << (8 - ln)
            lut[lo : lo + span] = [(sym, ln)] * span
    return codes, lut


def canonical_codes(bits: list[int], vals: list) -> dict:
    """Canonical prefix code: ``bits[i]`` symbols of length ``i + 1``,
    taken from ``vals`` in order, get consecutive codes, and each
    longer length continues from the shifted next code. Returns
    ``{symbol: (code, length)}``. Raises ValueError when the counts
    do not match ``vals`` or the code space is over-subscribed."""
    if sum(bits) != len(vals):
        raise ValueError(
            f"prefix code counts {sum(bits)} do not match "
            f"{len(vals)} symbols"
        )
    codes: dict = {}
    code = 0
    k = 0
    for length, count in enumerate(bits, 1):
        for sym in vals[k : k + count]:
            codes[sym] = (code, length)
            code += 1
        k += count
        if code > 1 << length:
            raise ValueError("over-subscribed prefix code")
        code <<= 1
    return codes


def canonical_table(bits: list[int], vals: list) -> tuple[dict, list]:
    """The ``prefix_table`` decode pair of ``canonical_codes(bits,
    vals)``."""
    codes = canonical_codes(bits, vals)
    return prefix_table({(ln, c): s for s, (c, ln) in codes.items()})
