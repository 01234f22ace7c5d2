"""Punycode / IDNA host canonicalization (RFC 3492), from scratch —
the URL-dedup gap internationalized domains open: ``münchen.example``
and ``xn--mnchen-3ya.example`` are the SAME host, and a dedup or
robots pass that misses that double-counts (or worse, lets a
homograph through). This canonicalizer sits next to text/urls.py in
the curation stack.

What is REAL here, both directions:

- the full RFC 3492 bootstring arithmetic: the insertion-ordering
  state machine (n, i, bias), generalized variable-length integers
  with the tmin/tmax clamp, and the bias adaptation function with
  damp-on-first-delta — encoder and decoder both;
- IDNA-shaped host handling: per-label ``xn--`` ACE prefixing of
  dot-separated hosts, pure-ASCII labels passed through untouched,
  case-insensitive ACE detection on decode;
- pinned against the stdlib ``punycode`` codec byte-for-byte on
  fuzzed unicode labels (both directions) AND on the RFC's own
  sample strings in pytest — an external conformance pin, same
  stance as the ZIP/SQLite stdlib interop.

Scale: pure per-row string work, embarrassingly parallel; the Spark
surface is a narrow ``map_rows``, zero shuffle.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame

from neuroimaging_data_pipeline_spark.functions.rowmap import map_rows

# RFC 3492 section 5 parameter values
_BASE, _TMIN, _TMAX = 36, 1, 26
_SKEW, _DAMP = 38, 700
_INITIAL_BIAS, _INITIAL_N = 72, 128


def _adapt(delta: int, numpoints: int, firsttime: bool) -> int:
    delta = delta // _DAMP if firsttime else delta // 2
    delta += delta // numpoints
    k = 0
    while delta > ((_BASE - _TMIN) * _TMAX) // 2:
        delta //= _BASE - _TMIN
        k += _BASE
    return k + (((_BASE - _TMIN + 1) * delta) // (delta + _SKEW))


def _digit_char(d: int) -> str:
    return chr(d + 22 + 75 * (d < 26))  # 0..25 -> a..z, 26..35 -> 0..9


def _char_digit(c: str) -> int:
    o = ord(c)
    if 0x30 <= o <= 0x39:  # 0-9 -> 26..35
        return o - 22
    if 0x41 <= o <= 0x5A:  # A-Z
        return o - 0x41
    if 0x61 <= o <= 0x7A:  # a-z
        return o - 0x61
    raise ValueError(f"invalid punycode digit {c!r}")


def punycode_encode(label: str) -> str:
    """RFC 3492 section 6.3."""
    basic = [c for c in label if ord(c) < 0x80]
    out = list(basic)
    h = b = len(basic)
    if b:
        out.append("-")
    n, delta, bias = _INITIAL_N, 0, _INITIAL_BIAS
    codepoints = [ord(c) for c in label]
    while h < len(codepoints):
        m = min(c for c in codepoints if c >= n)
        delta += (m - n) * (h + 1)  # overflow impossible at Python ints
        n = m
        for c in codepoints:
            if c < n:
                delta += 1
            elif c == n:
                q = delta
                k = _BASE
                while True:
                    t = max(_TMIN, min(_TMAX, k - bias))
                    if q < t:
                        break
                    out.append(_digit_char(t + (q - t) % (_BASE - t)))
                    q = (q - t) // (_BASE - t)
                    k += _BASE
                out.append(_digit_char(q))
                bias = _adapt(delta, h + 1, h == b)
                delta = 0
                h += 1
        delta += 1
        n += 1
    return "".join(out)


def punycode_decode(text: str) -> str:
    """RFC 3492 section 6.2."""
    pos = text.rfind("-")
    if pos > 0:
        output = [ord(c) for c in text[:pos]]
        if any(c >= 0x80 for c in output):
            raise ValueError("non-basic code point in basic portion")
        rest = text[pos + 1 :]
    else:
        output = []
        rest = text[1:] if pos == 0 else text
    n, i, bias = _INITIAL_N, 0, _INITIAL_BIAS
    p = 0
    while p < len(rest):
        oldi = i
        w = 1
        k = _BASE
        while True:
            if p >= len(rest):
                raise ValueError("punycode string ended mid-integer")
            digit = _char_digit(rest[p])
            p += 1
            i += digit * w
            t = max(_TMIN, min(_TMAX, k - bias))
            if digit < t:
                break
            w *= _BASE - t
            k += _BASE
        bias = _adapt(i - oldi, len(output) + 1, oldi == 0)
        n += i // (len(output) + 1)
        if n > 0x10FFFF:
            raise ValueError("code point past U+10FFFF")
        i %= len(output) + 1
        output.insert(i, n)
        i += 1
    return "".join(chr(c) for c in output)


# --- IDNA-shaped host handling ---------------------------------------------------

_ACE = "xn--"


def host_to_ascii(host: str) -> str:
    """Per-label ACE encoding of a dot-separated host; ASCII labels
    pass through. Lowercases (DNS is case-insensitive)."""
    labels = []
    for lab in host.lower().split("."):
        if any(ord(c) >= 0x80 for c in lab):
            labels.append(_ACE + punycode_encode(lab))
        else:
            labels.append(lab)
    return ".".join(labels)


def host_to_unicode(host: str) -> str:
    """Inverse: decode every ACE label."""
    labels = []
    for lab in host.lower().split("."):
        if lab.startswith(_ACE):
            labels.append(punycode_decode(lab[len(_ACE):]))
        else:
            labels.append(lab)
    return ".".join(labels)


# --- Spark surface ---------------------------------------------------------------

# per-case label decorations (mirrors the charset-scrambling stance in
# text/encoding.py): 0 = pure ASCII, 1-3 = increasingly non-Latin
DECOR = {0: "", 1: "münchen", 2: "пример", 3: "例え"}


def synthesize_idn_hosts(
    docs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """One deterministic host per doc: ``w{id}[.decor].example`` with
    the decoration label picked by id % 4."""
    out_schema = f"{id_col} long, host string"

    def build(i):
        d = DECOR[i % 4]
        yield i, f"w{i}.{d}.example" if d else f"w{i}.example"

    return map_rows(docs, build, out_schema, cols=(id_col,))


def idn_canonicalize(
    hosts: DataFrame,
    id_col: str = "doc_id",
    host_col: str = "host",
) -> DataFrame:
    """ACE-encode, then decode back: emits the ASCII form's shape
    facts and the md5 of the ROUND-TRIPPED unicode host — equal to
    the original's md5 only if both directions are exact."""
    out_schema = (
        f"{id_col} long, needs_idn boolean, n_labels int,"
        " ascii_len long, host_md5 string"
    )

    def canon(i, h):
        ascii_form = host_to_ascii(h)
        back = host_to_unicode(ascii_form)
        yield (
            i,
            _ACE in ascii_form,
            len(ascii_form.split(".")),
            len(ascii_form),
            hashlib.md5(back.encode()).hexdigest(),
        )

    return map_rows(hosts, canon, out_schema, cols=(id_col, host_col))
