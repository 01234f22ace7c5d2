"""Perceptual-hash (pHash) image near-duplicate detection — the
image-modality sibling of ``dedup/simhash.py`` (VERDICT r7 #6).

pHash: grayscale 32x32 -> 2-D orthonormal DCT-II -> keep the top-left
8x8 low-frequency block -> bit b = (coefficient b > median of the 64)
-> 64-bit code. Small visual edits (brightness, compression noise,
high-frequency detail) barely move low-frequency DCT energy, so
near-duplicate images land within a small Hamming distance while
unrelated images differ on ~half the bits.

Scale posture (the whole point): candidate pairing reuses the SimHash
band trick — the 64-bit code splits into 4x16-bit chunks and docs
join on (chunk index, chunk value), so two codes within Hamming
distance 3 share at least one chunk by pigeonhole. Bucketed equi-join,
NOT all-pairs: at 100 TB the join is shuffle-bounded by bucket sizes
(flood guard inherited from ``simhash_candidate_pairs``), and the
pHash computation itself is a narrow Arrow ``map_rows`` over the
image bytes, one task per shard, zero shuffle.

Fixture design (oracle-exactness): each doc's image places unit
energy on a keyed 31-of-63 subset of the non-DC low-frequency modes
(plus a mid-gray DC), so exactly half of the 64 pHash inputs are
"large" and half "near zero" — the median sits in the gap and every
bit is STABLE under the planted perturbations (amplitude rescale +
high-frequency checkerboard + rounding), making the near-dup PAIR SET
a pure id formula DuckDB recomputes: (i, i+1) for i % 10 == 0.
Unrelated docs share at most ~30 of 31 modes with vanishing
probability, so false pairs at Hamming <= 3 are hypergeometrically
impossible in practice (verified empirically in pytest at both SFs).
"""

from __future__ import annotations


import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from neuroimaging_data_pipeline_spark.dedup.simhash import (
    simhash_candidate_pairs,
)
from neuroimaging_data_pipeline_spark.functions.rowmap import map_rows
from neuroimaging_data_pipeline_spark.multimodal.binaryops import (
    decode_png,
    encode_png,
)

_N = 32  # pHash canonical input side


def _dct_matrix(n: int = _N) -> np.ndarray:
    """Orthonormal DCT-II matrix: row k = sqrt(2/n)*cos(pi*(2x+1)*k/2n),
    row 0 scaled by 1/sqrt(2)."""
    k = np.arange(n)[:, None]
    x = np.arange(n)[None, :]
    m = np.cos(np.pi * (2 * x + 1) * k / (2 * n)) * np.sqrt(2.0 / n)
    m[0] /= np.sqrt(2.0)
    return m


_DCT32 = _dct_matrix()


def phash64(pixels: np.ndarray) -> int:
    """64-bit pHash of a 32x32 grayscale image, as a SIGNED 64-bit
    value (Spark long). Bit b (row-major over the 8x8 low-frequency
    DCT block, b = 8*u + v) is set when coefficient (u, v) exceeds
    the median of the 64 block coefficients."""
    if pixels.shape != (_N, _N):
        raise ValueError(f"phash64 expects {_N}x{_N} grayscale input")
    coeffs = _DCT32 @ pixels.astype(np.float64) @ _DCT32.T
    block = coeffs[:8, :8].ravel()
    med = float(np.median(block))
    h = 0
    for b in np.flatnonzero(block > med):
        h |= 1 << int(b)
    return h - (1 << 64) if h >= 1 << 63 else h


# --- fixture ---------------------------------------------------------------------------


_SLOTS = [(u, v) for u in range(8) for v in range(8)][1:]  # 63 non-DC


def _mix64(x: int) -> int:
    """splitmix64 finalizer — a NONLINEAR key is essential here: a
    linear (base*A + slot*B) % P rank produces only ~63 distinct
    orderings as the base varies (the slot ordering is a rotation cut
    of one fixed sequence), which collided unrelated docs onto
    identical mode subsets."""
    x &= (1 << 64) - 1
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & ((1 << 64) - 1)
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & ((1 << 64) - 1)
    return x ^ (x >> 31)


def _doc_modes(base_id: int) -> list[tuple[int, int]]:
    """Keyed 31-of-63 mode subset: rank every low-frequency slot by a
    doc-keyed mixed hash, keep the first 31 — exactly half the 64
    block inputs (with DC) end up 'large', pinning the median in the
    gap."""
    return sorted(
        _SLOTS,
        key=lambda s: _mix64(base_id * 64 + s[0] * 8 + s[1]),
    )[:31]


def _doc_image(doc_id: int) -> np.ndarray:
    """Deterministic 32x32 grayscale image. Docs with id % 10 == 1
    are NEAR-DUPLICATES of id-1: same mode subset, amplitude rescaled
    1.1x, plus a pure high-frequency checkerboard (invisible to the
    8x8 low-frequency block) — everything else is a unique subset.
    Amplitudes bound the image to [1, 255]: no clipping, so the DCT
    sees the exact planted spectrum plus only rounding noise."""
    near_dup = doc_id % 10 == 1
    base_id = doc_id - 1 if near_dup else doc_id
    amp = 4.4 if near_dup else 4.0
    x = np.arange(_N)
    img = np.full((_N, _N), 128.0)
    for u, v in _doc_modes(base_id):
        img += amp * np.outer(
            np.cos(np.pi * (2 * x + 1) * u / (2 * _N)),
            np.cos(np.pi * (2 * x + 1) * v / (2 * _N)),
        )
    if near_dup:
        img += 3.0 * ((-1.0) ** (x[:, None] + x[None, :]))
    return np.clip(np.rint(img), 0, 255).astype(np.uint8)


def synthesize_phash_images(
    docs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, content: binary) — real PNG bytes via the from-scratch
    encoder in multimodal/binaryops.py, so the near-dup pipeline
    starts from an actual image container, not raw arrays."""
    out_schema = f"{id_col} long, content binary"

    def build(i):
        # the PNG writer is 8-bit RGB: replicate gray into 3 planes
        yield i, encode_png(np.repeat(_doc_image(i)[:, :, None], 3, axis=2))

    return map_rows(docs, build, out_schema, cols=(id_col,))


def phash_codes(
    media: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "content",
) -> DataFrame:
    """(id, simhash: long) — PNG decode + pHash per image, one narrow
    Arrow pass. The column is named ``simhash`` so the banded
    candidate-pair machinery applies unchanged."""
    out_schema = f"{id_col} long, simhash long"

    def feat(i, content):
        yield i, phash64(decode_png(content)[:, :, 0])

    return map_rows(media, feat, out_schema, cols=(id_col, content_col))


def phash_near_dup_pairs(
    media: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_bucket_size: int | None = 200,
) -> DataFrame:
    """Banded candidate pairing + exact Hamming confirm over pHash
    codes: (id_a, id_b, is_near). 4x16-bit chunks guarantee recall
    for Hamming <= 3 by pigeonhole; the bucket flood guard bounds
    join fan-out at corpus scale."""
    codes = phash_codes(media, id_col=id_col)
    pairs = simhash_candidate_pairs(
        codes,
        id_col=id_col,
        max_hamming=max_hamming,
        max_bucket_size=max_bucket_size,
    )  # already Hamming-filtered and distinct per pair
    return pairs.select("id_a", "id_b", F.lit(True).alias("is_near"))
