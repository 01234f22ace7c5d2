"""MinHash + LSH near-duplicate detection (shingle -> minhash ->
band -> bucket-join), plus n-gram Jaccard verification.

Spark-first design for 100 TB:
- shingling + hashing are narrow (explode + builtin hash fns);
- the LSH bucket join is an equi-join on (band_id, band_hash) —
  candidates only, never all-pairs;
- Jaccard verification joins shingle sets only for candidate pairs.

Portable hashing (oracle parity), one md5 per shingle: each distinct
shingle is hashed ONCE to a 60-bit integer ``h`` (first 15 hex chars
of md5, parsed big-endian — Spark ``conv``, DuckDB
``('0x'||substr(md5(s),1,15))::BIGINT``). The permutation family is
the classic Broder affine family ``(a_i * (h % p) + b_i) % p`` over
the Mersenne prime p = 2^31-1 with fixed seeded coefficients — pure
64-bit integer arithmetic both engines evaluate identically, 16x less
hashing than an md5-per-permutation design (r3: the md5x16 variant
was the slowest query in the bench). The Jaccard verification join
also runs on ``h`` (an 8-byte long) instead of the shingle string.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Mersenne prime for the affine permutation family.
MINHASH_P = (1 << 31) - 1


def minhash_coeffs(
    num_hashes: int = 16, seed: int = 1234
) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs for the affine family — shared by
    the Spark plan and the generated oracle SQL, so both engines use
    byte-identical permutations."""
    rnd = random.Random(seed)
    return [
        (rnd.randrange(1, MINHASH_P), rnd.randrange(0, MINHASH_P))
        for _ in range(num_hashes)
    ]


def shingles(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    keep_cols: tuple = (),
) -> DataFrame:
    """k-word shingles, distinct per doc: (id, [keep_cols...],
    shingle). ``keep_cols`` ride along unchanged, so a caller that
    needs a per-doc column downstream (a block key) does not join the
    shingles back to the documents."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    toks = F.split(norm, " ")
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    sh = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k))
    )
    return (
        docs.select(
            F.col(id_col),
            *keep_cols,
            F.explode(F.array_distinct(sh)).alias("shingle"),
        )
        .filter(F.col("shingle") != "")
    )


def hash_shingles(sh: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, shingle string) -> (id, h long): ONE md5 per shingle, the
    first 15 hex chars parsed as a 60-bit big-endian integer. All
    downstream joins and permutations run on the 8-byte long."""
    h = F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10).cast("long")
    return sh.select(id_col, h.alias("shingle"))


def _is_hashed(sh: DataFrame) -> bool:
    return dict(sh.dtypes)["shingle"] == "bigint"


def minhash_signatures(
    sh: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 16,
) -> DataFrame:
    """(id, sig: array<long>) — sig[i] = min over shingles of
    (a_i * (h % p) + b_i) % p. Accepts either raw (string) or hashed
    (long) shingles. One groupBy; map-side partial min."""
    hashed = sh if _is_hashed(sh) else hash_shingles(sh, id_col)
    hm = F.col("shingle") % MINHASH_P
    aggs = [
        F.min((F.lit(a) * hm + F.lit(b)) % MINHASH_P).alias(f"h{i}")
        for i, (a, b) in enumerate(minhash_coeffs(num_hashes))
    ]
    wide = hashed.groupBy(id_col).agg(*aggs)
    return wide.select(
        id_col, F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig")
    )


def band_buckets(
    sigs: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    keep_cols: tuple = (),
) -> DataFrame:
    """Band the signatures into LSH buckets: (id, [keep_cols...],
    band, band_hash). band_hash = md5 of the '|'-joined band slice —
    a compact 32-char join key DuckDB reproduces exactly (vs
    F.hash/murmur, which has no SQL twin); per-doc not per-shingle,
    so cost is noise. ``keep_cols`` ride along unchanged (the
    streaming caller needs the event time without a self-join)."""
    rows_per_band = num_hashes // bands
    return sigs.select(
        id_col,
        *keep_cols,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat_ws(
                                "|",
                                *[
                                    F.element_at("sig", b * rows_per_band + r + 1)
                                    for r in range(rows_per_band)
                                ],
                            )
                        ).alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bh"),
    ).select(id_col, *keep_cols, "bh.band", "bh.band_hash")


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Band the signatures, bucket-join on (band, band_hash):
    (id_a, id_b) candidate pairs with id_a < id_b.

    ``max_bucket_size`` is the flood guard for corpus scale: a bucket
    holding n docs contributes n² candidate rows, so one degenerate
    bucket (boilerplate-dominated signatures) can flood a shuffle
    partition. Buckets above the cap are dropped via a broadcast
    anti-join (the flooded set has <= n_rows/cap members by
    construction, so the broadcast is always small). This trades
    bounded recall — a pair only hashed together in flooded buckets is
    missed — for a hard ceiling on join fan-out; run exact dedup first
    so identical-document floods never reach this operator."""
    banded = band_buckets(sigs, id_col, num_hashes, bands)
    # r14: `banded` feeds THREE consumers (the flood census, the `a`
    # side, the `b` side) and Catalyst does not share the subtree —
    # the committed r13 plan recomputed the whole signature pipeline
    # (a full groupBy shuffle of the shingle table with 16 min-aggs)
    # once per consumer. The banded frame is docs x bands rows (a few
    # dozen bytes each at any corpus size), so persist it and compute
    # the signatures exactly once.
    from pyspark import StorageLevel

    banded = banded.persist(StorageLevel.MEMORY_AND_DISK)
    if max_bucket_size is not None:
        flooded = (
            banded.groupBy("band", "band_hash")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > max_bucket_size)
            .select("band", "band_hash")
        )
        banded = banded.join(
            F.broadcast(flooded), ["band", "band_hash"], "left_anti"
        )
    a = banded.select(
        F.col(id_col).alias("id_a"), "band", "band_hash"
    )
    b = banded.select(
        F.col(id_col).alias("id_b"), "band", "band_hash"
    )
    return (
        a.join(b, on=["band", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def jaccard_verify(
    pairs: DataFrame,
    sh: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.7,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs:
    |A ∩ B| / |A ∪ B| via a shingle equi-join restricted to candidates.
    Accepts raw (string) or hashed (long) shingles — hashed longs make
    the equi-join key 8 bytes instead of a ~20-char string.

    r14 (guide §3.2 semi-join prefilter): every shingle row of a doc
    that is in NO candidate pair is dead weight here, yet the r13 plan
    broadcast the FULL shingle table twice (once per join side) and
    ran the size aggregate over the full table twice. Restrict the
    shingle table to candidate doc ids first, then every downstream
    join and the size aggregate run at candidate scale. Jaccard values
    are unchanged: the restriction drops whole DOCUMENTS that cannot
    appear in the output, never shingles of a surviving document.

    ``max_bucket_size`` is the flood guard ``pairs`` was built with.
    Only then is the candidate id set bounded (2x the capped candidate
    count) and broadcast; without a guard it can grow with the corpus,
    so the join strategy is left to AQE."""
    cand_ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .union(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    if max_bucket_size is not None:
        cand_ids = F.broadcast(cand_ids)
    shc = sh.join(cand_ids, id_col, "left_semi")
    sizes = shc.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    sa = shc.select(F.col(id_col).alias("id_a"), "shingle")
    sb = shc.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        pairs.join(sa, on="id_a")
        .join(sb, on=["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    za = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    zb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(za, on="id_a")
        .join(zb, on="id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_dedup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.7,
    persist_shingles: bool = True,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """End-to-end near-dup pairs: shingle -> hash -> minhash -> LSH ->
    verify.

    The HASHED shingle set (8-byte longs, one md5 per shingle) feeds
    BOTH the signature path and the Jaccard verification join; without
    persistence Spark recomputes the regex/explode/md5 pipeline once
    per consumer — at corpus scale that is the single largest cost in
    the DAG, so it is persisted (memory-and-disk, spills instead of
    OOM) by default.
    """
    sh = hash_shingles(shingles(docs, id_col, text_col, k), id_col)
    if persist_shingles:
        from pyspark import StorageLevel

        sh = sh.persist(StorageLevel.MEMORY_AND_DISK)
    sigs = minhash_signatures(sh, id_col, num_hashes)
    cand = lsh_candidate_pairs(sigs, id_col, num_hashes, bands, max_bucket_size)
    if persist_shingles:
        # r14: jaccard_verify references the candidate pairs three
        # times (both id projections for the semi-join prefilter plus
        # the intersection probe); the pair set is tiny by the flood
        # guard's construction, so persist it rather than re-running
        # the bucket join per reference.
        from pyspark import StorageLevel

        cand = cand.persist(StorageLevel.MEMORY_AND_DISK)
    return jaccard_verify(cand, sh, id_col, threshold, max_bucket_size)


def row_minhash_sigs(
    docs: DataFrame,
    text_col: str = "text",
    num_hashes: int = 16,
    k: int = 3,
) -> DataFrame:
    """MAP-ONLY MinHash signatures: sig computed per row with
    higher-order functions — the same shingle normalization, 60-bit
    md5 shingle hash and affine permutation family as
    shingles() + minhash_signatures(), but with zero shuffle (a
    document's signature is a pure function of its own text). This is
    the streaming-legal form (no aggregation upstream of a stateful
    operator) and the preferred 100 TB batch form when downstream
    only needs signatures/buckets, not the shingle table. Rows whose
    shingle set is empty are dropped (parity with the groupBy form,
    where they simply produce no signature row)."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    toks = F.split(norm, " ")
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    sh = F.filter(
        F.array_distinct(
            F.transform(
                idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k))
            )
        ),
        lambda x: x != "",
    )
    hs = F.transform(
        sh,
        lambda x: F.conv(F.substring(F.md5(x), 1, 15), 16, 10).cast("long")
        % F.lit(MINHASH_P),
    )
    # ONE fold over the hashed-shingle array: sig = aggregate(hs,
    # [P]*n, (acc, h) -> zip_with(acc, coeffs, least(...))). The
    # naive form — sixteen array_min(transform(hs, ...)) columns —
    # makes Catalyst re-inline the md5 array build per permutation
    # (the t_repetition trap; measured ~8x slower at sf0.1). Here
    # ``hs`` is referenced once, so even inlined it is evaluated
    # once. P is a safe +inf sentinel (every permuted value is % P)
    # and never survives because empty-shingle rows are filtered.
    coeff_arr = F.array(
        *[
            F.struct(
                F.lit(a).cast("long").alias("a"),
                F.lit(b).cast("long").alias("b"),
            )
            for a, b in minhash_coeffs(num_hashes)
        ]
    )
    sig = F.aggregate(
        F.col("_hs"),
        F.array(*[F.lit(MINHASH_P).cast("long")] * num_hashes),
        lambda acc, h: F.zip_with(
            acc,
            coeff_arr,
            lambda m, c: F.least(
                m, (c["a"] * h + c["b"]) % F.lit(MINHASH_P)
            ),
        ),
    )
    return (
        docs.withColumn("_hs", hs)
        .filter(F.size("_hs") > 0)
        .select("*", sig.alias("sig"))
        .drop("_hs")
    )
