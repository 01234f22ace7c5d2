"""Exact n-gram Jaccard pair scoring with a document-frequency cap.

The scale hazard in any shingle-equi-join dedup is the hot shingle: a
shingle occurring in n documents contributes n² rows to the pair join,
so one boilerplate n-gram ("terms of service") floods a single shuffle
partition at corpus scale. The standard fix from the minhash-dedup
literature is a document-frequency cap: shingles with df > cap carry
almost no pair information (they are shared by *everything*) and are
dropped before the join, bounding worst-case fan-out at cap per shingle
occurrence regardless of corpus size.

The hot set (df > cap) has at most n_shingle_rows / cap members by
construction, so removing it is a broadcast anti-join — a map-side
filter, no extra shuffle of the fact table. Sizes and intersections are
both computed over the SAME capped set, so the result is the exact
Jaccard over discriminative shingles — a well-defined, engine-agnostic
semantic (mirrored in the DuckDB oracle of ``d_ngram_jaccard``).

Reference parity: the reference pipeline has no dedup stage; this is
part of the training-data-pipeline surface (SURVEY.md LLM-ops §).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    df_cap: int = 64,
    threshold: float = 0.2,
    block_col: str | None = None,
) -> DataFrame:
    """(id_a, id_b, jaccard) for all pairs with capped-Jaccard >=
    ``threshold``; ``block_col`` restricts pairs to equal blocks (e.g.
    source), bounding the pair space the way LSH banding would.

    ``df_cap`` is required: it bounds every shingle's posting list, and
    so the pair rows one shingle can emit. ``None`` raises ValueError
    rather than collecting an O(n) list and O(n²) pairs in one row."""
    from neuroimaging_data_pipeline_spark.dedup.minhash import shingles

    if df_cap is None:
        raise ValueError("df_cap must be an int: uncapped lists are unbounded")
    keep = () if block_col is None else (block_col,)
    sh = (
        shingles(docs, id_col, text_col, k=k, keep_cols=keep)
        .select(id_col, *keep, F.xxhash64("shingle").alias("shingle"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > df_cap)
        .select("shingle")
    )
    sh = sh.join(F.broadcast(hot), "shingle", "left_anti").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))

    # r14 (guide §2.4 "remove shuffles outright"): the r13 shape
    # self-joined the shingle table on (shingle[, block]) — a
    # sort-merge join that shuffled AND sorted the occurrence-scale
    # table twice before the pair aggregate (three occurrence-scale
    # exchanges total). The df cap bounds every posting list at
    # df_cap ids, so the pair set of a shingle is enumerable in-place:
    # ONE groupBy collects each shingle's (block-restricted) sorted id
    # list and a higher-order transform emits the i<j pairs map-side —
    # one occurrence-scale exchange, no sorts, identical pair counts
    # (each shared shingle contributes exactly one (id_a, id_b) row
    # either way; ids are distinct per doc by shingles()'s contract).
    # The block key rides on the shingle rows from the one documents
    # scan, so the grouping needs no join back to the documents.
    grouped = sh.groupBy("shingle", *keep).agg(
        F.sort_array(F.collect_list(id_col)).alias("_ids")
    )
    pair_arr = F.flatten(
        F.transform(
            "_ids",
            lambda x, i: F.transform(
                F.slice(F.col("_ids"), i + 2, F.size("_ids")),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    inter = (
        grouped.select(F.explode(pair_arr).alias("_p"))
        .select("_p.id_a", "_p.id_b")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    za = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    zb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(za, "id_a")
        .join(zb, "id_b")
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
