"""Similarity search over embedding columns (array<float>).

Two paths (SURVEY-mandated engine additions):
- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  Dot products via zip_with/aggregate (JVM-side, no Python). The
  query side is broadcast (queries << corpus), so the corpus scan is
  embarrassingly parallel, and per-partition top-k (window row_number
  is replaced by groupBy-min on rank via AQE) keeps the shuffle tiny.
- ``lsh_topk``: random-hyperplane LSH bucketing — the 100 TB path.
  Sign-bit sketches give each vector a bucket; candidates share a
  bucket; exact cosine re-ranks candidates only.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from neuroimaging_data_pipeline_spark.functions.rowmap import drop_zip_importers


def _dot(a, b) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a) -> F.Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k neighbors per query: (query_id, vec_id, cosine).

    Excludes self-matches (same id). Deterministic tie-break on
    (cosine desc, vec_id asc).
    """
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias(query_id_col),
            F.col(vec_col).alias("_qvec"),
        )
    )
    scored = corpus.join(q, F.col(id_col) != F.col(query_id_col)).select(
        query_id_col,
        id_col,
        F.try_divide(
            _dot(F.col(vec_col), F.col("_qvec")),
            _norm(F.col(vec_col)) * _norm(F.col("_qvec")),
        ).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine"), F.asc(id_col)
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rnd = random.Random(seed)
    return [
        [rnd.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)
    ]


def lsh_bucket(vec_col, planes: list[list[float]]) -> F.Column:
    """Sign-bit bucket id from dot products against fixed hyperplanes.

    When given a column NAME the whole bucket expression is assembled
    as ONE SQL string (float literals string-cast so repr round-trips
    bit-exactly): the Column-graph form creates dim x n_planes py4j
    objects, which made DataFrame CONSTRUCTION (driver-side, before
    any execution) take seconds per lsh_topk call. Same expression
    tree, same IEEE fold order, so bucket ids are unchanged."""
    if isinstance(vec_col, str):
        bits = []
        for i, p in enumerate(planes):
            arr = ", ".join(f"CAST('{float(v)!r}' AS DOUBLE)" for v in p)
            dot = (
                f"aggregate(zip_with({vec_col}, array({arr}), "
                "(x, y) -> CAST(x AS DOUBLE) * y), "
                "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
            )
            bits.append(
                f"shiftleft(CAST(CASE WHEN {dot} >= 0 THEN 1 ELSE 0 END"
                f" AS BIGINT), {i})"
            )
        return F.expr("(" + " | ".join(bits) + ")")
    bucket = None
    for i, p in enumerate(planes):
        arr = F.array(*[F.lit(float(v)) for v in p])
        bit = (
            F.when(_dot(vec_col, arr) >= 0, F.lit(1).cast("long"))
            .otherwise(F.lit(0).cast("long"))
        )
        term = F.shiftleft(bit, i)
        bucket = term if bucket is None else bucket.bitwiseOR(term)
    return bucket


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
    n_tables: int = 1,
    strategy: str = "explode_join",
) -> DataFrame:
    """Approximate top-k: candidates = same LSH bucket in ANY of
    ``n_tables`` independent hyperplane tables; exact cosine re-rank
    within candidates. Recall grows with fewer planes per table and
    with more tables (miss probability decays as
    (1 - p^n_planes)^n_tables); candidate volume grows ~linearly with
    tables.

    Two physical strategies, identical results:

    - ``"explode_join"`` (default, the LARGE-query-batch scale path):
      ONE corpus scan; bucket ids for all tables are computed in one
      map pass, the corpus explodes x n_tables into (table, bucket)
      keys carrying its embedding, and the bucket join is an equi-join
      against the broadcast query side; the OR-of-tables de-dup then
      shuffles candidate rows (bounded by queries x bucket occupancy,
      not corpus size) before the exact re-rank. Equi-join keys keep
      the probe cost O(corpus x tables) however many queries there
      are.
    - ``"or_broadcast"`` (the SMALL-query-batch fast path, r6): the
      corpus keeps its n_tables bucket ids as plain columns (no
      explode), the query side broadcasts one row per query with its
      bucket ids, and the join condition is the OR of per-table
      bucket equalities — a BroadcastNestedLoopJoin whose predicate
      runs corpus x queries cheap int compares. Each (query, corpus)
      pair emerges at most ONCE, so the de-dup exchange disappears;
      the only shuffle left is the top-k window. Correct choice when
      queries is small (interactive lookups, probe sets); for large
      query batches the corpus x queries predicate loses to the
      equi-join and explode_join is the right shape.
    """
    c = corpus
    q = queries.select(
        F.col(id_col).alias(query_id_col), F.col(vec_col).alias("_qvec")
    )
    plane_sets = [
        random_hyperplanes(dim, n_planes, seed + 1000 * t)
        for t in range(n_tables)
    ]
    if strategy == "or_broadcast":
        cb = c.select(
            id_col,
            vec_col,
            *[
                lsh_bucket(vec_col, planes).alias(f"_b{t}")
                for t, planes in enumerate(plane_sets)
            ],
        )
        qb = F.broadcast(
            q.select(
                query_id_col,
                "_qvec",
                *[
                    lsh_bucket("_qvec", planes).alias(f"_qb{t}")
                    for t, planes in enumerate(plane_sets)
                ],
            )
        )
        any_bucket = None
        for t in range(n_tables):
            eq = F.col(f"_b{t}") == F.col(f"_qb{t}")
            any_bucket = eq if any_bucket is None else (any_bucket | eq)
        cand = cb.join(
            qb, on=(F.col(id_col) != F.col(query_id_col)) & any_bucket
        )
    elif strategy == "explode_join":
        tables = [
            F.struct(
                F.lit(t).alias("table"),
                lsh_bucket(vec_col, planes).alias("bucket"),
            )
            for t, planes in enumerate(plane_sets)
        ]
        qtables = [
            F.struct(
                F.lit(t).alias("table"),
                lsh_bucket("_qvec", planes).alias("bucket"),
            )
            for t, planes in enumerate(plane_sets)
        ]
        cb = c.select(
            id_col, vec_col, F.explode(F.array(*tables)).alias("_tb")
        ).select(id_col, vec_col, "_tb.table", "_tb.bucket")
        qb = F.broadcast(
            q.select(
                query_id_col, "_qvec", F.explode(F.array(*qtables)).alias("_tb")
            ).select(query_id_col, "_qvec", "_tb.table", "_tb.bucket")
        )
        cand = (
            cb.join(qb, on=["table", "bucket"])
            .filter(F.col(id_col) != F.col(query_id_col))
            .dropDuplicates([query_id_col, id_col])
        )
    else:
        raise ValueError(f"unknown lsh_topk strategy: {strategy!r}")
    scored = cand.select(
        query_id_col,
        id_col,
        F.try_divide(
            _dot(F.col(vec_col), F.col("_qvec")),
            _norm(F.col(vec_col)) * _norm(F.col("_qvec")),
        ).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def assign_nearest(
    df: DataFrame, cents: DataFrame, vid: str, vvec: str, keep: int
) -> DataFrame:
    """Assign each row of ``df`` to its ``keep`` nearest centroids by
    cosine (tie-break: centroid id asc). ``cents`` is the broadcast
    (_cid, _cvec) table. keep=1 uses a max_by aggregate (partial-agg,
    no per-key sort — the hot path, one pass per Lloyd iteration);
    keep>1 uses a row_number window."""
    scored = df.join(cents).select(
        "*",
        F.try_divide(
            _dot(F.col(vvec), F.col("_cvec")),
            _norm(F.col(vvec)) * _norm(F.col("_cvec")),
        ).alias("_ccos"),
    )
    if keep == 1:
        # argmax as ONE max_by aggregate (partial-aggregable, no
        # per-key sort) instead of a row_number window. Tie-break
        # cosine desc then cid asc == max of (cosine, -cid).
        rest = [c for c in df.columns if c != vid]
        payload = F.struct(*[F.col(c) for c in rest], F.col("_cid"))
        order = F.struct(F.col("_ccos"), (-F.col("_cid")).alias("_nc"))
        best = scored.groupBy(vid).agg(F.max_by(payload, order).alias("_best"))
        return best.select(
            vid,
            *[F.col(f"_best.{c}").alias(c) for c in rest],
            F.col("_best._cid").alias("_cid"),
        )
    w = Window.partitionBy(vid).orderBy(F.desc("_ccos"), F.asc("_cid"))
    return (
        scored.withColumn("_crn", F.row_number().over(w))
        .filter(F.col("_crn") <= keep)
        .drop("_ccos", "_crn", "_cvec")
    )


def kmeans_centroids(
    corpus: DataFrame,
    n_cells: int = 8,
    lloyd_iters: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic k-means centroid table (broadcast (_cid, _cvec)).

    Seeding: the ``n_cells`` smallest-id corpus vectors. Each Lloyd
    pass assigns every vector to its nearest centroid by cosine
    (tie-break cid asc) and replaces centroids with the elementwise
    member mean ROUNDED to 6 decimals (absorbing float summation-order
    noise across engines); empty cells keep their previous centroid.
    Centroid state lives on the driver between passes — KB-scale at
    any corpus size, the standard Spark iterative-algorithm shape (cf.
    MLlib k-means); one Spark job per iteration so iteration i's scan
    never nests inside iteration i+1's plan."""
    seed_df = (
        corpus.orderBy(F.asc(id_col))
        .limit(n_cells)
        .select(
            F.col(id_col).alias("_cid"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias(
                "_cvec"
            ),
        )
    )
    if lloyd_iters == 0:
        return F.broadcast(seed_df)
    cent_map = {r["_cid"]: list(r["_cvec"]) for r in seed_df.collect()}
    cents = F.broadcast(
        corpus.sparkSession.createDataFrame(
            sorted(cent_map.items()), "_cid long, _cvec array<double>"
        )
    )
    for _ in range(lloyd_iters):
        members = assign_nearest(corpus, cents, id_col, vec_col, 1).select(
            "_cid", vec_col
        )
        comp = (
            members.select("_cid", F.posexplode(vec_col).alias("pos", "val"))
            .groupBy("_cid", "pos")
            .agg(
                (F.round(F.avg(F.col("val").cast("double")), 6) + F.lit(0.0)).alias("m")
            )
        )
        new_vecs: dict[int, dict[int, float]] = {}
        for r in comp.collect():
            new_vecs.setdefault(r["_cid"], {})[r["pos"]] = r["m"]
        for cid, comps in new_vecs.items():
            # empty cells are absent from new_vecs -> keep previous
            cent_map[cid] = [v for _, v in sorted(comps.items())]
        cents = F.broadcast(
            corpus.sparkSession.createDataFrame(
                sorted(cent_map.items()), "_cid long, _cvec array<double>"
            )
        )
    return cents


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_cells: int = 8,
    nprobe: int = 2,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    lloyd_iters: int = 0,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the cluster-scale path.

    Deterministic seeding: the ``n_cells`` corpus vectors with the
    smallest ids are the cell centroids. ``lloyd_iters`` k-means
    refinement passes then run over the seeds — each pass assigns every
    vector to its nearest centroid by cosine (tie-break: centroid id
    asc) and replaces each centroid with the elementwise mean of its
    members, ROUNDED to 6 decimals. The fixed iteration count, id
    tie-breaks, and per-component rounding (which absorbs float
    summation-order noise across engines) keep the whole operator
    deterministic and oracle-checkable; an empty cell keeps its
    previous centroid. A query probes its ``nprobe`` nearest cells and
    exact-cosine re-ranks only those candidates.

    Scale shape: centroids broadcast (tiny); assignment is a map-only
    pass over the corpus (one per Lloyd iteration — each costs one
    corpus scan + one (cell, component)-key aggregate, no pair joins);
    the probe join is an equi-join on cell id, so candidate work is
    ~``nprobe/n_cells`` of brute force and cells partition across
    executors.
    """
    cents = kmeans_centroids(
        corpus, n_cells=n_cells, lloyd_iters=lloyd_iters,
        id_col=id_col, vec_col=vec_col,
    )
    cells = assign_nearest(corpus, cents, id_col, vec_col, 1)
    probes = assign_nearest(
        queries.select(
            F.col(id_col).alias(query_id_col), F.col(vec_col).alias("_qvec")
        ),
        cents,
        query_id_col,
        "_qvec",
        nprobe,
    )
    # probes = queries x nprobe rows (queries << corpus by contract):
    # broadcast so the corpus-cells side never shuffles on cell id.
    probes = F.broadcast(probes)
    scored = cells.join(
        probes,
        on=[
            cells["_cid"] == probes["_cid"],
            F.col(id_col) != F.col(query_id_col),
        ],
    ).select(
        query_id_col,
        id_col,
        F.try_divide(
            _dot(F.col(vec_col), F.col("_qvec")),
            _norm(F.col(vec_col)) * _norm(F.col("_qvec")),
        ).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def knn_graph(
    emb: DataFrame,
    k: int = 3,
    n_blocks: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """EXACT k-nearest-neighbor graph over the whole corpus:
    (vec_id, nbr_id, cosine) with each vector's top-k neighbors —
    the input structure SemDeDup-style pruning and graph-based
    clustering consume.

    Scale shape (sharded brute force, the FAISS-flat layout): rows
    are hash-split into ``n_blocks`` shards on both the query and the
    corpus axis; each (query-shard, corpus-shard) cell is ONE dense
    GEMM in an independent applyInPandas task (Arrow + BLAS — no
    per-pair expression eval, no corpus-wide pair explosion in the
    shuffle). Each cell emits only its LOCAL top-k per query row
    (ordering on the same (rounded cosine desc, id asc) total key the
    global merge uses, so the merge is exact), and the final window
    ranks just ``n_blocks * k`` candidates per vector. Shuffle volume
    is therefore 2 * n_blocks replicas of the corpus in, and
    n_blocks * k small rows per vector out — the quadratic part stays
    inside BLAS. At 1000-executor scale n_blocks grows ~sqrt(tasks)
    so every GEMM cell stays memory-sized; brute-force exactness is
    the contract here (the approximate scale paths are lsh_topk /
    ivf_topk).

    Cosines are rounded to 6 BEFORE ranking in both this and the
    oracle so BLAS-vs-sequential summation ulp noise cannot flip a
    rank (same discipline as bucketed_neardup_pairs' threshold).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    blocks = F.array(*[F.lit(b) for b in range(n_blocks)])
    own = (F.col(id_col) % n_blocks).cast("int")
    qside = emb.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_vec"),
        own.alias("qb"),
        F.explode(blocks).alias("cb"),
        F.lit("q").alias("role"),
    )
    cside = emb.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_vec"),
        F.explode(blocks).alias("qb"),
        own.alias("cb"),
        F.lit("c").alias("role"),
    )
    u = qside.unionByName(cside)

    def cell_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        drop_zip_importers()
        qm = pdf[pdf["role"] == "q"]
        cm = pdf[pdf["role"] == "c"]
        if qm.empty or cm.empty:
            return pd.DataFrame(
                {"vec_id": [], "nbr_id": [], "cosine": []}
            ).astype({"vec_id": "int64", "nbr_id": "int64", "cosine": "float64"})
        Q = np.array(qm["_vec"].tolist(), dtype=np.float64)
        C = np.array(cm["_vec"].tolist(), dtype=np.float64)
        qid = qm["_id"].to_numpy()
        cid = cm["_id"].to_numpy()
        qn = np.sqrt((Q * Q).sum(axis=1))
        cn = np.sqrt((C * C).sum(axis=1))
        qn[qn == 0] = np.inf
        cn[cn == 0] = np.inf
        S = np.round((Q @ C.T) / np.outer(qn, cn), 6)
        # self-matches out of contention
        S[qid[:, None] == cid[None, :]] = -np.inf
        out_q, out_n, out_c = [], [], []
        kk = min(k, S.shape[1])
        for i in range(S.shape[0]):
            row = S[i]
            # total order: cosine desc, id asc
            order = np.lexsort((cid, -row))[:kk]
            keep = row[order] > -np.inf
            out_q.append(np.repeat(qid[i], keep.sum()))
            out_n.append(cid[order][keep])
            out_c.append(row[order][keep])
        return pd.DataFrame(
            {
                "vec_id": np.concatenate(out_q),
                "nbr_id": np.concatenate(out_n),
                "cosine": np.concatenate(out_c),
            }
        )

    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("nbr_id", LongType()),
            StructField("cosine", DoubleType()),
        ]
    )
    cand = u.groupBy("qb", "cb").applyInPandas(cell_topk, schema)
    w = Window.partitionBy("vec_id").orderBy(F.desc("cosine"), F.asc("nbr_id"))
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def bucketed_neardup_pairs(
    emb: DataFrame,
    bucket_col: str = "label",
    threshold: float = 0.2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    gemm_block_rows: int = 8192,
) -> DataFrame:
    """All near-duplicate pairs (cosine >= threshold) within each
    bucket, via one dense GEMM per bucket (applyInPandas + numpy).

    The blocking column (an LSH bucket / cluster id at scale) bounds
    the pair space; inside a bucket the pairwise cosine matrix is a
    single ``A_n @ A_n.T`` — Arrow-batched BLAS beats per-pair
    zip_with/aggregate expression eval by ~10x and keeps every bucket
    an independent task (1000 executors, 1000+ buckets: linear
    scale-out). Emits (id_a, id_b, bucket, cosine) with id_a < id_b,
    cosine rounded to 6 so results hash-match the relational oracle.

    HOT-BUCKET memory bound (r13, VERDICT r12 #7): a skewed cluster —
    one boilerplate family holding most of a corpus — would
    materialize an n x n similarity matrix in a single task
    (n=500k -> 2 TB). Buckets larger than ``gemm_block_rows`` switch
    to a row-blocked GEMM: per block, ``A_blk @ A.T`` is
    (block x n) — memory linear in n at a fixed block height, same
    BLAS throughput, bit-identical pairs (pinned in tests/test_skew.py).
    The n^2 COMPUTE is inherent to exact within-bucket dedup; the
    recall-capped families (minhash df-caps) are the declared answer
    when even that is too much.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    bucket_field = emb.schema[bucket_col]

    def pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        drop_zip_importers()
        A = np.array(pdf[vec_col].tolist(), dtype=np.float64)
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids)
        A, ids = A[order], ids[order]
        norms = np.sqrt((A * A).sum(axis=1))
        norms[norms == 0] = np.inf
        n = len(ids)
        out_a, out_b, out_c = [], [], []
        for lo in range(0, n, gemm_block_rows):
            hi = min(lo + gemm_block_rows, n)
            # rows [lo:hi) against ALL columns; keep strictly-upper
            # (j > i) entries so the blocked union is exactly
            # triu_indices(n, k=1)
            S = (A[lo:hi] @ A.T) / np.outer(norms[lo:hi], norms)
            ib, jb = np.nonzero(
                np.arange(n)[None, :] > (lo + np.arange(hi - lo))[:, None]
            )
            cos = np.round(S[ib, jb], 6)
            keep = cos >= threshold
            out_a.append(ids[lo + ib[keep]])
            out_b.append(ids[jb[keep]])
            out_c.append(cos[keep])
        id_a = np.concatenate(out_a) if out_a else np.array([], dtype=ids.dtype)
        id_b = np.concatenate(out_b) if out_b else np.array([], dtype=ids.dtype)
        cosv = np.concatenate(out_c) if out_c else np.array([], dtype=np.float64)
        return pd.DataFrame(
            {
                "id_a": id_a,
                "id_b": id_b,
                bucket_col: np.repeat(pdf[bucket_col].iloc[0], len(id_a)),
                "cosine": cosv,
            }
        )

    schema = StructType(
        [
            StructField("id_a", LongType()),
            StructField("id_b", LongType()),
            StructField(bucket_col, bucket_field.dataType),
            StructField("cosine", DoubleType()),
        ]
    )
    return emb.groupBy(bucket_col).applyInPandas(pairs, schema)
