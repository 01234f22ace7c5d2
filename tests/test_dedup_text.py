"""Dedup / text-analysis / similarity operators: semantics pinned
against exact local recomputation (covers the rows-only driver checks)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from neuroimaging_data_pipeline_spark.dedup.exact import exact_dedup
from neuroimaging_data_pipeline_spark.dedup.minhash import (
    jaccard_verify,
    lsh_candidate_pairs,
    minhash_signatures,
    shingles,
)
from neuroimaging_data_pipeline_spark.dedup.simhash import (
    simhash,
    simhash_candidate_pairs,
)
from neuroimaging_data_pipeline_spark.similarity.cosine import (
    cosine_topk,
    lsh_topk,
)
from neuroimaging_data_pipeline_spark.text.analysis import (
    lang_id,
    quality_score,
    token_count,
)

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy cat"),   # near-dup of 0
    (2, "der hund ist nicht der beste freund und so"),
    (3, "completely unrelated text about spark engines"),
    (4, "the quick brown fox jumps over the lazy dog"),   # exact dup of 0
    (5, "el que de los la casa es bonita"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def _exact_jaccard(a: str, b: str, k: int = 3) -> float:
    def sh(t):
        toks = t.lower().split()
        if len(toks) <= k:
            return {" ".join(toks)}
        return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}

    A, B = sh(a), sh(b)
    return len(A & B) / len(A | B)


def test_exact_dedup_removes_exact_dup(spark, docs):
    kept = exact_dedup(docs)
    ids = sorted(r["doc_id"] for r in kept.select("doc_id").collect())
    assert 4 not in ids and 0 in ids
    assert len(ids) == 5


def test_shingles_match_python(spark, docs):
    got = (
        shingles(docs.filter("doc_id = 0"), k=3)
        .toPandas()["shingle"]
        .tolist()
    )
    toks = DOCS[0][1].split()
    expect = {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
    assert set(got) == expect


def test_minhash_lsh_finds_neardup_and_jaccard_exact(spark, docs):
    sh = shingles(docs, k=3)
    sigs = minhash_signatures(sh, num_hashes=16)
    cand = lsh_candidate_pairs(sigs, num_hashes=16, bands=8)
    verified = jaccard_verify(cand, sh, threshold=0.5).toPandas()
    pairs = {(r.id_a, r.id_b): r.jaccard for r in verified.itertuples()}
    assert (0, 4) in pairs and pairs[(0, 4)] == 1.0
    assert (0, 1) in pairs
    np.testing.assert_allclose(
        pairs[(0, 1)], _exact_jaccard(DOCS[0][1], DOCS[1][1]), atol=1e-12
    )
    assert not any(3 in p for p in pairs)


def test_simhash_neardups(spark, docs):
    fps = simhash(docs)
    pdf = fps.toPandas().set_index("doc_id")["simhash"]
    assert pdf[0] == pdf[4]  # identical text -> identical fingerprint
    pairs = simhash_candidate_pairs(fps, max_hamming=16).toPandas()
    got = {(r.id_a, r.id_b): r.hamming for r in pairs.itertuples()}
    assert got.get((0, 4)) == 0
    # near-dup pair has smaller hamming than unrelated pair
    h01 = bin(int(pdf[0]) ^ int(pdf[1])).count("1")
    h03 = bin(int(pdf[0]) ^ int(pdf[3])).count("1")
    assert h01 < h03


def test_winnow_shared_run_guarantee(spark):
    """The MOSS guarantee: two documents sharing a token run of
    >= w + k - 1 tokens share at least one winnowed fingerprint;
    unrelated docs (almost surely) share none. Also pins the density
    bound: |fps| <= n_grams, and selection is deterministic."""
    from neuroimaging_data_pipeline_spark.text.analysis import (
        winnow_fingerprints,
    )

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens = w+k-1
    rows = [
        (0, f"one two three {shared} four five six"),
        (1, f"seven eight nine ten {shared} eleven"),
        (2, "totally different words appear in this document body here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fps = winnow_fingerprints(docs, k=4, w=5).toPandas()
    sets = {
        i: set(fps[fps.doc_id == i]["fp"]) for i in (0, 1, 2)
    }
    assert sets[0] & sets[1]  # shared run -> shared fingerprint
    assert not (sets[0] & sets[2]) and not (sets[1] & sets[2])
    # determinism across partitioning
    fps2 = winnow_fingerprints(docs.repartition(5), k=4, w=5).toPandas()
    assert set(map(tuple, fps.values.tolist())) == set(
        map(tuple, fps2.values.tolist())
    )


def test_simhash_bucket_flood_guard(spark):
    """max_bucket_size drops flooded 16-bit chunk buckets, bounding the
    self-join fan-out (mirror of the minhash guard): 20 identical docs
    collapse to one chunk value per chunk -> C(20,2) pairs unguarded,
    bounded/zero when the cap excludes the flooded buckets."""
    texts = [(i, "identical boilerplate document body here") for i in range(20)]
    texts += [(100, "some genuinely unique text one"), (101, "another unique text two")]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    fps = simhash(docs)
    flood = simhash_candidate_pairs(fps, max_hamming=16).count()
    guarded = simhash_candidate_pairs(
        fps, max_hamming=16, max_bucket_size=10
    ).count()
    assert flood >= 190  # 20 identical docs -> C(20,2) pairs
    assert guarded < flood
    assert guarded < 20


def test_cosine_topk_matches_numpy(spark, rng):
    n, dim = 40, 8
    vecs = rng.normal(0, 1, (n, dim)).astype(np.float32)
    pdf = pd.DataFrame(
        {"vec_id": np.arange(n), "embedding": [v.tolist() for v in vecs]}
    )
    emb = spark.createDataFrame(pdf)
    out = cosine_topk(emb, emb.filter("vec_id < 3"), k=4).toPandas()
    vn = vecs / np.linalg.norm(vecs.astype(np.float64), axis=1, keepdims=True)
    sims = vn @ vn.T
    for q in range(3):
        s = sims[q].copy()
        s[q] = -np.inf
        expect = np.argsort(-s, kind="stable")[:4]
        got = out[out.query_id == q].sort_values("cosine", ascending=False)[
            "vec_id"
        ].to_numpy()
        assert set(got) == set(expect)
        np.testing.assert_allclose(
            np.sort(out[out.query_id == q]["cosine"].to_numpy())[::-1],
            np.sort(s[expect])[::-1],
            atol=1e-6,
        )


def test_lsh_topk_recall(spark, rng):
    """LSH with few planes on clustered data: recall vs exact top-k
    should be well above chance. Determinism: same seed -> same result."""
    n, dim = 60, 8
    centers = rng.normal(0, 1, (3, dim))
    vecs = np.vstack(
        [centers[i % 3] + rng.normal(0, 0.1, dim) for i in range(n)]
    ).astype(np.float32)
    pdf = pd.DataFrame(
        {"vec_id": np.arange(n), "embedding": [v.tolist() for v in vecs]}
    )
    emb = spark.createDataFrame(pdf)
    queries = emb.filter("vec_id < 3")
    exact = cosine_topk(emb, queries, k=5).toPandas()
    approx = lsh_topk(emb, queries, dim=dim, k=5, n_planes=4).toPandas()
    approx2 = lsh_topk(emb, queries, dim=dim, k=5, n_planes=4).toPandas()
    pd.testing.assert_frame_equal(
        approx.sort_values(["query_id", "vec_id"]).reset_index(drop=True),
        approx2.sort_values(["query_id", "vec_id"]).reset_index(drop=True),
    )
    recall = 0.0
    for q in range(3):
        e = set(exact[exact.query_id == q]["vec_id"])
        a = set(approx[approx.query_id == q]["vec_id"])
        recall += len(e & a) / len(e)
    assert recall / 3 >= 0.6


def test_text_analysis_columns(spark, docs):
    out = docs.select(
        "doc_id",
        token_count("text").alias("n"),
        lang_id("text").alias("lang"),
        F.round(quality_score("text"), 6).alias("q"),
    ).toPandas().set_index("doc_id")
    assert out.loc[0, "n"] == 9
    assert out.loc[0, "lang"] == "en"
    assert out.loc[2, "lang"] == "de"
    assert out.loc[5, "lang"] == "es"
    assert out.loc[3, "lang"] == "und" or out.loc[3, "lang"] == "en"
    assert (out["q"] >= 0).all() and (out["q"] <= 1).all()


def test_pii_counts_on_planted_text(spark):
    """The corpus is clean, so the driver rows are zeros — prove the
    detectors on planted PII here: known counts per pattern, clean
    text scores zero everywhere."""
    from neuroimaging_data_pipeline_spark.text.analysis import pii_counts

    rows = [
        (0, "contact a.smith+spam@mail-host.co.uk or bob@x.io today"),
        (1, "server at 10.0.0.1 and 192.168.254.3, call +4915123456789"),
        (2, "plain prose with no identifiers at all"),
        (3, "ip 999.1.2.3 still matches the shape; mail@ nope; +123 too short"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    counts = pii_counts("text")
    out = (
        df.select("doc_id", *[counts[k].alias(k) for k in sorted(counts)])
        .toPandas()
        .set_index("doc_id")
    )
    assert out.loc[0].to_dict() == {"emails": 2, "intl_phones": 0, "ipv4": 0}
    assert out.loc[1].to_dict() == {"emails": 0, "intl_phones": 1, "ipv4": 2}
    assert out.loc[2].sum() == 0
    # shape-detectors, not validators: 999.x matches ipv4 shape;
    # 'mail@ nope' is not an email; '+123' is below the phone floor
    assert out.loc[3].to_dict() == {"emails": 0, "intl_phones": 0, "ipv4": 1}


def test_pii_redact_round_trip_on_planted_text(spark):
    """The transform twin of the counts: every detector hit rewritten
    to its placeholder, count-before == hits removed, ZERO signals
    after, untouched text byte-identical, and the placeholder tokens
    land exactly where the matches were (Python re cross-check)."""
    import re

    from neuroimaging_data_pipeline_spark.text.analysis import (
        PII_PATTERNS,
        PII_PLACEHOLDERS,
        PII_REDACTION_ORDER,
        pii_counts,
        pii_redact,
    )

    rows = [
        (0, "contact a.smith+spam@mail-host.co.uk or bob@x.io today"),
        (1, "server at 10.0.0.1 and 192.168.254.3, call +4915123456789"),
        (2, "plain prose with no identifiers at all"),
        # '+digits' inside an email local part: email redaction MUST
        # run first or the phone pattern bites the local part
        (3, "mail user+12345678@host.org then dial +870123456"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    counts = pii_counts("text")
    total = None
    for k in sorted(counts):
        total = counts[k] if total is None else total + counts[k]
    red = df.select(
        "doc_id", "text",
        total.alias("n_before"),
        pii_redact("text").alias("red"),
    )
    after_counts = pii_counts(F.col("red"))
    after = None
    for k in sorted(after_counts):
        after = after_counts[k] if after is None else after + after_counts[k]
    out = red.select("doc_id", "text", "n_before", "red",
                     after.alias("n_after")).toPandas().set_index("doc_id")

    # python-re reference redaction in the same contract order
    def ref(t):
        for name in PII_REDACTION_ORDER:
            t = re.sub(PII_PATTERNS[name], PII_PLACEHOLDERS[name], t)
        return t

    for i, text in rows:
        assert out.loc[i, "red"] == ref(text), i
        assert out.loc[i, "n_after"] == 0, i
    assert out.loc[0, "red"] == "contact <EMAIL> or <EMAIL> today"
    assert out.loc[1, "red"] == "server at <IP> and <IP>, call <PHONE>"
    assert out.loc[2, "red"] == rows[2][1]  # clean text untouched
    assert out.loc[3, "red"] == "mail <EMAIL> then dial <PHONE>"
    # 8, not 7: the triage counts are per-pattern INDEPENDENT, so the
    # '+12345678' inside the row-3 email local part is counted by both
    # the email and phone detectors, while sequential redaction
    # consumes it once (emails run first) — counts upper-bound rewrites
    assert int(out["n_before"].sum()) == 8
    # idempotence: redacting redacted text changes nothing
    twice = red.select(pii_redact(F.col("red")).alias("r2"),
                       "red").toPandas()
    assert (twice["r2"] == twice["red"]).all()


def test_hash_bucket_deterministic_and_balanced(spark):
    """hash_bucket: stable across repartitionings (same rows chosen),
    roughly uniform across buckets, and bucket counts must sum to n."""
    from neuroimaging_data_pipeline_spark.text.analysis import hash_bucket

    df = spark.createDataFrame([(i,) for i in range(2000)], "id long")
    a = df.select("id", hash_bucket("id", 10).alias("b"))
    b = df.repartition(7).select("id", hash_bucket("id", 10).alias("b"))
    pa = a.toPandas().set_index("id")["b"]
    pb = b.toPandas().set_index("id")["b"]
    assert (pa.sort_index() == pb.sort_index()).all()
    sizes = pa.value_counts()
    assert len(sizes) == 10 and sizes.sum() == 2000
    assert sizes.min() > 120 and sizes.max() < 280  # ~200 each


def test_connected_components_hand_built(spark):
    """Hash-min CC on a graph with a transitive chain, a cycle, an
    isolated pair and singletons — labels must equal the min id of
    each true component, including nodes with no edges."""
    from neuroimaging_data_pipeline_spark.dedup.cluster import (
        connected_components,
    )

    nodes = spark.createDataFrame([(i,) for i in range(10)], "id long")
    # chain 1-2-3-4 (1,4 never directly linked), cycle 5-6-7-5,
    # pair 8-9, singletons 0
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 6), (6, 7), (7, 5), (9, 8)],
        "src long, dst long",
    )
    out = dict(
        connected_components(nodes, edges).orderBy("id").collect()
    )
    assert out == {0: 0, 1: 1, 2: 1, 3: 1, 4: 1,
                   5: 5, 6: 5, 7: 5, 8: 8, 9: 8}


def test_connected_components_convergence_boundary(spark):
    """A chain needing EXACTLY max_iter productive rounds must
    converge (the gate allows a confirming round on top); one round
    fewer must raise instead of returning split clusters."""
    import pytest as _pytest

    from neuroimaging_data_pipeline_spark.dedup.cluster import (
        connected_components,
    )

    n = 6  # chain 0-1-2-3-4-5: min label needs 5 productive rounds
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    out = dict(
        connected_components(nodes, edges, max_iter=n - 1)
        .orderBy("id")
        .collect()
    )
    assert out == {i: 0 for i in range(n)}
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(nodes, edges, max_iter=n - 2)


def test_repetition_signals_hand_computed(spark):
    """dup_word_frac / top_word_frac / top_bigram_frac against
    hand-computed values, including the degenerate single-word and
    fully-repeated cases."""
    from neuroimaging_data_pipeline_spark.text.analysis import (
        dup_word_frac,
        top_bigram_frac,
        top_word_frac,
    )

    rows = [
        (0, "a b a b a"),        # 5 words {a:3,b:2}; bigrams: ab,ba,ab,ba
        (1, "x x x x"),           # all same word
        (2, "one two three four"),  # all distinct
        (3, "solo"),              # single word: no bigrams
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = (
        df.select(
            "doc_id",
            F.round(dup_word_frac("text"), 6).alias("dw"),
            F.round(top_word_frac("text"), 6).alias("tw"),
            F.coalesce(F.round(top_bigram_frac("text"), 6), F.lit(0.0)).alias("tb"),
        )
        .toPandas()
        .set_index("doc_id")
    )
    assert out.loc[0, "dw"] == round(1 - 2 / 5, 6)
    assert out.loc[0, "tw"] == 0.6          # 'a' 3/5
    assert out.loc[0, "tb"] == 0.5          # 'a b' 2/4
    assert out.loc[1, "dw"] == 0.75 and out.loc[1, "tw"] == 1.0
    assert out.loc[1, "tb"] == 1.0          # 'x x' 3/3
    assert out.loc[2, "dw"] == 0.0 and out.loc[2, "tw"] == 0.25
    assert out.loc[3, "dw"] == 0.0 and out.loc[3, "tw"] == 1.0
    assert out.loc[3, "tb"] == 0.0          # no bigrams -> null -> 0


def test_ngram_df_cap_drops_boilerplate_shingles(spark):
    """The df cap excludes hot (boilerplate) shingles from BOTH the
    intersection and the sizes, matching an exact local recomputation
    over the discriminative shingle sets only."""
    from neuroimaging_data_pipeline_spark.dedup.ngram import ngram_jaccard_pairs

    boiler = "terms of service apply here"
    rows = [
        (0, f"{boiler} alpha beta gamma delta epsilon"),
        (1, f"{boiler} alpha beta gamma delta zeta"),
        (2, f"{boiler} totally different words entirely now"),
        (3, f"{boiler} more unrelated content over there"),
        (4, f"{boiler} quite other tokens in this one"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def caplocal(cap):
        def sh(t):
            toks = t.lower().split()
            return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

        sets = {i: sh(t) for i, t in rows}
        df = {}
        for s in sets.values():
            for g in s:
                df[g] = df.get(g, 0) + 1
        kept = {i: {g for g in s if df[g] <= cap} for i, s in sets.items()}
        out = {}
        for i in kept:
            for j in kept:
                # the engine emits only pairs sharing >= 1 kept shingle
                if i < j and kept[i] & kept[j]:
                    out[(i, j)] = len(kept[i] & kept[j]) / len(kept[i] | kept[j])
        return out

    # cap=4: the 5-doc boilerplate shingles (df=5) are dropped.
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, df_cap=4, threshold=0.0).collect()
    }
    want = {k: v for k, v in caplocal(4).items() if v >= 0.0}
    assert set(got) == set(want)
    for k in got:
        assert abs(got[k] - want[k]) < 1e-9
    # Sanity: docs 0/1 stay similar on discriminative shingles, while
    # boilerplate-only overlaps (e.g. 2 vs 3) collapse to 0 pairs at a
    # positive threshold.
    assert got[(0, 1)] > 0.3
    pos = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, df_cap=4, threshold=0.05).collect()
    }
    assert (2, 3) not in pos
    # A cap no shingle can exceed (one per document) keeps the
    # boilerplate, which makes everything look similar.
    uncapped = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, df_cap=len(rows), threshold=0.0).collect()
    }
    assert uncapped[(2, 3)] > 0.2


def test_ngram_df_cap_none_raises(spark):
    from neuroimaging_data_pipeline_spark.dedup.ngram import ngram_jaccard_pairs

    with pytest.raises(ValueError, match="df_cap"):
        ngram_jaccard_pairs(spark.range(1), df_cap=None)


def test_lsh_bucket_flood_guard(spark):
    """max_bucket_size drops flooded buckets (bounding join fan-out);
    without it the same corpus yields the flood pairs."""
    texts = [(i, "identical boilerplate document body here") for i in range(20)]
    texts += [(100, "some genuinely unique text one"), (101, "another unique text two")]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    sh = shingles(docs, "doc_id", "text", 3)
    sigs = minhash_signatures(sh, "doc_id", 16)
    flood = lsh_candidate_pairs(sigs, "doc_id", 16, 4).count()
    guarded = lsh_candidate_pairs(sigs, "doc_id", 16, 4, max_bucket_size=10).count()
    assert flood >= 190  # 20 identical docs -> C(20,2) pairs
    assert guarded < flood
    assert guarded == 0 or guarded < 20


@pytest.mark.parametrize("cap", [10, None])
def test_jaccard_verify_broadcasts_only_capped_candidates(spark, docs, cap):
    """The candidate-id semi-join is broadcast only when a flood guard
    bounds the candidate set; uncapped, the strategy is AQE's."""
    sh = shingles(docs, k=3)
    sigs = minhash_signatures(sh, num_hashes=16)
    cand = lsh_candidate_pairs(sigs, num_hashes=16, bands=8)
    out = jaccard_verify(cand, sh, threshold=0.5, max_bucket_size=cap)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert ("strategy=broadcast" in plan) == (cap is not None), plan


def test_ivf_lloyd_refinement_improves_recall(spark):
    """Pathological id-seeding (first ids all in one true cluster):
    two deterministic Lloyd passes spread the centroids and lift
    recall@5 vs exact cosine top-k. Also pins determinism: two runs of
    the refined operator return identical rows."""
    from neuroimaging_data_pipeline_spark.similarity.cosine import ivf_topk

    rng = np.random.default_rng(7)
    centers = rng.normal(size=(4, 8)) * 3
    rows, vid = [], 0
    for _ in range(8):  # seeds all drawn from cluster 0
        rows.append((vid, (centers[0] + rng.normal(size=8) * 0.3).tolist()))
        vid += 1
    for c in range(4):
        for _ in range(10):
            rows.append((vid, (centers[c] + rng.normal(size=8) * 0.3).tolist()))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.filter("vec_id in (10, 20, 30, 40)")
    truth = {}
    for r in cosine_topk(emb, queries, k=5).collect():
        truth.setdefault(r.query_id, set()).add(r.vec_id)

    def recall(iters):
        got = {}
        for r in ivf_topk(
            emb, queries, n_cells=4, nprobe=1, k=5, lloyd_iters=iters
        ).collect():
            got.setdefault(r.query_id, set()).add(r.vec_id)
        return float(
            np.mean([len(got.get(q, set()) & t) / len(t) for q, t in truth.items()])
        )

    seeded, refined = recall(0), recall(2)
    assert refined > seeded
    assert refined == 1.0
    a = sorted(
        map(tuple, ivf_topk(emb, queries, n_cells=4, nprobe=1, k=5, lloyd_iters=2).collect())
    )
    b = sorted(
        map(tuple, ivf_topk(emb, queries, n_cells=4, nprobe=1, k=5, lloyd_iters=2).collect())
    )
    assert a == b


def test_lsh_config_recall_on_real_embeddings(spark):
    """Pin the measured recall@5 of the shipped s_lsh_topk config
    (LSH_N_PLANES/LSH_N_TABLES) on the real sf0.01 embeddings table
    against exact ground truth. The corpus is isotropic — hyperplane
    LSH's worst case — so this is the honest floor the config was
    chosen against (r3 grid: 3p/4t = 0.80 recall at sf0.1, vs 0.28
    for the previous 6p/3t at equal cost)."""
    from neuroimaging_data_pipeline_spark.queries.simsearch import (
        LSH_N_PLANES,
        LSH_N_TABLES,
    )
    from neuroimaging_data_pipeline_spark.sources.tables import read_table

    emb = read_table(spark, "/root/testdata/sf0.01", "embeddings")
    queries = emb.filter("vec_id < 5")
    truth: dict = {}
    for r in cosine_topk(emb, queries, k=5).collect():
        truth.setdefault(r.query_id, set()).add(r.vec_id)
    got: dict = {}
    for r in lsh_topk(
        emb, queries, dim=64, k=5,
        n_planes=LSH_N_PLANES, n_tables=LSH_N_TABLES,
    ).collect():
        got.setdefault(r.query_id, set()).add(r.vec_id)
    recall = sum(
        len(got.get(q, set()) & t) / len(t) for q, t in truth.items()
    ) / len(truth)
    assert recall >= 0.5


def test_lsh_multi_table_recall_dominates_single(spark, rng):
    """OR-ing independent hyperplane tables can only add candidates:
    recall(3 tables) >= recall(1 table), and candidates stay exact-once
    per (query, id) after dedup."""
    n, dim = 80, 8
    centers = rng.normal(0, 1, (4, dim))
    vecs = np.vstack(
        [centers[i % 4] + rng.normal(0, 0.15, dim) for i in range(n)]
    ).astype(np.float32)
    pdf = pd.DataFrame(
        {"vec_id": np.arange(n), "embedding": [v.tolist() for v in vecs]}
    )
    emb = spark.createDataFrame(pdf)
    queries = emb.filter("vec_id < 4")
    exact = cosine_topk(emb, queries, k=5).toPandas()

    def recall(tables):
        approx = lsh_topk(
            emb, queries, dim=dim, k=5, n_planes=6, n_tables=tables
        ).toPandas()
        assert not approx.duplicated(["query_id", "vec_id"]).any()
        r = 0.0
        for q in range(4):
            e = set(exact[exact.query_id == q]["vec_id"])
            a = set(approx[approx.query_id == q]["vec_id"])
            r += len(e & a) / len(e)
        return r / 4

    r1, r3 = recall(1), recall(3)
    assert r3 >= r1
    assert r3 >= 0.8


def test_entity_resolution_transitive_across_channels(spark):
    """A~B via exact content hash, B~C via edit distance: A and C
    must land in ONE entity even though no single channel links them
    — the transitive property pairwise dedup lacks."""
    from neuroimaging_data_pipeline_spark.dedup.cluster import (
        connected_components,
    )
    from neuroimaging_data_pipeline_spark.dedup.fuzzy import fuzzy_pairs
    from pyspark.sql import functions as F

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base),
        (2, base.upper()),            # exact dup of 1 after normalize
        (3, base.replace("dog", "dgo")),  # 2 edits from 2's normal form
        (4, "completely different content about training pipelines"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    h = d.select("doc_id", F.md5(norm).alias("_h"))
    keep = h.groupBy("_h").agg(F.min("doc_id").alias("_keep"))
    exact = (
        h.join(keep, "_h")
        .filter(F.col("doc_id") != F.col("_keep"))
        .select(F.col("_keep").alias("src"), F.col("doc_id").alias("dst"))
    )
    fz = fuzzy_pairs(d, max_dist=8).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    cc = connected_components(
        d.select("doc_id"), exact.unionByName(fz), id_col="doc_id"
    )
    got = {r.id: r.cluster_id for r in cc.collect()}
    assert got[1] == got[2] == got[3] == 1
    assert got[4] == 4


def test_c4_line_filter_rules(spark):
    from neuroimaging_data_pipeline_spark.text.analysis import c4_keep_lines

    rows = [
        (["this sentence has exactly enough words here.",   # keep
          "four words too few.",                             # < 5 words
          "plenty of words but no terminal punctuation",     # no punct
          "please enable JavaScript to continue browsing.",  # banned (ci)
          "lorem ipsum filler text goes on and on.",         # banned
          "accept our cookie policy to read further today.", # banned
          "var f = function() { return 1; } extra words.",   # brace
          'he said "this quoted sentence should be kept."',  # quote end
          "short one!",                                      # < 5 words
          "is this a kept question with enough words?"],     # ? end
         ),
    ]
    df = spark.createDataFrame(rows, "lines array<string>")
    kept = df.select(c4_keep_lines(F.col("lines")).alias("k")).head().k
    assert kept == [
        "this sentence has exactly enough words here.",
        'he said "this quoted sentence should be kept."',
        "is this a kept question with enough words?",
    ]


def test_kn_bigram_hand_computed_probability(spark):
    """Interpolated KN on a corpus small enough to do by hand:
    docs 'a b a b' and 'a c'. Bigrams: ab(x2), ba(x1), ac(x1).
    c(a.)=3, c(b.)=1; N1+(a.)=2, N1+(b.)=1; N1+(.b)=1, N1+(.a)=1,
    N1+(.c)=1; T=3. D=0.75.
      P(b|a) = (2-.75)/3 + (.75*2/3)*(1/3) = 0.41666.. + 0.16666..
      P(a|b) = (1-.75)/1 + (.75*1/1)*(1/3) = 0.25 + 0.25 = 0.5
      P(c|a) = (1-.75)/3 + (.75*2/3)*(1/3) = 0.0833.. + 0.16666..
    doc0 xent = -(2*ln(0.58333..) + ln(0.5))/3
    doc1 xent = -ln(0.25)
    """
    import math

    from neuroimaging_data_pipeline_spark.queries.textops import t_kn_bigram
    import os
    import tempfile

    # run the registered query against a miniature documents table
    tmp = tempfile.mkdtemp(prefix="kn_bigram_")
    spark.createDataFrame(
        [(0, "a b a b"), (1, "a c")], "doc_id long, text string"
    ).write.mode("overwrite").parquet(os.path.join(tmp, "documents.parquet"))
    out = {r.doc_id: (r.n_bigrams, r.xent_kn)
           for r in t_kn_bigram(spark, tmp).collect()}
    p_ab = (2 - 0.75) / 3 + (0.75 * 2 / 3) * (1 / 3)
    p_ba = 0.5
    p_ac = (1 - 0.75) / 3 + (0.75 * 2 / 3) * (1 / 3)
    assert out[0][0] == 3
    assert out[0][1] == pytest.approx(
        -(2 * math.log(p_ab) + math.log(p_ba)) / 3, abs=1e-6)
    assert out[1][0] == 1
    assert out[1][1] == pytest.approx(-math.log(p_ac), abs=1e-6)


def _documents_table(spark, rows) -> str:
    import os
    import tempfile

    tmp = tempfile.mkdtemp(prefix="documents_")
    spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    ).write.mode("overwrite").parquet(os.path.join(tmp, "documents.parquet"))
    return tmp


def test_kn_bigram_pins_nothing(spark):
    """The KN model is one window chain over the pair table: after the
    action no RDD stays persisted and the executed plan reads no
    cached relation."""
    from neuroimaging_data_pipeline_spark.queries.textops import t_kn_bigram

    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc
    for rdd in list(jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
    tmp = _documents_table(
        spark, [(0, "a b a b c", "x"), (1, "a c b a", "y"), (2, "c a b", "x")]
    )
    out = t_kn_bigram(spark, tmp)
    assert out.count() == 3
    assert jsc.getPersistentRDDs().isEmpty()
    executed = out._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryRelation" not in executed, executed


def test_ngram_jaccard_scans_documents_once(spark):
    """The block key rides on the shingle rows, so d_ngram_jaccard
    reads the documents table once (no join back for the source)."""
    import re

    from neuroimaging_data_pipeline_spark.plans.audit import explain_str
    from neuroimaging_data_pipeline_spark.queries.textops import d_ngram_jaccard

    tmp = _documents_table(
        spark,
        [(0, "a b c d e f", "x"), (1, "a b c d e g", "x"),
         (2, "a b c d e f", "y")],
    )
    out = d_ngram_jaccard(spark, tmp)
    plan = explain_str(out)
    scans = re.findall(r"(?m)^Location: .*documents\.parquet", plan)
    assert len(scans) == 1, plan
    # pairs stay within a source: 0 and 2 are identical but in
    # different blocks
    assert {(r.id_a, r.id_b) for r in out.collect()} == {(0, 1)}
