"""Unigram-LM (SentencePiece-style) subword tokenizer: train + apply
(VERDICT r7 #7) — the sibling of ``text/bpe.py`` real pipelines choose
between (Kudo 2018, the T5/Llama-2 SentencePiece algorithm), as Spark
dataflow:

- SEED VOCAB: every substring of length 1..4 of the corpus's words,
  counted with overlaps and weighted by word frequency (corpus-scale
  text collapses to a vocab-sized table in one groupBy, exactly like
  BPE training); keep the top-K by (count desc, piece asc) plus every
  single character (coverage guarantee).
- EM (hard/Viterbi variant): the E-step segments each DISTINCT word
  by maximum total log-probability under the current piece
  distribution — corpus-parallel, one narrow Arrow pass over the
  word table with the KB-sized (piece -> score) map a closure
  capture; the M-step recounts pieces over the chosen segmentations
  (an exact integer groupBy) and drops zero-count pieces. Coverage is
  preserved round over round: a word's round-i segmentation only uses
  pieces that got counts, so it remains available in round i+1.
- APPLY: per-document token counts and total likelihood via the same
  Viterbi over the final vocabulary, joined doc->word->segmentation.

Determinism (the decimal-exact discipline, integer form): log-probs
quantize to SCALED 64-BIT INTEGERS — ilp(piece) = round(ln(freq / T)
* 1e9) computed by the ENGINE's ln in both systems — so every Viterbi
score is an exact integer sum: no float-addition order dependence, no
cross-engine ulp drift in the DP, and ties are true ties resolved by
a fixed rule (prefer the LONGER piece). The DuckDB oracle unrolls the
same seed vocab, both EM rounds (forward DP as a recursive CTE with a
4-deep best/token history, backtrack as a second recursive CTE over
the recorded argmax choices) and the final apply, so training is
oracle-checked round-for-round like BPE.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from neuroimaging_data_pipeline_spark.functions.rowmap import map_rows
from neuroimaging_data_pipeline_spark.text.bpe import _norm_words

MAX_PIECE_LEN = 4
TOP_K = 48
EM_ROUNDS = 2
_SCALE = 1e9  # ilp = round(ln(p) * _SCALE) as long


def word_freqs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) — the corpus collapsed to its vocabulary."""
    return (
        docs.select(F.explode(_norm_words(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )


def seed_vocab(words: DataFrame) -> DataFrame:
    """(piece, cnt): top-K substrings (overlap-counted, frequency-
    weighted) plus all single characters."""
    subs = (
        words.select(
            "word",
            "freq",
            F.explode(
                F.sequence(F.lit(1), F.length("word"))
            ).alias("p"),
        )
        .select(
            "word",
            "freq",
            "p",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.least(
                        F.lit(MAX_PIECE_LEN), F.length("word") - F.col("p") + 1
                    ),
                )
            ).alias("l"),
        )
        .select(
            F.substring(F.col("word"), F.col("p"), F.col("l")).alias("piece"),
            "freq",
            "l",
        )
    )
    counts = subs.groupBy("piece", "l").agg(F.sum("freq").alias("cnt"))
    top = (
        counts.orderBy(F.col("cnt").desc(), F.col("piece"))
        .limit(TOP_K)
        .select("piece", "cnt")
    )
    chars = counts.filter(F.col("l") == 1).select("piece", "cnt")
    return top.union(chars).groupBy("piece").agg(F.max("cnt").alias("cnt"))


def _ilp_rows(vocab: DataFrame) -> list[tuple[str, int]]:
    """Quantized log-probs, computed by SPARK's ln so the engine side
    and the DuckDB side each use their own engine ln (parity at the
    1e-9 grid). KB driver state: the vocab is <= TOP_K + alphabet."""
    total = vocab.agg(F.sum("cnt").alias("t")).collect()[0]["t"]
    rows = vocab.select(
        "piece",
        F.round(
            F.log(F.col("cnt").cast("double") / F.lit(float(total)))
            * F.lit(_SCALE)
        )
        .cast("long")
        .alias("ilp"),
    ).collect()
    return [(r["piece"], r["ilp"]) for r in rows]


def viterbi_segment(
    word: str, ilp: dict[str, int]
) -> tuple[list[str], int, int] | None:
    """Best segmentation under integer log-probs: returns (pieces,
    n_tokens, score). Ties prefer the LONGER final piece at each
    position. None when the word is not coverable."""
    n = len(word)
    best: list[int | None] = [None] * (n + 1)
    best[0] = 0
    tok = [0] * (n + 1)
    choice = [0] * (n + 1)
    for k in range(1, n + 1):
        bs: int | None = None
        bl = 0
        for ln in range(1, min(MAX_PIECE_LEN, k) + 1):
            prev = best[k - ln]
            if prev is None:
                continue
            w = ilp.get(word[k - ln : k])
            if w is None:
                continue
            s = prev + w
            if bs is None or s > bs or (s == bs and ln > bl):
                bs, bl = s, ln
        best[k] = bs
        if bs is not None:
            tok[k] = tok[k - bl] + 1
            choice[k] = bl
    if best[n] is None:
        return None
    pieces: list[str] = []
    pos = n
    while pos > 0:
        ln = choice[pos]
        pieces.append(word[pos - ln : pos])
        pos -= ln
    pieces.reverse()
    return pieces, tok[n], best[n]


def _segment_words(
    words: DataFrame, ilp: dict[str, int]
) -> DataFrame:
    """(word, freq, pieces: array<string>, n_tokens, score) — the
    distributed E-step: one narrow Arrow pass over the DISTINCT-word
    table (vocab-scale, not corpus-scale)."""
    out_schema = (
        "word string, freq long, pieces array<string>,"
        " n_tokens int, score long"
    )

    def seg(w, fq):
        r = viterbi_segment(str(w), ilp)
        if r is None:
            raise ValueError(
                f"word {w!r} not coverable by the vocabulary"
            )
        yield (str(w), int(fq), r[0], r[1], r[2])

    return map_rows(words, seg, out_schema, cols=("word", "freq"))


def _run_em(words: DataFrame) -> DataFrame:
    """Seed + EM_ROUNDS hard-EM rounds over the (word, freq) table;
    returns the final (piece, cnt) vocabulary. Per round: quantized
    log-probs (KB driver state), distributed Viterbi E-step,
    integer-count M-step dropping zero-count pieces. localCheckpoint
    per round so round i's plan never nests inside round i+1's (the
    BPE/logreg iteration discipline)."""
    vocab = seed_vocab(words)
    for _ in range(EM_ROUNDS):
        ilp = dict(_ilp_rows(vocab))
        vocab = (
            _segment_words(words, ilp)
            .select("freq", F.explode("pieces").alias("piece"))
            .groupBy("piece")
            .agg(F.sum("freq").alias("cnt"))
            .localCheckpoint()
        )
    return vocab


def unigram_train(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(piece, cnt, rank) — the vocabulary after EM, ranked by
    (cnt desc, piece asc)."""
    words = word_freqs(docs, text_col).localCheckpoint()
    vocab = _run_em(words)
    return vocab.select(
        "piece",
        "cnt",
        F.row_number()
        .over(Window.orderBy(F.col("cnt").desc(), F.col("piece")))
        .alias("rank"),
    )


def unigram_token_counts(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_tokens, score) — train, then tokenize every doc
    with the final vocabulary: per-word Viterbi results join back to
    the doc->word explosion (word multiplicity preserved), then one
    integer groupBy per doc."""
    words = word_freqs(docs, text_col).localCheckpoint()
    vocab = _run_em(words)
    final_ilp = dict(_ilp_rows(vocab))
    per_word = _segment_words(words, final_ilp).select(
        "word", "n_tokens", "score"
    )
    doc_words = docs.select(
        id_col, F.explode(_norm_words(F.col(text_col))).alias("word")
    )
    return (
        doc_words.join(F.broadcast(per_word), "word")
        .groupBy(id_col)
        .agg(
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.sum("score").cast("long").alias("score"),
        )
    )
