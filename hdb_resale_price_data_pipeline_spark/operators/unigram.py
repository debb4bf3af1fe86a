"""Unigram-LM tokenizer training (Kudo 2018, "Subword Regularization";
the SentencePiece unigram model) — the third tokenizer family beside
BPE and WordPiece (operators/bpe.py), with a different learning shape:
instead of greedy bottom-up merges, a piece VOCABULARY with
probabilities is fitted by EM and each word is segmented by Viterbi
(max-likelihood) decoding.

This implementation is the deterministic HARD-EM (Viterbi-EM) variant:
the E-step assigns each word its single best segmentation under the
current piece log-probs rather than accumulating forward-backward
expected counts, and the final prune keeps the highest-count pieces
rather than ranking by likelihood loss. Both simplifications are
standard (hard-EM is the classic k-means-style degeneration of EM) and
make every step exactly reproducible cross-engine: all comparisons are
over BIGINT-quantized log-probs (the `operators/scoring.py` grid
discipline — ``floor(ln((c+1)/(total+V)) · LOG_GRID + 0.5)`` with
add-one smoothing, so the only non-exactly-rounded op is ``ln`` on a
bit-identical double) and integer Viterbi scores.

Scale shape (the operators/bpe.py discipline):
- the CORPUS is touched exactly once (word-frequency aggregation);
- the seed piece table is bounded by construction (every substring of
  length ≤ MAX_PIECE over a bounded alphabet), and the kept vocabulary
  is K-bounded via TakeOrderedAndProject — the codebook-sized collects
  of operators/kmeans.py;
- each EM iteration is ONE Arrow ``mapInPandas`` Viterbi pass over the
  VOCAB-sized word table (persisted; millions of rows at 100 TB, not
  trillions) plus one piece-count aggregation collected vocab-sized;
- applying the trained model to documents is a broadcast join of the
  per-word segmentation table — the corpus is never re-scanned during
  training and never touches Python at apply time.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast, col

from .bpe import word_frequencies
from .util import local_frame

LOG_GRID = 10_000  # scoring.py's BIGINT quantization grid for ln terms
MAX_PIECE = 4  # max piece length considered (seed + Viterbi window)
SEED_KEEP = 64  # multi-char seed pieces kept (by count desc, piece asc)
VOCAB_KEEP = 48  # multi-char pieces surviving the final prune
MIN_COUNT = 2  # a multi-char seed piece must occur this often
EM_ITERS = 2  # fixed hard-EM iterations (unrolled in the oracle)
MAX_WORD_LEN = 12  # static DP unroll bound; longer words would need
# more layers — at the corpus boundary `word_frequencies` tokens are
# bounded short here; a production corpus raises this constant (cost:
# one CTE layer per extra char, and the Python path is length-agnostic)


def _qlp(cnt: int, total: int, v: int) -> int:
    """Quantized add-one log-prob — the exact expression text of the
    oracle: ``floor(ln((cnt+1)/(total+v)) * LOG_GRID + 0.5)``."""
    return int(
        math.floor(math.log((cnt + 1) / (total + v)) * float(LOG_GRID) + 0.5)
    )


def _qlp_table(counts: dict[str, int]) -> dict[str, int]:
    total = sum(counts.values())
    v = len(counts)
    return {p: _qlp(c, total, v) for p, c in counts.items()}


def viterbi_segment(
    word: str, qlp: dict[str, int], max_piece: int = MAX_PIECE
) -> tuple[list[str], int]:
    """Max-likelihood segmentation of ``word`` under quantized piece
    log-probs: forward DP over prefix lengths, per-position argmax by
    ``(score DESC, n_pieces ASC, piece_len DESC)`` — the same rule the
    SQL unroll's ``row_number`` applies, so both engines pick the same
    segmentation even among score ties. Returns (pieces, score).
    Single characters are always in the vocabulary by construction, so
    every position is reachable."""
    n = len(word)
    sc: list[int | None] = [0] + [None] * n
    np_: list[int] = [0] * (n + 1)
    bp: list[int] = [0] * (n + 1)
    for j in range(1, n + 1):
        best = None
        best_l = 0
        for length in range(1, min(max_piece, j) + 1):
            prev = sc[j - length]
            if prev is None:
                continue
            q = qlp.get(word[j - length : j])
            if q is None:
                continue
            cand = (prev + q, -(np_[j - length] + 1), length)
            if best is None or cand > best:
                best = cand
                best_l = length
        if best is None:  # unreachable: chars are always in vocab
            raise ValueError(f"no segmentation for {word!r}")
        sc[j] = best[0]
        np_[j] = -best[1]
        bp[j] = best_l
    pieces: list[str] = []
    pos = n
    while pos > 0:
        length = bp[pos]
        pieces.append(word[pos - length : pos])
        pos -= length
    pieces.reverse()
    return pieces, int(sc[n])  # type: ignore[arg-type]


def _seed_counts(words: DataFrame) -> DataFrame:
    """Frequency-weighted counts of every substring of length ≤
    MAX_PIECE — bounded by construction (|alphabet|^MAX_PIECE distinct
    pieces at any corpus size). One explode + partial-agg'd groupBy."""
    sub = (
        f"flatten(transform(sequence(1, length(word)), i -> "
        f"transform(sequence(i, least(i + {MAX_PIECE - 1}, length(word))), "
        f"j -> substring(word, i, j - i + 1))))"
    )
    return (
        words.select(F.explode(F.expr(sub)).alias("piece"), col("cnt"))
        .groupBy("piece")
        .agg(F.sum("cnt").cast("bigint").alias("c"))
    )


def _seed_vocab(words: DataFrame) -> dict[str, int]:
    """Kept seed vocabulary with counts: every single character, plus
    the top SEED_KEEP multi-char substrings with count ≥ MIN_COUNT
    (TakeOrderedAndProject — no global sort; both collects bounded)."""
    seeds = _seed_counts(words)
    chars = seeds.filter(F.length("piece") == 1).collect()
    longs = (
        seeds.filter((F.length("piece") >= 2) & (col("c") >= MIN_COUNT))
        .orderBy(col("c").desc(), col("piece"))
        .limit(SEED_KEEP)
        .collect()
    )
    return {r.piece: int(r.c) for r in list(chars) + list(longs)}


def _viterbi_pass(words: DataFrame, qlp: dict[str, int]) -> DataFrame:
    """One Arrow Viterbi pass over the vocab-sized word table:
    (word, cnt) → (word, cnt, pieces, score_q). The qlp table is
    model-sized (≤ SEED_KEEP + alphabet) and ships in the closure —
    no gateway broadcast needed, Connect-safe."""
    table = dict(qlp)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            pieces = []
            scores = []
            for w in b["word"]:
                p, s = viterbi_segment(w, table)
                pieces.append(p)
                scores.append(s)
            yield pd.DataFrame(
                {
                    "word": b["word"],
                    "cnt": b["cnt"],
                    "pieces": pieces,
                    "score_q": pd.Series(scores, dtype="int64"),
                }
            )

    return words.mapInPandas(
        run, "word string, cnt bigint, pieces array<string>, score_q bigint"
    )


def _piece_counts(seg: DataFrame) -> dict[str, int]:
    """Frequency-weighted piece counts of a segmentation frame —
    explode + partial-agg, collected vocab-sized."""
    rows = (
        seg.select(F.explode("pieces").alias("piece"), col("cnt"))
        .groupBy("piece")
        .agg(F.sum("cnt").cast("bigint").alias("c"))
        .collect()
    )
    return {r.piece: int(r.c) for r in rows}


def unigram_train(
    docs: DataFrame, text_col: str
) -> tuple[dict[str, int], DataFrame]:
    """Fit the unigram model on the corpus: seed → EM_ITERS hard-EM
    rounds over the word table → count-prune → final quantized
    log-prob table. Returns (qlp, words) where ``words`` is the
    persisted (word, cnt) frame for downstream application."""
    from ..shipping import ensure_package_shipped

    ensure_package_shipped(docs.sparkSession)
    words = word_frequencies(docs, text_col).persist()
    counts = _seed_vocab(words)
    qlp = _qlp_table(counts)
    for _ in range(EM_ITERS):
        seg_counts = _piece_counts(_viterbi_pass(words, qlp))
        # EM keeps the vocabulary FIXED: unproduced pieces get the
        # add-one floor rather than vanishing mid-fit
        counts = {p: seg_counts.get(p, 0) for p in counts}
        qlp = _qlp_table(counts)
    # prune: every single char survives (segmentability); multi-char
    # pieces keep the top VOCAB_KEEP produced ones
    kept_long = sorted(
        ((p, c) for p, c in counts.items() if len(p) >= 2 and c >= 1),
        key=lambda pc: (-pc[1], pc[0]),
    )[:VOCAB_KEEP]
    final_counts = {p: c for p, c in counts.items() if len(p) == 1}
    final_counts.update(dict(kept_long))
    return _qlp_table(final_counts), words


def unigram_apply(
    docs: DataFrame, text_col: str, qlp: dict[str, int], words: DataFrame
) -> DataFrame:
    """Segment every document with the trained model: ONE Viterbi pass
    over the vocab-sized word table, then the corpus just broadcast-
    joins the per-word segmentation — identical discipline to
    ``bpe_apply``'s apply side, and the corpus never enters Python."""
    from ..functions import hashing as H

    perword = _viterbi_pass(words, qlp).select("word", "pieces", "score_q")
    toks = F.expr(H.tokens(text_col)[0])
    docw = docs.select(
        "doc_id", F.posexplode(toks).alias("wi", "word")
    )
    agg = (
        docw.join(broadcast(perword), "word")
        .groupBy("doc_id")
        .agg(
            F.sum(F.size("pieces")).cast("bigint").alias("uni_n_pieces"),
            F.slice(
                F.flatten(
                    F.array_sort(
                        F.collect_list(F.struct("wi", "pieces"))
                    ).pieces
                ),
                1,
                32,
            ).alias("uni_pieces"),
            F.sum("score_q").cast("bigint").alias("uni_score_q"),
        )
    )
    return (
        docs.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(col("uni_n_pieces"), F.lit(0)).alias("uni_n_pieces"),
            F.coalesce(
                col("uni_pieces"), F.array().cast("array<string>")
            ).alias("uni_pieces"),
            F.coalesce(col("uni_score_q"), F.lit(0)).alias("uni_score_q"),
        )
    )


def unigram_vocab_ids(qlp: dict[str, int]) -> list[tuple[str, int]]:
    """Ranked (piece, id) pairs from the trained log-prob table: ids
    1..V by (qlp DESC, piece ASC) — probability rank, the quantized
    analog of frequency rank. No UNK id: every single character is in
    the vocabulary by construction, so any Viterbi output encodes.
    Pure bounded driver fold (model-sized)."""
    ranked = sorted(qlp.items(), key=lambda pq: (-pq[1], pq[0]))
    return [(p, i + 1) for i, (p, _) in enumerate(ranked)]


def unigram_encode_ids(
    docs: DataFrame,
    text_col: str,
    qlp: dict[str, int],
    words: DataFrame,
    head: int = 32,
) -> DataFrame:
    """The tokenizer SERVING step: encode every document to vocabulary
    ids with the trained unigram model. Same corpus discipline as
    :func:`unigram_apply` — one Arrow Viterbi pass over the vocab-sized
    word table, then the corpus broadcast-joins the per-word pieces and
    the (model-sized) id table; the corpus never enters Python."""
    from ..functions import hashing as H

    spark = docs.sparkSession
    perword = _viterbi_pass(words, qlp).select("word", "pieces")
    ids = local_frame(spark, unigram_vocab_ids(qlp), "piece string, pid int")
    toks = F.expr(H.tokens(text_col)[0])
    docw = docs.select("doc_id", F.posexplode(toks).alias("wi", "word"))
    dp = docw.join(broadcast(perword), "word").select(
        "doc_id", "wi", F.posexplode("pieces").alias("pi", "piece")
    )
    agg = (
        dp.join(broadcast(ids), "piece")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pieces"),
            F.slice(
                F.array_sort(
                    F.collect_list(F.struct("wi", "pi", "pid"))
                ).pid,
                1,
                head,
            ).alias("id_head"),
        )
    )
    return (
        docs.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(col("n_pieces"), F.lit(0)).alias("n_pieces"),
            F.coalesce(col("id_head"), F.array().cast("array<int>")).alias(
                "id_head"
            ),
        )
    )
