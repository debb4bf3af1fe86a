"""Distributed BPE merge training — learn a tokenizer vocabulary from
the corpus (Sennrich et al. 2016, "Neural Machine Translation of Rare
Words with Subword Units").

The scale shape mirrors operators/kmeans.py: the CORPUS is touched
exactly once (tokenize → word-frequency aggregation); every merge
iteration then runs over the VOCABULARY-sized working set (distinct
words × frequency), which is millions of rows at 100 TB — not
trillions. Per iteration: one explode + partial-agg'd pair count, a
1-row driver argmax (ties → lexicographically smallest pair, so the
result is deterministic), and one Arrow map applying the merge. No
per-row Python in the corpus pass; the iterative loop never rescans
the corpus.

The trained merge list is what a tokenizer ships: ``bpe_apply`` uses
it to segment unseen text, and greedy longest-merge application is
deterministic given the ordered merges.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import col

from ..functions import hashing as H

END = "</w>"  # end-of-word marker, standard BPE


def word_frequencies(df: DataFrame, text_col: str) -> DataFrame:
    """(word, cnt) over the whole corpus — the ONE corpus pass."""
    toks = F.explode(F.expr(H.tokens(text_col)[0])).alias("word")
    return df.select(toks).groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))


def _to_symbols(words: DataFrame) -> DataFrame:
    """word → its initial symbol sequence (chars + end marker)."""
    return words.withColumn(
        "syms",
        F.concat(
            F.filter(F.split(col("word"), ""), lambda x: x != ""),
            F.array(F.lit(END)),
        ),
    )


# Driver-local merge-loop budget: the per-merge Spark-job path is
# correct but schedules one job per merge — fine at n_merges≈10, days
# of scheduler overhead at a production 32k vocabulary. The word-
# frequency table is VOCAB-sized by construction (distinct words, not
# corpus rows), so when it fits this budget the whole merge loop runs
# driver-local on the collected table — same algorithm, same tie-break,
# bit-identical output (parity pinned in tests/test_bpe.py) — and 32k
# merges cost an in-memory loop instead of 32k scheduled jobs. Above
# the budget the Spark path still applies.
DRIVER_VOCAB_BUDGET = 2_000_000  # distinct words; ~a few hundred MB


def _driver_merge_loop(
    vocab: list[tuple[list[str], int]], n_merges: int, min_count: int
) -> tuple[list[tuple[str, str]], list[tuple[str, int]]]:
    """The merge loop over a COLLECTED word-frequency table — the exact
    algorithm of the distributed loop (greedy most-frequent pair, ties
    → lexicographically smallest (a, b), stop under ``min_count``),
    with the classic incremental bookkeeping (Sennrich's learn_bpe):
    pair counts update only for words CONTAINING the merged pair (a
    pair→words inverted index), and the argmax is a lazy max-heap —
    stale heap entries are discarded when their count no longer
    matches. Python tuple order on (−n, a, b) equals the distributed
    ``ORDER BY n DESC, a, b``: UTF-8 byte order (Spark strings) and
    code-point order (Python str) agree by UTF-8's order-preserving
    construction."""
    import heapq
    from collections import defaultdict

    pair_counts: dict[tuple[str, str], int] = defaultdict(int)
    where: dict[tuple[str, str], set[int]] = defaultdict(set)
    for idx, (syms, cnt) in enumerate(vocab):
        for p in zip(syms, syms[1:]):
            pair_counts[p] += cnt
            where[p].add(idx)
    heap = [(-n, p) for p, n in pair_counts.items()]
    heapq.heapify(heap)
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        best = None
        while heap:
            neg_n, p = heapq.heappop(heap)
            if pair_counts.get(p, 0) == -neg_n and -neg_n > 0:
                best = (p, -neg_n)
                break
        if best is None or best[1] < min_count:
            break
        (a, b), n = best
        # the popped entry was valid; the pair is about to go to 0 —
        # push nothing back
        merges.append((a, b))
        for idx in where.pop((a, b), ()):
            syms, cnt = vocab[idx]
            new = _merge_seq(syms, a, b)
            if new == syms:
                continue  # stale index entry: pair no longer present
            # push a fresh heap entry on EVERY count change (decrements
            # included): a pair whose count only ever decreased would
            # otherwise have no matching heap entry left and become
            # unreachable for later argmaxes
            for p in zip(syms, syms[1:]):
                pair_counts[p] -= cnt
                heapq.heappush(heap, (-pair_counts[p], p))
            for p in zip(new, new[1:]):
                pair_counts[p] += cnt
                where[p].add(idx)
                heapq.heappush(heap, (-pair_counts[p], p))
            vocab[idx] = (new, cnt)
        pair_counts.pop((a, b), None)
    freqs: dict[str, int] = defaultdict(int)
    for syms, cnt in vocab:
        for s in syms:
            freqs[s] += cnt
    return merges, sorted(freqs.items())


def _pair_counts_frame(work: DataFrame) -> DataFrame:
    """Aggregated adjacent-pair counts ``(p struct<a,b>, n)`` of the
    working symbol table — the shared per-round input of both
    selection rules."""
    return (
        work.select(
            F.explode(
                F.zip_with(
                    F.slice(col("syms"), 1, F.size("syms") - 1),
                    F.slice(col("syms"), 2, F.size("syms") - 1),
                    lambda a, b: F.struct(a.alias("a"), b.alias("b")),
                )
            ).alias("p"),
            "cnt",
        )
        .groupBy("p")
        .agg(F.sum("cnt").alias("n"))
    )


def _train_with_freqs(
    df: DataFrame,
    text_col: str,
    n_merges: int,
    min_count: int,
    driver_budget_words: int,
    driver_loop,
    select_best,
) -> tuple[list[tuple[str, str]], list[tuple[str, int]]]:
    """Shared training scaffold for the merge-based tokenizers (BPE and
    WordPiece differ ONLY in the per-round argmax): one corpus pass →
    persisted vocab-sized symbol table; driver-local loop when it fits
    the budget; else per-round ``select_best(work, min_count)`` +
    Arrow merge application; final piece frequencies from the last
    table (one vocabulary-sized aggregation — recomputing later would
    cost a full corpus pass plus re-applying every merge)."""
    from ..shipping import ensure_package_shipped

    ensure_package_shipped(df.sparkSession)
    work = _to_symbols(word_frequencies(df, text_col)).select("syms", "cnt").persist()
    merges: list[tuple[str, str]] = []
    try:
        n_words = work.count()  # also materializes the persist
        if n_words <= driver_budget_words:
            vocab = [(list(r["syms"]), int(r["cnt"])) for r in work.collect()]
            return driver_loop(vocab, n_merges, min_count)
        for _ in range(n_merges):
            pair = select_best(work, min_count)
            if pair is None:
                break
            a, b = pair
            merges.append((a, b))
            merged = _apply_one_merge(work, a, b).persist()
            merged.count()  # materialize before dropping the parent
            work.unpersist()
            work = merged
        freqs = sorted(
            (r["piece"], int(r["freq"]))
            for r in (
                work.select(F.explode("syms").alias("piece"), "cnt")
                .groupBy("piece")
                .agg(F.sum("cnt").alias("freq"))
                .collect()  # bounded: ≤ |alphabet| + |merges| + 1 pieces
            )
        )  # sorted by piece: same contract as the driver-local path
    finally:
        work.unpersist()
    return merges, freqs


def _bpe_best(work: DataFrame, min_count: int) -> tuple[str, str] | None:
    """Most-frequent pair, ties → lexicographic; None below min_count."""
    rows = (
        _pair_counts_frame(work)
        .orderBy(col("n").desc(), col("p.a"), col("p.b"))
        .limit(1)
        .collect()
    )
    if not rows or rows[0]["n"] < min_count:
        return None
    return rows[0]["p"]["a"], rows[0]["p"]["b"]


def bpe_train_with_freqs(
    df: DataFrame,
    text_col: str,
    n_merges: int = 10,
    min_count: int = 2,
    driver_budget_words: int = DRIVER_VOCAB_BUDGET,
) -> tuple[list[tuple[str, str]], list[tuple[str, int]]]:
    """Learn ``n_merges`` BPE merges (in application order; stops early
    when no pair reaches ``min_count``) and return them together with
    the final PIECE frequencies ``[(piece, freq)]`` (sorted by piece)
    derived from the last working symbol table before it is released —
    the vocabulary a tokenizer ships.

    The corpus is touched exactly ONCE either way. When the word-
    frequency table fits ``driver_budget_words`` (vocab-sized, so it
    usually does), the merge loop runs driver-local
    (:func:`_driver_merge_loop`) — identical results, no per-merge job
    scheduling; pass ``driver_budget_words=0`` to force the
    distributed loop."""
    return _train_with_freqs(
        df,
        text_col,
        n_merges,
        min_count,
        driver_budget_words,
        _driver_merge_loop,
        _bpe_best,
    )


# ---------------------------------------------------------------------------
# WordPiece-scored merge training (Schuster & Nakajima 2012; the BERT
# tokenizer's selection rule). Identical merge MECHANICS to BPE — the
# difference is purely WHICH pair merges each round: BPE takes the most
# FREQUENT pair; WordPiece takes the pair maximizing the unigram-LM
# likelihood gain  score(a,b) = count(ab) / (count(a) · count(b)),
# among pairs meeting min_count. The score convention in ALL THREE
# implementations is: exact integer product ca·cb, ONE correctly-
# rounded conversion to double, one IEEE divide — Python big-int →
# float here, DECIMAL(38,0) product → double in the distributed path
# (a plain BIGINT multiply would WRAP past 2^63), HUGEINT product →
# double in the DuckDB unroll. Ties → lexicographically smallest
# (a, b), so selection can never diverge across the three paths.


def _wp_score(n: int, ca: int, cb: int) -> float:
    """float(n) / float(ca·cb): the product is an exact Python int,
    converted to double with one correct rounding, then one IEEE
    divide — the convention the distributed path and the SQL twin
    reproduce. (Python's int/int true division would instead round
    once from the exact rational, which differs when the PRODUCT
    exceeds 2^53 — so the conversion is explicit.)"""
    return float(n) / float(ca * cb)


def _driver_wordpiece_loop(
    vocab: list[tuple[list[str], int]], n_merges: int, min_count: int
) -> tuple[list[tuple[str, str]], list[tuple[str, int]]]:
    """WordPiece merge loop over a collected word-frequency table.
    Keeps incremental pair counts AND symbol counts; the argmax is a
    linear scan per merge (every merge changes count(a)/count(b) for
    all pairs touching the merged symbols, so the BPE lazy heap does
    not apply)."""
    from collections import defaultdict

    pair_counts: dict[tuple[str, str], int] = defaultdict(int)
    sym_counts: dict[str, int] = defaultdict(int)
    where: dict[tuple[str, str], set[int]] = defaultdict(set)
    for idx, (syms, cnt) in enumerate(vocab):
        for s in syms:
            sym_counts[s] += cnt
        for p in zip(syms, syms[1:]):
            pair_counts[p] += cnt
            where[p].add(idx)
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        best_key = None
        best_pair = None
        for (a, b), n in pair_counts.items():
            if n < min_count:
                continue
            key = (-_wp_score(n, sym_counts[a], sym_counts[b]), a, b)
            if best_key is None or key < best_key:
                best_key, best_pair = key, (a, b)
        if best_pair is None:
            break
        a, b = best_pair
        merges.append((a, b))
        for idx in where.pop((a, b), ()):
            syms, cnt = vocab[idx]
            new = _merge_seq(syms, a, b)
            if new == syms:
                continue  # stale index entry
            for s in syms:
                sym_counts[s] -= cnt
            for p in zip(syms, syms[1:]):
                pair_counts[p] -= cnt
            for s in new:
                sym_counts[s] += cnt
            for p in zip(new, new[1:]):
                pair_counts[p] += cnt
                where[p].add(idx)
            vocab[idx] = (new, cnt)
        pair_counts.pop((a, b), None)
    freqs: dict[str, int] = defaultdict(int)
    for syms, cnt in vocab:
        for s in syms:
            freqs[s] += cnt
    return merges, sorted(freqs.items())


def _wordpiece_best(work: DataFrame, min_count: int) -> tuple[str, str] | None:
    """Highest-likelihood-gain pair among pairs ≥ min_count, ties →
    lexicographic; None when no pair qualifies. The count product runs
    in DECIMAL(38,0) — exact for any two BIGINT counts (< 2^126 <
    10^38) — then one cast to double: single rounding of the exact
    product, matching :func:`_wp_score` bit-for-bit where a plain
    BIGINT multiply would silently WRAP past 2^63 (Spark's non-ANSI
    multiply), i.e. exactly in the large-corpus regime this distributed
    path exists for."""
    pairs = _pair_counts_frame(work).filter(col("n") >= min_count)
    syms = (
        work.select(F.explode("syms").alias("sym"), "cnt")
        .groupBy("sym")
        .agg(F.sum("cnt").alias("c"))
    )
    prod = (
        col("ca").cast("decimal(38,0)") * col("cb").cast("decimal(38,0)")
    ).cast("double")
    rows = (
        pairs.join(
            syms.select(col("sym").alias("_a"), col("c").alias("ca")),
            col("p.a") == col("_a"),
        )
        .join(
            syms.select(col("sym").alias("_b"), col("c").alias("cb")),
            col("p.b") == col("_b"),
        )
        .select("p", (col("n").cast("double") / prod).alias("score"))
        .orderBy(col("score").desc(), col("p.a"), col("p.b"))
        .limit(1)
        .collect()
    )
    if not rows:
        return None
    return rows[0]["p"]["a"], rows[0]["p"]["b"]


def wordpiece_train_with_freqs(
    df: DataFrame,
    text_col: str,
    n_merges: int = 10,
    min_count: int = 2,
    driver_budget_words: int = DRIVER_VOCAB_BUDGET,
) -> tuple[list[tuple[str, str]], list[tuple[str, int]]]:
    """Learn ``n_merges`` WordPiece merges (+ final piece frequencies,
    sorted by piece). Same corpus-touched-ONCE / vocab-sized-iteration
    shape as BPE via the shared :func:`_train_with_freqs` scaffold —
    only the per-round argmax differs. The trained merge list feeds
    the SAME appliers (``bpe_apply``, ``bpe_encode_ids``) —
    application order is all that matters."""
    return _train_with_freqs(
        df,
        text_col,
        n_merges,
        min_count,
        driver_budget_words,
        _driver_wordpiece_loop,
        _wordpiece_best,
    )


def _apply_one_merge(work: DataFrame, a: str, b: str) -> DataFrame:
    """Replace every adjacent (a, b) in the symbol sequences with the
    merged symbol — one Arrow pass over the vocabulary table."""

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            pdf = pdf.copy()
            pdf["syms"] = [_merge_seq(list(s), a, b) for s in pdf["syms"]]
            yield pdf

    return work.mapInPandas(gen, schema="syms array<string>, cnt long")


def _merge_seq(syms: list[str], a: str, b: str) -> list[str]:
    out: list[str] = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _word_pieces(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Segment ONE word with the trained merges in training order —
    the single definition every consumer (vocab ranking, id encoding,
    piece application) shares, so segmentation can never drift between
    them (and hence between Spark and the oracles)."""
    syms = list(word) + [END]
    for a, b in merges:
        syms = _merge_seq(syms, a, b)
    return syms


def bpe_vocab_from_freqs(
    freqs: list[tuple[str, int]], top_v: int
) -> dict[str, int]:
    """Ranked vocabulary from final piece frequencies (as returned by
    :func:`bpe_train_with_freqs`): piece → id, where the ``top_v`` most
    frequent pieces (ties → lexicographic) get ids 1..V in rank order
    and everything else maps to 0 (UNK). Pure bounded driver fold."""
    ranked = sorted(freqs, key=lambda pf: (-pf[1], pf[0]))
    return {p: (i + 1 if i < top_v else 0) for i, (p, _) in enumerate(ranked)}


def bpe_encode_ids(
    df: DataFrame,
    text_col: str,
    merges: list[tuple[str, str]],
    vocab: dict[str, int],
    head: int = 32,
) -> DataFrame:
    """Encode each document to vocabulary ids (0 = UNK) with the
    trained merges — one shuffle-free Arrow pass; merges + vocab ride
    the closure (both bounded)."""
    from ..shipping import ensure_package_shipped

    ensure_package_shipped(df.sparkSession)
    frozen = list(merges)
    vmap = dict(vocab)

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            n_pieces, n_oov, heads = [], [], []
            for text in pdf[text_col]:
                ids: list[int] = []
                oov = 0
                for word in (text or "").lower().split(" "):
                    if not word:
                        continue
                    for s in _word_pieces(word, frozen):
                        pid = vmap.get(s, 0)
                        ids.append(pid)
                        if pid == 0:
                            oov += 1
                n_pieces.append(len(ids))
                n_oov.append(oov)
                heads.append(ids[:head])
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_pieces": n_pieces,
                    "n_oov": n_oov,
                    "id_head": heads,
                }
            )

    return df.select("doc_id", text_col).mapInPandas(
        gen, schema="doc_id long, n_pieces long, n_oov long, id_head array<int>"
    )


def bpe_apply(
    df: DataFrame, text_col: str, merges: list[tuple[str, str]]
) -> DataFrame:
    """Segment each document's tokens with the trained merges (applied
    in training order — the standard greedy BPE encoder); appends
    ``bpe_n_pieces`` and ``bpe_pieces`` (first 32, for inspection).
    Map-only Arrow pass; the merge list rides the closure."""
    from ..shipping import ensure_package_shipped

    ensure_package_shipped(df.sparkSession)
    frozen = list(merges)

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            counts, heads = [], []
            for text in pdf[text_col]:
                pieces: list[str] = []
                for word in (text or "").lower().split(" "):
                    if not word:
                        continue
                    pieces.extend(_word_pieces(word, frozen))
                counts.append(len(pieces))
                heads.append(pieces[:32])
            out = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "bpe_n_pieces": counts,
                    "bpe_pieces": heads,
                }
            )
            yield out

    return df.select("doc_id", text_col).mapInPandas(
        gen, schema="doc_id long, bpe_n_pieces long, bpe_pieces array<string>"
    )
