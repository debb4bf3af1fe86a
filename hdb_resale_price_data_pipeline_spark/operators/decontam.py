"""Benchmark decontamination: flag training documents that share word
n-grams with an evaluation/benchmark set.

A training-data pipeline must remove (or at least flag) training
documents that overlap the benchmarks it will be evaluated on — the
standard method (GPT-3 appendix C, Dolma/RedPajama pipelines) is exact
word-n-gram collision between each train doc and the union of all eval
docs' n-grams.

Scale design (the part that matters at 100 TB):

- The eval side is ALWAYS small (benchmarks are thousands of docs, the
  corpus is billions), so the distinct eval n-gram set is collected into
  a **broadcast hash join** — no shuffle of the training corpus at all.
  The train side stays a single scan → explode → per-doc aggregation
  (one shuffle on ``doc_id``, partial-agg friendly).
- N-grams are carried as BIGINT polynomial hashes
  (``functions.hashing``), not strings: an 8-byte fixed-width join key
  instead of a ~40-byte string, and bit-identical in the DuckDB oracle.
- The shingle-hash staging column runs as the Arrow twin
  (``functions.arrow_text.distinct_gram_hashes_udf``) of the
  expression spec: Spark evaluates higher-order functions interpreted
  (no codegen), and the vectorized numpy fold is bit-identical
  (tests/test_arrow_text.py) at a fraction of the per-row cost — the
  same trade the MinHash/SimHash hot paths make.
- Per-doc shingle sets are deduplicated *before* the explode
  (``array_distinct``) so join multiplicity is exactly 0/1 per
  (doc, gram) and counts are set semantics, not bag.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import hashing as H
from .index_cache import frame_artifact


def doc_shingle_hashes(text_col: str, n: int, a: int = 131, b: int = 7) -> Column:
    """Distinct hashed word ``n``-grams of a text column (array<bigint>)."""
    expr, _ = H.shingle_hashes(H.shingles(H.tokens(text_col), n), a, b)
    return F.array_distinct(F.expr(expr))


def doc_shingle_hashes_duck(text_col: str, n: int, a: int = 131, b: int = 7) -> str:
    """DuckDB twin of :func:`doc_shingle_hashes`."""
    _, duck = H.shingle_hashes(H.shingles(H.tokens(text_col), n), a, b)
    return f"list_distinct({duck})"


def contamination_report(
    docs: DataFrame,
    eval_pred: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_hits: int = 1,
) -> DataFrame:
    """Per-training-document contamination stats vs the eval partition.

    ``eval_pred`` selects the benchmark rows out of ``docs`` (in a real
    deployment the eval set is its own small table; the predicate form
    also covers the common "holdout is a slice of the corpus" case).

    Returns one row per training doc that has at least one ``n``-gram:
    ``(id, n_shingles, n_contaminated, contamination_ratio,
    is_contaminated)``.
    """
    from ..functions.arrow_text import distinct_gram_hashes_udf
    from ..shipping import ensure_package_shipped

    ensure_package_shipped(docs.sparkSession)
    grams = F.explode(distinct_gram_hashes_udf(n)(F.col(text_col))).alias("gram")
    eval_grams = (
        docs.filter(eval_pred)
        .select(grams)
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    train = docs.filter(~eval_pred).select(F.col(id_col), grams)
    hit = F.coalesce(F.col("_hit"), F.lit(0))
    return (
        train.join(F.broadcast(eval_grams), "gram", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(hit).alias("n_contaminated"),
        )
        .select(
            id_col,
            "n_shingles",
            "n_contaminated",
            F.round(
                F.col("n_contaminated").cast("double") / F.col("n_shingles"), 4
            ).alias("contamination_ratio"),
            (F.col("n_contaminated") >= min_hits).cast("int").alias("is_contaminated"),
        )
    )


# ---------------------------------------------------------------------------
# Bloom-filter decontamination — the 100 TB variant of the report above.
#
# ``contamination_report`` broadcasts the exact eval n-gram SET, which works
# while benchmarks are thousands of docs. When the "eval" side is itself
# huge (a full held-out corpus, a web-scale blocklist: billions of grams),
# the exact set no longer fits an executor — the standard move (Dolma's
# bloom-filter deduper, CCNet) is a Bloom bitset: fixed memory regardless of
# cardinality, no false NEGATIVES (nothing contaminated slips through),
# and a bounded, tunable false-positive rate on flagged docs.
#
# Scale shape: the corpus probe is a MAP-ONLY pass — the bitset rides a
# 1-row broadcast as a map<word_idx, bits>, each gram tests K bit positions
# via codegen arithmetic, and the training corpus is never shuffled at all
# (the exact report shuffles once on doc_id; this one not even that).
# Construction cost is one aggregation over eval-gram bit positions — at
# most N_WORDS output rows. Both sides are pure integer arithmetic on the
# 31-bit polynomial gram hashes, so the DuckDB oracle reproduces the
# bitset (and therefore every false positive) bit-for-bit.
#
# Words carry 63 live bits, not 64: DuckDB rejects ``1::BIGINT << 63`` as
# overflow, and dodging the sign bit keeps the two engines' bit_or/AND
# semantics trivially identical.

BLOOM_WORD_BITS = 63
BLOOM_N_WORDS = 1 << 14  # 16Ki words ≈ 1.03M bits ≈ 128 KiB broadcast
BLOOM_M_BITS = BLOOM_WORD_BITS * BLOOM_N_WORDS
BLOOM_K = 3  # probes per gram (double hashing: h1 + j*h2 mod M)


def _pow2_array() -> Column:
    """array<long> literal [1, 2, 4, ...] for column-indexed shifts.
    Built fresh per call — 63 literals cost microseconds, and a cached
    module-global Column would couple to the first session's gateway."""
    return F.array(*[F.lit(1 << i).cast("long") for i in range(BLOOM_WORD_BITS)])


def bloom_bitset_words(eval_grams: DataFrame, gram_col: str = "gram") -> DataFrame:
    """Aggregate distinct eval gram hashes into sparse Bloom bitset
    words ``(w: long word_idx, bits: long)`` — at most ``BLOOM_N_WORDS``
    rows regardless of eval cardinality."""
    g = F.col(gram_col)
    h1 = g % BLOOM_M_BITS
    h2 = 1 + (g % (BLOOM_M_BITS - 1))
    positions = F.array(*[(h1 + F.lit(j) * h2) % BLOOM_M_BITS for j in range(BLOOM_K)])
    return (
        eval_grams.select(F.explode(positions).alias("pos"))
        .select(
            F.expr(f"pos div {BLOOM_WORD_BITS}").cast("long").alias("w"),
            F.element_at(
                _pow2_array(), (F.col("pos") % BLOOM_WORD_BITS + 1).cast("int")
            ).alias("bit"),
        )
        .groupBy("w")
        .agg(F.bit_or("bit").alias("bits"))
    )


def bloom_hits(vals: "np.ndarray", bloom: "np.ndarray") -> "np.ndarray":
    """THE dense-bitset membership kernel: bool array, True where all
    K probe bits of each value are set. Single definition shared by
    every probe (the per-gram decontam probe below, the scalar
    fingerprint probe in streaming/documents.py) — the double-hash
    scheme MUST match :func:`bloom_bitset_words` exactly or the
    no-false-negatives guarantee silently breaks, so it lives in one
    place."""
    h1 = vals % BLOOM_M_BITS
    h2 = 1 + (vals % (BLOOM_M_BITS - 1))
    ok = np.ones(len(vals), dtype=bool)
    for j in range(BLOOM_K):
        p = (h1 + j * h2) % BLOOM_M_BITS
        ok &= (bloom[p // BLOOM_WORD_BITS] >> (p % BLOOM_WORD_BITS)) & 1 == 1
    return ok


def _bloom_probe_udf(bloom_bc):
    """Arrow-vectorized probe: array<long> grams → count of grams whose
    K probe bits are all set in the dense bitset. ``bloom_bc`` is a
    ``SparkContext.broadcast`` of the word array — NOT a closure
    capture: a production bitset sized for billions of grams is
    hundreds of MB, and the broadcast machinery ships it once per
    executor (torrent, off the task path) where a closure would bloat
    every serialized task."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def probe(grams: pd.Series) -> pd.Series:
        bloom_np = bloom_bc.value
        # g is None for NULL-text rows (callers filter them out to match
        # the exact report's doc set, but the probe must not crash the
        # task if one slips through)
        lengths = np.fromiter(
            (0 if g is None else len(g) for g in grams), np.int64, len(grams)
        )
        total = int(lengths.sum())
        if total == 0:
            return pd.Series(np.zeros(len(grams), np.int64))
        flat = np.concatenate(
            [np.asarray(g, dtype=np.int64) for g in grams if g is not None and len(g)]
        )
        ok = bloom_hits(flat, bloom_np)
        csum = np.concatenate([[0], np.cumsum(ok.astype(np.int64))])
        ends = np.cumsum(lengths)
        starts = ends - lengths
        return pd.Series(csum[ends] - csum[starts])

    return probe


def bloom_contamination_report(
    docs: DataFrame,
    eval_pred: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_hits: int = 1,
    cache_key: object = None,
) -> DataFrame:
    """Per-training-document contamination flags vs a Bloom bitset of
    the eval partition's n-grams. Same output shape as
    :func:`contamination_report` (``n_flagged`` ≥ the exact
    ``n_contaminated`` — supersets by construction, never misses);
    the corpus side is one shuffle-free Arrow map pass. NULL-text rows
    are dropped on both sides, matching the exact report's doc set
    (its explode skips them).

    The sparse bitset words are collected to the driver (bounded:
    ≤ BLOOM_N_WORDS longs, 128 KiB — the same K-sized-collect
    discipline as the k-means codebooks) and shipped dense via a
    ``SparkContext.broadcast`` for O(1) word lookups; the map-typed
    column + expression probe alternative measured ~16× slower at the
    16× corpus because Spark map ``element_at`` scans entries linearly
    and lambda HOFs run interpreted. Pass a stable ``cache_key`` to
    reuse the built broadcast across calls in one session
    (operators/index_cache keys it on the session and ``docs``' input
    files, and folds in ``text_col`` and ``n``). CONTRACT:
    ``cache_key`` must uniquely determine ``eval_pred`` (a Column can't
    be hashed, so it can't be folded into the key) — two calls sharing
    a key but selecting different eval partitions would silently reuse
    the wrong bitset."""
    from ..functions.arrow_text import distinct_gram_hashes_udf
    from ..shipping import ensure_package_shipped
    from .util import broadcast_value

    ensure_package_shipped(docs.sparkSession)
    docs = docs.filter(F.col(text_col).isNotNull())
    gram_arr = distinct_gram_hashes_udf(n)(F.col(text_col))

    def build():
        eval_grams = (
            docs.filter(eval_pred)
            .select(F.explode(gram_arr).alias("gram"))
            .distinct()
        )
        bloom_np = np.zeros(BLOOM_N_WORDS, dtype=np.int64)
        for row in bloom_bitset_words(eval_grams).collect():  # bounded ≤ N_WORDS
            bloom_np[row["w"]] = row["bits"]
        return broadcast_value(docs.sparkSession, bloom_np)

    bc = (
        build()
        if cache_key is None
        else frame_artifact(docs, "decontam.bloom", (cache_key, text_col, n), build)
    )
    probe = _bloom_probe_udf(bc)
    train = docs.filter(~eval_pred).select(
        F.col(id_col),
        F.size(gram_arr).cast("long").alias("n_shingles"),
        probe(gram_arr).alias("n_flagged"),
    )
    return train.select(
        id_col,
        "n_shingles",
        "n_flagged",
        F.round(F.col("n_flagged").cast("double") / F.col("n_shingles"), 4).alias(
            "flagged_ratio"
        ),
        (F.col("n_flagged") >= min_hits).cast("int").alias("is_flagged"),
    )
