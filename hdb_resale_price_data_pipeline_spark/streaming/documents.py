"""Streaming corpus ingest: the documents table as a file-source
stream with a quality gate at the ingest boundary.

The continuous-ingest shape of a training-data pipeline: crawler
output lands as files in a directory; the stream scores each document
as it arrives (map-only — no watermark, no state) and routes it
keep/review/drop BEFORE it ever reaches the corpus, so downstream
dedup/decontamination work only on plausible documents. At 100 TB
the gate is embarrassingly parallel: every micro-batch is a
partition-parallel scan + codegen projection.

The documents arrive through ``streaming/events.table_stream``: the
landing dir is staged by ``operators/index_cache.stage_dir``, keyed on
the source file's fingerprint so regenerated testdata can never reuse
stale staging, and the declared schema is taken from the parquet
footer, never assumed.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import col

from ..operators import text as T
from ..operators.index_cache import frame_artifact


GATE_PREFIX_K = 2  # short prefix → real boilerplate-collision band


def _fp_bloom_broadcast(fps: DataFrame, fp_col: str):
    """Dense Bloom bitset over a fingerprint column, shipped as a
    ``SparkContext.broadcast`` numpy array. The collect is bounded by
    construction (≤ BLOOM_N_WORDS sparse words ≈ 128 KiB) regardless of
    corpus cardinality — the same fixed-memory shape as
    operators/decontam.bloom_contamination_report. NULL fingerprints
    (NULL-text corpus docs) are excluded up front: a NULL can never
    equal an arriving fingerprint (the r4 join semantics this gate
    replaced), and an un-filtered NULL would propagate into a
    (w=NULL, bits=NULL) bitset row and crash the build."""
    import numpy as np

    from ..operators.decontam import BLOOM_N_WORDS, bloom_bitset_words
    from ..operators.util import broadcast_value

    fps = fps.filter(col(fp_col).isNotNull())
    bloom = np.zeros(BLOOM_N_WORDS, dtype=np.int64)
    for row in bloom_bitset_words(fps, fp_col).collect():  # bounded ≤ N_WORDS
        bloom[row["w"]] = row["bits"]
    return broadcast_value(fps.sparkSession, bloom)


def _fp_bloom_probe_udf(bloom_bc):
    """Arrow-vectorized scalar-fingerprint Bloom probe (boolean),
    delegating to THE shared membership kernel
    (``operators/decontam.bloom_hits`` — one definition of the
    double-hash scheme for builder and every probe). A dense-numpy
    closure probe, NOT a map-typed column + HOF expression: Spark map
    ``element_at`` scans entries linearly and lambda HOFs run
    interpreted (~16× slower measured on the decontam probe at 16×).
    NULL fingerprints (NULL text) probe False."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    from ..operators.decontam import bloom_hits

    @pandas_udf("boolean")
    def probe(fps: pd.Series) -> pd.Series:
        null_mask = fps.isna().to_numpy()
        vals = fps.fillna(0).to_numpy(np.int64)  # fps < 2^31: exact
        return pd.Series(bloom_hits(vals, bloom_bc.value) & ~null_mask)

    return probe


def stream_dedup_gate(
    docs: DataFrame, corpus: DataFrame, cache_key: object = None
) -> DataFrame:
    """Stream-static dedup gate: every arriving document is checked
    against the EXISTING corpus — exact duplicate via the full-text
    fingerprint, boilerplate near-dup via the ``GATE_PREFIX_K``-token
    prefix fingerprint — and routed drop/review/ingest BEFORE landing.

    Scale shape (the round-4 version broadcast both corpus fingerprint
    SETS into every micro-batch — one BIGINT per corpus doc is 8–160 GB
    at 10⁹–10¹⁰ docs, over the broadcast limit; this version is fixed
    memory):

    1. Each corpus fingerprint set is distinct-reduced once into a
       **Bloom bitset** (fixed 128 KiB broadcast regardless of corpus
       size — the ``operators/decontam`` bitset) and probed in the
       stream as an Arrow map pass. A Bloom MISS is definitive (no
       false negatives): the document routes ``ingest`` with **zero
       corpus contact**.
    2. Only Bloom HITS (true dups + the tunable ~0.1% false-positive
       band) carry a non-NULL key into the **exact confirm joins**
       against the fingerprint sets, so routing stays bit-identical to
       the exhaustive batch twin — the oracle is unchanged. The static
       sides are NOT hinted broadcast: they are persisted
       fingerprint-index frames (at 100 TB a fp-bucketed index table,
       so the confirm join is bucket-local), and the rows probing them
       per batch are the Bloom-hit sliver, not the batch.

    Map-only plus two selective joins, no watermark, no state store —
    append emits every row, so the batch-twin oracle is exact.

    ``cache_key``: stable caller key to reuse the built static state —
    the two persisted fingerprint-index frames and the two bitset
    broadcasts — across gate constructions in one session; without it
    every construction pins a fresh pair of persisted frames until
    session exit. operators/index_cache keys the state on the session
    and ``corpus``' input files, so the caller key only names what the
    files cannot show — the filter selecting ``corpus`` from them (same
    contract as the decontam bitset cache).
    """
    from ..functions import hashing as H
    from ..operators.incremental import prefix_fingerprint
    from ..shipping import ensure_package_shipped

    ensure_package_shipped(docs.sparkSession)
    # NOT widened: the two fp folds are light enough that a per-batch
    # repartition of the full text column costs more than the extra
    # cores win (measured 2.2s → 3.7s at sf0.1); contrast the
    # classifier gate, whose 16-bucket feature HOFs dominate and where
    # widen() measured 10.8s → 2.4s.
    exact_fp = F.expr(H.string_hash("lower(text)")[0])
    prefix_fp = prefix_fingerprint("text", GATE_PREFIX_K)

    def build():
        # Persisted so micro-batches share one distinct-reduction
        # instead of re-aggregating the corpus per trigger (production:
        # a materialized fp-bucketed index table with its own
        # lifecycle). NULL fingerprints (NULL-text docs) are dropped:
        # they can never match an arriving doc.
        corpus_exact = (
            corpus.select(exact_fp.alias("c_fp"))
            .filter(col("c_fp").isNotNull())
            .distinct()
            .persist()
        )
        corpus_prefix = (
            corpus.select(prefix_fp.alias("c_pfp"))
            .filter(col("c_pfp").isNotNull())
            .distinct()
            .persist()
        )
        return (
            corpus_exact,
            corpus_prefix,
            _fp_bloom_broadcast(corpus_exact, "c_fp"),
            _fp_bloom_broadcast(corpus_prefix, "c_pfp"),
        )

    state = (
        build()
        if cache_key is None
        else frame_artifact(corpus, "streaming.dedup_gate", cache_key, build)
    )
    corpus_exact, corpus_prefix, exact_bc, prefix_bc = state
    exact_bloom = _fp_bloom_probe_udf(exact_bc)
    prefix_bloom = _fp_bloom_probe_udf(prefix_bc)
    scored = docs.select(
        "doc_id",
        "lang",
        exact_fp.alias("fp"),
        prefix_fp.alias("pfp"),
    ).select(
        "*",
        exact_bloom(col("fp")).alias("_bx"),
        prefix_bloom(col("pfp")).alias("_bp"),
    )
    # Bloom misses carry NULL join keys: they pass straight through the
    # left joins without probing the index.
    return (
        scored.join(
            corpus_exact, F.when(col("_bx"), col("fp")) == col("c_fp"), "left"
        )
        .join(
            corpus_prefix, F.when(col("_bp"), col("pfp")) == col("c_pfp"), "left"
        )
        .select(
            "doc_id",
            "lang",
            col("c_fp").isNotNull().cast("int").alias("is_exact_dup"),
            col("c_pfp").isNotNull().cast("int").alias("is_prefix_dup"),
            F.when(col("c_fp").isNotNull(), "drop_exact")
            .when(col("c_pfp").isNotNull(), "review_neardup")
            .otherwise("ingest")
            .alias("gate"),
        )
    )


def stream_classifier_gate(
    docs: DataFrame, w: list[float], keep_q: int, review_q: int
) -> DataFrame:
    """MODEL-BASED ingest gate: every arriving document is scored by
    the TRAINED logistic-regression quality classifier
    (operators/classifier.py — trained on the static corpus BEFORE the
    stream starts; the weights ride the scoring expression as
    literals, so the per-batch work is one codegen projection: no
    state store, no joins, no broadcast). The quantized probability
    routes keep/review/drop. This is the third ingest gate beside the
    heuristic quality gate and the dedup gate — the streaming twin of
    model-based selection, and trivially exact against the batch
    oracle because scoring is integer-quantized arithmetic."""
    from ..operators import classifier as CL
    from ..operators.util import widen

    # The hashed-feature expressions are higher-order functions —
    # interpreted, no codegen — and each file-source micro-batch
    # arrives as ONE partition (maxFilesPerTrigger=1), so unwidened
    # scoring runs single-core per trigger: measured 10.8s vs ~2s for
    # the whole sf0.1 stream. widen() inserts the same pre-UDF
    # round-robin the batch twin uses (a per-batch shuffle, legal in
    # append mode; on a cluster the landing files are already many).
    fx = CL.featurize(widen(docs), "text", F.lit(False))
    scored = CL.lr_score(fx, w).select("doc_id", "prob_q", "prob")
    return scored.select(
        "doc_id",
        "prob_q",
        "prob",
        F.when(col("prob_q") >= keep_q, "keep")
        .when(col("prob_q") >= review_q, "review")
        .otherwise("drop")
        .alias("gate"),
    )


def stream_quality_gate(docs: DataFrame) -> DataFrame:
    """Score + route each arriving document (map-only append stream):
    the quality band decides keep/review/drop at the ingest boundary.
    Deterministic per-document output — directly oracle-checkable
    against the batch twin."""
    # not widened: same measured trade as the dedup gate — the quality
    # HOFs are too light to pay for a per-batch text shuffle
    score = T.quality_score("text")
    return docs.select(
        "doc_id",
        "lang",
        score.alias("quality"),
        F.when(score >= 0.6, "keep")
        .when(score >= 0.4, "review")
        .otherwise("drop")
        .alias("gate"),
        T.lang_id("text").alias("lang_pred"),
    )
