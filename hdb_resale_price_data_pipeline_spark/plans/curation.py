"""End-to-end corpus curation: the composed training-data pipeline.

The individual operators (quality scoring, exact dedup, MinHash-LSH
near-dup + connected components, benchmark decontamination, hash split)
are each oracle-checked in isolation; this plan composes them in the
order a real pretraining-data pipeline runs them, with per-stage
accounting:

    raw corpus (eval holdout excluded)
      → quality filter              (score ≥ QUALITY_MIN)
      → exact dedup                 (min doc_id per normalized text)
      → near-dup removal            (MinHash bands → Jaccard ≥ 0.5 →
                                     connected components → keep the
                                     component's min id)
      → decontamination             (drop docs sharing ≥1 word 5-gram
                                     with the eval holdout)
      → train/val/test split        (content-hash mod 100: 80/10/10)

Scale shape (100 TB reading):
- Stages 1-2 are a scan + one window shuffle on the text key.
- Near-dup pairs come from the bucket-aggregated MinHash formulation
  (operators/dedup.py) — no all-pairs join; components iterate on the
  pair list only (tiny next to the corpus), O(diameter) rounds.
- The component→survivor map and the eval n-gram set are both corpus-
  independent small frames → broadcast joins; the corpus is never
  shuffled after stage 2.
- Split is a pure map. A real deployment would checkpoint the exact-
  survivor frame after stage 2 (every later stage consumes it); here the
  lineage is recomputed per count, which the one-action report tolerates.

Everything is oracle-expressible, including the iterative component
stage: the DuckDB twin computes reachability with a recursive CTE
(exact on the small verified-pair graphs near-dup produces), so the
whole composed pipeline is value-checked end to end — see
queries/dedup.py::curation_report.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import col
from pyspark.sql.window import Window

from ..functions import hashing as H
from ..operators import text as T
from ..operators.components import connected_components
from ..operators.dedup import (
    minhash_band_pairs,
    verify_jaccard_pairs,
    with_band_keys,
)

QUALITY_MIN = 0.4
EVAL_MOD = 10  # doc_id % 10 == 0 → eval holdout (same as text_decontaminate)
NEARDUP_SHINGLE = 3
NEARDUP_BANDS = 4
NEARDUP_ROWS = 2
NEARDUP_THRESHOLD = 0.5
DECONTAM_N = 5
SPLIT_TRAIN = 80  # fingerprint % 100 < 80 → train
SPLIT_VAL = 90  # < 90 → val, else test


def _grams() -> Column:
    """Distinct hashed word DECONTAM_N-grams, staged through the Arrow
    pass (``functions.arrow_text.distinct_gram_hashes_udf``) rather than
    the interpreted HOF expression (``decontam.doc_shingle_hashes``) —
    value-identical (tests/test_arrow_text.py) but ~10× cheaper per row:
    the decontam explode was the single most expensive stage of
    curation_report (3.3s of 7.1s at sf0.1) under the interpreted form.
    The DuckDB oracles keep using the expression spec
    (``doc_shingle_hashes_duck``), unchanged."""
    from ..functions.arrow_text import distinct_gram_hashes_udf
    from ..shipping import ensure_package_shipped

    active = SparkSession.getActiveSession()
    if active is not None:  # the UDF closure needs this package on workers
        ensure_package_shipped(active)
    return distinct_gram_hashes_udf(DECONTAM_N)(col("text"))


def eval_predicate() -> Column:
    return col("doc_id") % EVAL_MOD == 0


def curation_flags(
    docs: DataFrame, verified_pairs: DataFrame | None = None
) -> DataFrame:
    """One row per corpus doc with a boolean per pipeline stage — the
    lineage-accounting form of the pipeline. Unlike chaining one
    filtered frame per stage, every stage verdict lands in ONE frame,
    so the whole report needs one aggregation over one pass of the
    corpus scan (plus two corpus-independent SMALL side products — the
    near-dup loser set and the contaminated-id set — broadcast back).
    ``exact_pass`` ranks within (text key, quality_pass) so survivors
    are chosen among quality passers only, identical to filtering first.

    ``verified_pairs``: an optional PRE-VERIFIED MinHash pair list over
    the WHOLE documents table (doc_a, doc_b, jaccard — the exact output
    of ``dedup_minhash_lsh``, session-cached at the query layer).
    Band keys are per-document, so candidate collisions among the
    exact-dedup survivors are precisely the all-docs collisions whose
    BOTH endpoints survive — restricting the shared pair list (two
    broadcast semi-joins on a ≤2·|pairs| id set) is value-identical to
    re-banding the survivors, and skips the second Arrow MinHash pass +
    bucket shuffle when the same corpus was already banded this session.
    Requires the pair list's verify threshold ≤ NEARDUP_THRESHOLD and
    identical banding params (asserted at the caller)."""
    corpus = docs.filter(~eval_predicate()).select("doc_id", "text", "lang")
    w = Window.partitionBy(F.lower(col("text")), col("quality_pass")).orderBy(
        "doc_id"
    )
    # LAZY localCheckpoint right after the expensive prefix (scan +
    # interpreted quality HOFs + dedup window): THREE downstream
    # branches consume it — the near-dup pair probe, the decontam
    # probe, and the final flags/aggregation — and without the
    # checkpoint each re-executes the prefix (measured ~3× the corpus
    # cost at 80k docs). Blocks free on GC; a cluster deployment lands
    # this frame as a table (reliable checkpoint) instead.
    flagged = (
        corpus.withColumn("quality_pass", T.quality_score("text") >= QUALITY_MIN)
        .withColumn(
            "exact_pass", col("quality_pass") & (F.row_number().over(w) == 1)
        )
        .localCheckpoint(eager=False)
    )

    exact = flagged.filter(col("exact_pass")).select("doc_id", "text")
    if verified_pairs is None:
        pairs = minhash_band_pairs(
            exact, "doc_id", "text", NEARDUP_SHINGLE, NEARDUP_BANDS, NEARDUP_ROWS
        )
        verified = verify_jaccard_pairs(
            pairs, exact, "doc_id", "text", NEARDUP_THRESHOLD
        )
    else:
        # Restrict the shared all-docs pair list to surviving endpoints:
        # one corpus scan against the BROADCAST (tiny) endpoint-id set,
        # then two broadcast semi-joins on the (even tinier) pair list.
        pair_ids = (
            verified_pairs.select(col("doc_a").alias("doc_id"))
            .unionByName(verified_pairs.select(col("doc_b").alias("doc_id")))
            .distinct()
        )
        surviving_ids = exact.select("doc_id").join(
            F.broadcast(pair_ids), "doc_id", "left_semi"
        )
        verified = (
            verified_pairs.filter(col("jaccard") >= NEARDUP_THRESHOLD)
            .join(
                F.broadcast(surviving_ids.withColumnRenamed("doc_id", "doc_a")),
                "doc_a",
                "left_semi",
            )
            .join(
                F.broadcast(surviving_ids.withColumnRenamed("doc_id", "doc_b")),
                "doc_b",
                "left_semi",
            )
        )
    # losers: every node whose component canonical is some other doc —
    # bounded by the number of near-duplicates, tiny next to the corpus
    losers = (
        connected_components(verified)
        .filter(col("component") != col("node"))
        .select(col("node").alias("doc_id"), F.lit(1).alias("_lose"))
    )
    flagged = flagged.join(F.broadcast(losers), "doc_id", "left").withColumn(
        "neardup_pass", col("exact_pass") & col("_lose").isNull()
    )

    eval_grams = (
        docs.filter(eval_predicate())
        .select(F.explode(_grams()).alias("gram"))
        .distinct()
    )
    contaminated = (
        flagged.filter(col("neardup_pass"))
        .select(
            "doc_id", F.explode(_grams()).alias("gram")
        )
        .join(F.broadcast(eval_grams), "gram", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("_dirty", F.lit(1))
    )
    bucket = T.fingerprint("text") % 100
    return (
        flagged.join(F.broadcast(contaminated), "doc_id", "left")
        .withColumn("clean_pass", col("neardup_pass") & col("_dirty").isNull())
        .withColumn(
            "split",
            F.when(~col("clean_pass"), F.lit(None).cast("string"))
            .when(bucket < SPLIT_TRAIN, "train")
            .when(bucket < SPLIT_VAL, "val")
            .otherwise("test"),
        )
        .drop("_lose", "_dirty")
    )


INC_REMAINDER = 1  # doc_id % EVAL_MOD == 1 → today's increment batch


def increment_predicate() -> Column:
    return col("doc_id") % EVAL_MOD == INC_REMAINDER


def curate_increment_report(
    docs: DataFrame, verified_pairs: DataFrame | None = None
) -> DataFrame:
    """Incremental curation: today's batch curated AGAINST the existing
    corpus — the daily shape of a crawl pipeline, where re-running
    global curation is O(corpus) but the increment plan is O(batch)
    plus corpus *scans* (never corpus shuffles):

      batch (doc_id % 10 == 1)
        → quality filter
        → exact-new: drop batch docs whose text-hash collides with the
          corpus (batch keys BROADCAST into a semi-join against the
          corpus scan) or with a smaller-id batch doc
        → near-dup-new: batch LSH band keys broadcast against the
          corpus's banding scan → candidate (batch, corpus) pairs →
          exact Jaccard verify; batch-internal near-dups drop the
          larger id (no component pass — an increment drops on ANY
          match, chains don't matter)
        → decontamination vs the eval holdout's n-grams (broadcast)
        → train/val/test hash split

    Corpus cost: three scans (exact keys, band keys, candidate token
    arrays), zero shuffles — every join broadcasts a batch-sized side.
    Same per-stage report shape as ``curation_report``.

    ``verified_pairs``: the optional session-cached all-docs MinHash
    pair list (see ``curation_flags``). Batch/corpus/eval membership is
    pure doc_id arithmetic, so BOTH near-dup stages fall out of the
    shared list by endpoint classification: cross drops = pairs with
    one exact-surviving batch endpoint and one corpus endpoint; self
    drops = pairs with two exact-surviving batch endpoints (larger id
    drops). Value-identical to re-banding (band keys are per-doc), and
    the warm-session increment touches the corpus ONLY for the exact-key
    scan — the near-dup corpus scans disappear entirely."""
    eval_docs = docs.filter(eval_predicate())
    batch = docs.filter(increment_predicate()).select("doc_id", "text", "lang")
    corpus = docs.filter(~increment_predicate() & ~eval_predicate()).select(
        "doc_id", "text"
    )

    # Exact-dedup key: a PAIR of independent-seed polynomial hashes of
    # lower(text). One 31-bit hash alone makes birthday collisions (and
    # therefore silent false drops) expected around ~50-65k distinct
    # keys — guaranteed at the 100 TB framing; requiring BOTH hashes to
    # collide pushes that to ~2⁻⁶², while the broadcast side stays two
    # BIGINTs per doc instead of the full text (the full-corpus pipeline
    # ``curation_flags`` groups on lower(text) itself — it owns the
    # shuffle anyway — so the two pipelines now agree on which docs are
    # exact dups up to a 2⁻⁶² event).
    key1 = F.expr(H.string_hash("lower(text)")[0])
    key2 = F.expr(H.string_hash("lower(text)", a=137, b=13)[0])
    w = Window.partitionBy(key1, key2, col("quality_pass")).orderBy("doc_id")
    flagged = batch.withColumn(
        "quality_pass", T.quality_score("text") >= QUALITY_MIN
    ).withColumn(
        "_first_in_batch", F.row_number().over(w) == 1
    )
    batch_keys = flagged.select(key1.alias("k1"), key2.alias("k2")).distinct()
    corpus_hits = (
        corpus.select(key1.alias("k1"), key2.alias("k2"))
        .join(F.broadcast(batch_keys), ["k1", "k2"], "left_semi")
        .distinct()
        .withColumn("_corpus_dup", F.lit(1))
    )
    # checkpoint after the corpus_hits join: every downstream branch
    # (band/token/self-pair probes, decontam, final agg) would otherwise
    # re-execute the corpus key scan embedded in this broadcast
    flagged = (
        flagged.join(
            F.broadcast(corpus_hits),
            (key1 == col("k1")) & (key2 == col("k2")),
            "left",
        )
        .withColumn(
            "exact_pass",
            col("quality_pass")
            & col("_first_in_batch")
            & col("_corpus_dup").isNull(),
        )
        .drop("k1", "k2", "_first_in_batch", "_corpus_dup")
        .localCheckpoint(eager=False)
    )

    exact = flagged.filter(col("exact_pass")).select("doc_id", "text")
    if verified_pairs is None:
        batch_bands = with_band_keys(
            exact, "text", NEARDUP_SHINGLE, NEARDUP_BANDS, NEARDUP_ROWS, id_col="doc_id"
        )
        corpus_bands = with_band_keys(
            corpus, "text", NEARDUP_SHINGLE, NEARDUP_BANDS, NEARDUP_ROWS, id_col="doc_id"
        )
        stack_args = ", ".join(f"{i}, band_{i}" for i in range(NEARDUP_BANDS))
        melt = f"stack({NEARDUP_BANDS}, {stack_args}) AS (band_id, band_key)"
        batch_melted = batch_bands.selectExpr("doc_id AS batch_id", melt)
        corpus_melted = corpus_bands.selectExpr("doc_id AS corpus_id", melt)
        cross_candidates = (
            corpus_melted.join(
                F.broadcast(batch_melted), ["band_id", "band_key"]
            )
            .select("batch_id", "corpus_id")
            .distinct()
        )
        toks = F.expr(H.distinct_tokens("text")[0])
        corpus_toks = corpus.select(col("doc_id").alias("corpus_id"), toks.alias("c_toks"))
        batch_toks = exact.select(col("doc_id").alias("batch_id"), toks.alias("b_toks"))
        inter = F.size(F.array_intersect(col("b_toks"), col("c_toks"))).cast("double")
        union = (
            (F.size(col("b_toks")) + F.size(col("c_toks"))).cast("double") - inter
        )
        cross_drops = (
            corpus_toks.join(F.broadcast(cross_candidates), "corpus_id")
            .join(F.broadcast(batch_toks), "batch_id")
            .filter(F.round(inter / union, 4) >= NEARDUP_THRESHOLD)
            .select(col("batch_id").alias("doc_id"))
            .distinct()
            .withColumn("_cross_dup", F.lit(1))
        )
        self_drops = (
            verify_jaccard_pairs(
                minhash_band_pairs(
                    exact, "doc_id", "text", NEARDUP_SHINGLE, NEARDUP_BANDS, NEARDUP_ROWS
                ),
                exact,
                "doc_id",
                "text",
                NEARDUP_THRESHOLD,
            )
            .select(col("doc_b").alias("doc_id"))  # doc_a < doc_b: larger id drops
            .distinct()
            .withColumn("_self_dup", F.lit(1))
        )
    else:
        # Endpoint classification over the shared pair list: membership
        # is doc_id arithmetic, so no text/banding work at all. The
        # batch endpoint must additionally be an exact survivor — same
        # broadcast-semi restriction discipline as curation_flags.
        vp = verified_pairs.filter(col("jaccard") >= NEARDUP_THRESHOLD)
        a_m, b_m = col("doc_a") % EVAL_MOD, col("doc_b") % EVAL_MOD

        def _is_corpus(m: Column) -> Column:
            return (m != 0) & (m != INC_REMAINDER)

        pair_batch_ids = (
            vp.filter(a_m == INC_REMAINDER).select(col("doc_a").alias("doc_id"))
            .unionByName(
                vp.filter(b_m == INC_REMAINDER).select(col("doc_b").alias("doc_id"))
            )
            .distinct()
        )
        surv = exact.select("doc_id").join(
            F.broadcast(pair_batch_ids), "doc_id", "left_semi"
        )
        cross_drops = (
            vp.withColumn(
                "bid",
                F.when((a_m == INC_REMAINDER) & _is_corpus(b_m), col("doc_a"))
                .when((b_m == INC_REMAINDER) & _is_corpus(a_m), col("doc_b")),
            )
            .filter(col("bid").isNotNull())
            .join(
                F.broadcast(surv.withColumnRenamed("doc_id", "bid")),
                "bid",
                "left_semi",
            )
            .select(col("bid").alias("doc_id"))
            .distinct()
            .withColumn("_cross_dup", F.lit(1))
        )
        self_drops = (
            vp.filter((a_m == INC_REMAINDER) & (b_m == INC_REMAINDER))
            .join(
                F.broadcast(surv.withColumnRenamed("doc_id", "doc_a")),
                "doc_a",
                "left_semi",
            )
            .join(
                F.broadcast(surv.withColumnRenamed("doc_id", "doc_b")),
                "doc_b",
                "left_semi",
            )
            .select(col("doc_b").alias("doc_id"))  # doc_a < doc_b: larger id drops
            .distinct()
            .withColumn("_self_dup", F.lit(1))
        )
    flagged = (
        flagged.join(F.broadcast(cross_drops), "doc_id", "left")
        .join(F.broadcast(self_drops), "doc_id", "left")
        .withColumn(
            "neardup_pass",
            col("exact_pass") & col("_cross_dup").isNull() & col("_self_dup").isNull(),
        )
        .drop("_cross_dup", "_self_dup")
    )

    eval_grams = (
        eval_docs.select(
            F.explode(_grams()).alias("gram")
        ).distinct()
    )
    contaminated = (
        flagged.filter(col("neardup_pass"))
        .select(
            "doc_id", F.explode(_grams()).alias("gram")
        )
        .join(F.broadcast(eval_grams), "gram", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("_dirty", F.lit(1))
    )
    bucket = T.fingerprint("text") % 100
    flags = (
        flagged.join(F.broadcast(contaminated), "doc_id", "left")
        .withColumn("clean_pass", col("neardup_pass") & col("_dirty").isNull())
        .withColumn(
            "split",
            F.when(~col("clean_pass"), F.lit(None).cast("string"))
            .when(bucket < SPLIT_TRAIN, "train")
            .when(bucket < SPLIT_VAL, "val")
            .otherwise("test"),
        )
        .drop("_dirty")
    )
    return _report_from_flags(flags, raw_stage="0_batch")


def _report_from_flags(flags: DataFrame, raw_stage: str = "0_raw") -> DataFrame:
    cnt = lambda c: F.count(F.when(c, 1))  # noqa: E731
    one = flags.agg(
        F.count(F.lit(1)).alias("n0"),
        cnt(col("quality_pass")).alias("n1"),
        cnt(col("exact_pass")).alias("n2"),
        cnt(col("neardup_pass")).alias("n3"),
        cnt(col("clean_pass")).alias("n4"),
        cnt(col("split") == "train").alias("n5"),
        cnt(col("split") == "val").alias("n6"),
        cnt(col("split") == "test").alias("n7"),
    )
    return one.selectExpr(
        f"""stack(8,
           '{raw_stage}', n0, '1_quality', n1, '2_exact_dedup', n2,
           '3_near_dup', n3, '4_decontaminated', n4,
           '5_train', n5, '6_val', n6, '7_test', n7) AS (stage, n_docs)"""
    )


def curation_report(
    docs: DataFrame, verified_pairs: DataFrame | None = None
) -> DataFrame:
    """Per-stage survivor counts — the acceptance artifact of a curation
    run. One conditional aggregation over the flags frame, unpivoted to
    (stage, n_docs). The expensive lineage prefix is checkpointed once
    inside ``curation_flags`` — see the comment there; ``verified_pairs``
    is the optional shared MinHash pair list (see ``curation_flags``)."""
    return _report_from_flags(curation_flags(docs, verified_pairs=verified_pairs))
