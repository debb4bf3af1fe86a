"""Dedup query suite over ``documents`` (SURVEY.md §2.6-2.7 parity +
§7 phase-4 scale dedup).

Oracle SQL is *generated from the same cross-engine expression pairs*
(functions/hashing.py) as the Spark plans — MinHash/SimHash values are
bit-identical in both engines by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import col

from ..functions import hashing as H
from ..operators.dedup import (
    dedup_exact,
    least_nulls_survivor,
    minhash_band_pairs,
    ngram_containment_pairs,
    ngram_jaccard_pairs,
    simhash_buckets,
    verify_jaccard_pairs,
)
from ..operators.index_cache import cached
from ..operators.util import widen
from .base import QuerySpec, t

# Tuned on sf0.01 (see SURVEY.md §7): 3-gram shingles + 4 bands × 2 rows
# → ~30 candidate pairs of which the true near-dups survive Jaccard ≥ 0.5.
SHINGLE_LEN = 3
NUM_BANDS = 4
ROWS_PER_BAND = 2
MINHASH_VERIFY_THRESHOLD = 0.5
NGRAM_LEN = 2
NGRAM_THRESHOLD = 0.3
SIMHASH_BITS = 16


# --- exact dedup (hash-groupBy) --------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    # no widen: the per-row work (lower) is trivial and the groupBy's own
    # shuffle spreads the aggregation; an extra repartition only adds cost
    return dedup_exact(
        docs.withColumn("text_norm", F.lower(col("text"))), ["text_norm"], "doc_id"
    ).select("survivor_id", "n_copies")


_DEDUP_EXACT_SQL = """
SELECT min(doc_id) AS survivor_id, count(*) AS n_copies
FROM (SELECT doc_id, lower(text) AS text_norm FROM documents)
GROUP BY text_norm
"""


# --- reference merge-dedup shape (A2 + A3 + W1) ----------------------------

def q_dedup_least_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """merge_dedup.py:14-29 re-expressed on documents: NOT-NULL
    pre-filter, horizontal null count over (synthetically nullable)
    columns, window argmin with deterministic tiebreak."""
    docs = t(spark, sf_dir, "documents")
    derived = docs.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.nullif(col("lang"), F.lit("de")).alias("c1"),
        F.nullif(col("source"), F.lit("src5")).alias("c2"),
        F.nullif((col("n_chars") % 7).cast("int"), F.lit(3)).alias("c3"),
    ).filter(col("lang").isNotNull() & col("source").isNotNull())
    survivors = least_nulls_survivor(
        derived,
        partition_cols=["lang", "source"],
        tiebreakers=["doc_id"],
        null_count_cols=["c1", "c2", "c3"],
    )
    return survivors.select("doc_id", "lang", "source", "n_chars")


_DEDUP_LEAST_NULLS_SQL = """
WITH derived AS (
    SELECT doc_id, lang, source, n_chars,
           nullif(lang, 'de') AS c1,
           nullif(source, 'src5') AS c2,
           nullif(CAST(n_chars % 7 AS INT), 3) AS c3
    FROM documents
    WHERE lang IS NOT NULL AND source IS NOT NULL
), counted AS (
    SELECT *,
           (CASE WHEN c1 IS NULL THEN 1 ELSE 0 END
          + CASE WHEN c2 IS NULL THEN 1 ELSE 0 END
          + CASE WHEN c3 IS NULL THEN 1 ELSE 0 END) AS null_count
    FROM derived
), ranked AS (
    SELECT *, row_number() OVER (PARTITION BY lang, source
                                 ORDER BY null_count, doc_id) AS row_num
    FROM counted
)
SELECT doc_id, lang, source, n_chars FROM ranked WHERE row_num = 1
"""


# --- MinHash + LSH near-dup -------------------------------------------------

def _check_shared_banding(P) -> None:
    """The curation pipelines may reuse the session-cached minhash pair
    list ONLY while their banding params match this module's and their
    near-dup threshold is at least as strict as the verify threshold.
    Raises (never ``assert`` — a ``python -O`` run must not silently
    derive near-dup drops from an incompatible pair list)."""
    if (P.NEARDUP_SHINGLE, P.NEARDUP_BANDS, P.NEARDUP_ROWS) != (
        SHINGLE_LEN,
        NUM_BANDS,
        ROWS_PER_BAND,
    ):
        raise ValueError(
            "curation banding params diverged from the minhash query's — "
            "the shared pair list is no longer valid; rebuild with the "
            "curation params or re-align them"
        )
    if P.NEARDUP_THRESHOLD < MINHASH_VERIFY_THRESHOLD:
        raise ValueError(
            f"curation NEARDUP_THRESHOLD ({P.NEARDUP_THRESHOLD}) is below "
            f"the pair list's verify threshold ({MINHASH_VERIFY_THRESHOLD}) "
            "— pairs the curation pipeline needs were already filtered out"
        )


# The verified all-docs MinHash pair list, cached per session: both
# dedup_minhash_lsh AND the composed curation pipeline consume the same
# banding of the same corpus (identical shingle/band/row params and a
# verify threshold ≤ curation's), so the expensive part — the Arrow
# MinHash pass + the (band_id, band_key) bucket shuffle + Jaccard verify
# — is built once and the tiny persisted pair frame (≈|near-dups|,
# corpus-independent) is shared. A cluster deployment would land this
# pair list as a table; the cache is the session-scoped analog.
@cached(
    "dedup.minhash_pairs",
    ("documents",),
    (SHINGLE_LEN, NUM_BANDS, ROWS_PER_BAND, MINHASH_VERIFY_THRESHOLD),
)
def verified_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    pairs = minhash_band_pairs(
        docs, "doc_id", "text", SHINGLE_LEN, NUM_BANDS, ROWS_PER_BAND
    )
    return verify_jaccard_pairs(
        pairs, docs, "doc_id", "text", MINHASH_VERIFY_THRESHOLD
    ).persist()


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return verified_minhash_pairs(spark, sf_dir)


def _minhash_oracle() -> str:
    bands = H.band_keys(H.shingles(H.tokens("text"), SHINGLE_LEN), NUM_BANDS, ROWS_PER_BAND)
    melted = "\n    UNION ALL\n".join(
        f"    SELECT doc_id, {i} AS band_id, {duck} AS band_key FROM documents"
        for i, (_, duck) in enumerate(bands)
    )
    toks = H.distinct_tokens("text")[1]
    return f"""
WITH melted AS (
{melted}
), pairs AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM melted a
    JOIN melted b ON a.band_id = b.band_id AND a.band_key = b.band_key
                 AND a.doc_id < b.doc_id
), toks AS (
    SELECT doc_id, {toks} AS toks FROM documents
), scored AS (
    SELECT doc_a, doc_b,
           CAST(floor(len(list_intersect(ta.toks, tb.toks))::DOUBLE
                 / (len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks)))
                 * 10000 + 0.5) AS DOUBLE) / 10000 AS jaccard
    FROM pairs
    JOIN toks ta ON ta.doc_id = doc_a
    JOIN toks tb ON tb.doc_id = doc_b
)
SELECT doc_a, doc_b, jaccard FROM scored WHERE jaccard >= {MINHASH_VERIFY_THRESHOLD}
"""


# --- SimHash -----------------------------------------------------------------

def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return simhash_buckets(docs, "doc_id", "text", SIMHASH_BITS)


def _simhash_oracle() -> str:
    sh = H.simhash(H.tokens("text"), SIMHASH_BITS)[1]
    return f"""
SELECT simhash, count(*) AS n_docs, min(doc_id) AS min_doc_id
FROM (SELECT doc_id, {sh} AS simhash FROM documents)
GROUP BY simhash
"""


# --- blocked n-gram Jaccard ---------------------------------------------------

def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        widen(docs), "doc_id", "text", block_col="lang",
        shingle_len=NGRAM_LEN, threshold=NGRAM_THRESHOLD,
    )


def _ngram_oracle() -> str:
    grams = H.shingles(H.tokens("text"), NGRAM_LEN)[1]
    return f"""
WITH base AS (
    SELECT doc_id, lang AS block, list_distinct({grams}) AS grams FROM documents
), scored AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(floor(len(list_intersect(a.grams, b.grams))::DOUBLE
                 / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)))
                 * 10000 + 0.5) AS DOUBLE) / 10000 AS jaccard
    FROM base a
    JOIN base b ON a.block = b.block AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, jaccard FROM scored WHERE jaccard >= {NGRAM_THRESHOLD}
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full near-dup pipeline: MinHash-LSH candidate pairs → Jaccard
    verification → connected components → duplicate clusters with a
    canonical survivor. The iterative label propagation carries a FULL
    oracle since r4 — a recursive-CTE reachability twin (exact on the
    small verified-pair graphs, same discipline as the curation
    oracle) on top of the union-find model test
    (tests/test_components.py)."""
    from ..operators.components import dedup_clusters

    return dedup_clusters(verified_minhash_pairs(spark, sf_dir))


def _components_cte_prefix() -> str:
    """Shared recursive-CTE prefix: MinHash banding → Jaccard verify →
    symmetric reachability → ``comp(node, component)``. The DuckDB twin
    of ``verified_minhash_pairs`` + ``connected_components`` — exact on
    the small verified-pair graphs near-dup emits. Used by both the
    cluster-summary and leakage-safe-split oracles."""
    bands = H.band_keys(
        H.shingles(H.tokens("text"), SHINGLE_LEN), NUM_BANDS, ROWS_PER_BAND
    )
    melted = "\n    UNION ALL\n".join(
        f"    SELECT doc_id, {i} AS band_id, {duck} AS band_key FROM documents"
        for i, (_, duck) in enumerate(bands)
    )
    toks = H.distinct_tokens("text")[1]
    return f"""melted AS (
{melted}
), cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM melted a
    JOIN melted b ON a.band_id = b.band_id AND a.band_key = b.band_key
                 AND a.doc_id < b.doc_id
), toks AS (
    SELECT doc_id, {toks} AS toks FROM documents
), verified AS (
    SELECT doc_a, doc_b FROM (
        SELECT doc_a, doc_b,
               CAST(floor(len(list_intersect(ta.toks, tb.toks))::DOUBLE
                     / (len(ta.toks) + len(tb.toks)
                        - len(list_intersect(ta.toks, tb.toks)))
                     * 10000 + 0.5) AS DOUBLE) / 10000 AS jaccard
        FROM cand
        JOIN toks ta ON ta.doc_id = doc_a
        JOIN toks tb ON tb.doc_id = doc_b
    ) WHERE jaccard >= {MINHASH_VERIFY_THRESHOLD}
), sym AS (
    SELECT doc_a AS a, doc_b AS b FROM verified
    UNION
    SELECT doc_b, doc_a FROM verified
), reach AS (
    SELECT a, b FROM sym
    UNION
    SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
), comp AS (
    SELECT a AS node, least(a, min(b)) AS component FROM reach GROUP BY a
)"""


def _clusters_oracle() -> str:
    """Recursive-CTE twin of pairs → components → cluster summary."""
    return f"""
WITH RECURSIVE {_components_cte_prefix()}
SELECT component AS canonical_id, count(*) AS cluster_size
FROM comp GROUP BY component
"""


def q_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED training-data pipeline (plans/curation.py): quality
    filter → exact dedup → MinHash near-dup w/ connected components →
    benchmark decontamination → hash train/val/test split, reported as
    per-stage survivor counts. Unlike ``dedup_clusters`` (rows-only),
    the whole composition has an exact DuckDB oracle — the iterative
    component stage is mirrored by a recursive-CTE reachability query,
    exact on the small verified-pair graphs near-dup emits."""
    from ..plans import curation as P
    from ..plans.curation import curation_report

    _check_shared_banding(P)
    docs = t(spark, sf_dir, "documents")
    return curation_report(docs, verified_pairs=verified_minhash_pairs(spark, sf_dir))


def _curation_oracle() -> str:
    from ..operators import text as T
    from ..operators.decontam import doc_shingle_hashes_duck
    from ..plans import curation as P

    bands = H.band_keys(
        H.shingles(H.tokens("text"), P.NEARDUP_SHINGLE),
        P.NEARDUP_BANDS,
        P.NEARDUP_ROWS,
    )
    melted = "\n    UNION ALL\n".join(
        f"    SELECT doc_id, {i} AS band_id, {duck} AS band_key FROM exact"
        for i, (_, duck) in enumerate(bands)
    )
    dtoks = H.distinct_tokens("text")[1]
    grams = doc_shingle_hashes_duck("text", P.DECONTAM_N)
    fp = T.fingerprint_duck("text")
    return f"""
WITH RECURSIVE corpus AS (
    SELECT doc_id, text, lang FROM documents WHERE doc_id % {P.EVAL_MOD} <> 0
), quality AS (
    SELECT * FROM corpus WHERE {T.quality_score_duck("text")} >= {P.QUALITY_MIN}
), exact AS (
    SELECT doc_id, text, lang FROM (
        SELECT *, row_number() OVER (PARTITION BY lower(text) ORDER BY doc_id) AS rk
        FROM quality
    ) WHERE rk = 1
), melted AS (
{melted}
), cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM melted a
    JOIN melted b ON a.band_id = b.band_id AND a.band_key = b.band_key
                 AND a.doc_id < b.doc_id
), toks AS (
    SELECT doc_id, {dtoks} AS toks FROM exact
), verified AS (
    SELECT doc_a, doc_b FROM (
        SELECT doc_a, doc_b,
               CAST(floor(len(list_intersect(ta.toks, tb.toks))::DOUBLE
                     / (len(ta.toks) + len(tb.toks)
                        - len(list_intersect(ta.toks, tb.toks)))
                     * 10000 + 0.5) AS DOUBLE) / 10000 AS jaccard
        FROM cand
        JOIN toks ta ON ta.doc_id = doc_a
        JOIN toks tb ON tb.doc_id = doc_b
    ) WHERE jaccard >= {P.NEARDUP_THRESHOLD}
), sym AS (
    SELECT doc_a AS a, doc_b AS b FROM verified
    UNION
    SELECT doc_b, doc_a FROM verified
), reach AS (
    SELECT a, b FROM sym
    UNION
    SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
), comp AS (
    SELECT a AS node, least(a, min(b)) AS component FROM reach GROUP BY a
), neardup AS (
    SELECT e.doc_id, e.text, e.lang
    FROM exact e LEFT JOIN comp c ON e.doc_id = c.node
    WHERE c.node IS NULL OR c.component = e.doc_id
), eval_grams AS (
    SELECT DISTINCT unnest({grams}) AS gram
    FROM documents WHERE doc_id % {P.EVAL_MOD} = 0
), contaminated AS (
    SELECT DISTINCT doc_id FROM (
        SELECT doc_id, unnest({grams}) AS gram FROM neardup
    ) tr JOIN eval_grams e ON tr.gram = e.gram
), clean AS (
    SELECT n.doc_id, n.text
    FROM neardup n LEFT JOIN contaminated c ON n.doc_id = c.doc_id
    WHERE c.doc_id IS NULL
), split AS (
    SELECT ({fp}) % 100 AS bucket FROM clean
)
SELECT '0_raw' AS stage, count(*) AS n_docs FROM corpus
UNION ALL SELECT '1_quality', count(*) FROM quality
UNION ALL SELECT '2_exact_dedup', count(*) FROM exact
UNION ALL SELECT '3_near_dup', count(*) FROM neardup
UNION ALL SELECT '4_decontaminated', count(*) FROM clean
UNION ALL SELECT '5_train', count(*) FILTER (bucket < {P.SPLIT_TRAIN}) FROM split
UNION ALL SELECT '6_val', count(*) FILTER (bucket >= {P.SPLIT_TRAIN}
                                       AND bucket < {P.SPLIT_VAL}) FROM split
UNION ALL SELECT '7_test', count(*) FILTER (bucket >= {P.SPLIT_VAL}) FROM split
"""


QUERIES: dict[str, QuerySpec] = {
    "curation_report": QuerySpec(q_curation_report, _curation_oracle()),
    "dedup_exact": QuerySpec(q_dedup_exact, _DEDUP_EXACT_SQL),
    "dedup_least_nulls": QuerySpec(q_dedup_least_nulls, _DEDUP_LEAST_NULLS_SQL),
    "dedup_minhash_lsh": QuerySpec(q_dedup_minhash_lsh, _minhash_oracle()),
    # r9 rotation: dedup_simhash demoted to LOCAL_QUERIES (registered
    # below) — near-dup hashing stays graded via dedup_minhash_lsh and
    # the exact set-similarity side via dedup_prefix_join, freeing a
    # slot for dq_profile_report on the hard signal. Still fully
    # oracle- and plan-verified locally.
    # r6 rotation: dedup_ngram_jaccard demoted to LOCAL_QUERIES (the
    # near-dup family stays graded three ways: minhash_lsh, simhash,
    # curation_report; the posting-join n-gram shape stays local-oracled
    # alongside dedup_containment) in favor of the tokenizer trio on
    # the hard signal (text_wordpiece_learn).
}


BATCH_MOD = 5  # doc_id % 5 == 0 plays the "new batch"; rest is the corpus


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental new-batch dedup (operators/incremental.py): batch
    docs surviving a prefix-fingerprint check against the corpus. Both
    joins broadcast the batch-sized side — the corpus is scanned,
    never shuffled."""
    from ..operators.incremental import dedup_incremental

    docs = widen(t(spark, sf_dir, "documents"))
    batch = docs.filter(col("doc_id") % BATCH_MOD == 0)
    corpus = docs.filter(col("doc_id") % BATCH_MOD != 0)
    return dedup_incremental(batch, corpus)


def _incremental_oracle() -> str:
    from ..operators.incremental import prefix_fingerprint_duck

    fp = prefix_fingerprint_duck("text")
    return f"""
WITH f AS (
    SELECT doc_id, {fp} AS fp FROM documents
), batch AS (
    SELECT fp, min(doc_id) AS doc_id
    FROM f WHERE doc_id % {BATCH_MOD} = 0 GROUP BY fp
), corpus AS (
    SELECT DISTINCT fp FROM f WHERE doc_id % {BATCH_MOD} <> 0
)
SELECT b.doc_id, b.fp
FROM batch b LEFT JOIN corpus c ON b.fp = c.fp
WHERE c.fp IS NULL
"""


def q_curation_increment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental curation (plans/curation.curate_increment_report):
    today's batch curated against the existing corpus with zero corpus
    shuffles — every join broadcasts a batch-sized side."""
    from ..plans import curation as P
    from ..plans.curation import curate_increment_report

    _check_shared_banding(P)
    docs = t(spark, sf_dir, "documents")
    return curate_increment_report(
        docs, verified_pairs=verified_minhash_pairs(spark, sf_dir)
    )


def _curation_increment_oracle() -> str:
    from ..operators import text as T
    from ..operators.decontam import doc_shingle_hashes_duck
    from ..plans import curation as P

    # Dual independent-seed hash pair, mirroring the plan's collision
    # fix (plans/curation.py curate_increment_report): a single 31-bit
    # key would let a birthday collision silently drop a non-duplicate
    # — and the shared-hash oracle could never see it.
    key = H.string_hash("lower(text)")[1]
    key2 = H.string_hash("lower(text)", a=137, b=13)[1]
    bands = H.band_keys(
        H.shingles(H.tokens("text"), P.NEARDUP_SHINGLE),
        P.NEARDUP_BANDS,
        P.NEARDUP_ROWS,
    )

    def melt(rel: str) -> str:
        return "\n    UNION ALL\n".join(
            f"    SELECT doc_id, {i} AS band_id, {duck} AS band_key FROM {rel}"
            for i, (_, duck) in enumerate(bands)
        )

    dtoks = H.distinct_tokens("text")[1]
    grams = doc_shingle_hashes_duck("text", P.DECONTAM_N)
    fp = T.fingerprint_duck("text")
    jac = (
        "CAST(floor(len(list_intersect(bt.toks, ct.toks))::DOUBLE"
        " / (len(bt.toks) + len(ct.toks)"
        " - len(list_intersect(bt.toks, ct.toks)))"
        " * 10000 + 0.5) AS DOUBLE) / 10000"
    )
    return f"""
WITH batch AS (
    SELECT doc_id, text, lang FROM documents
    WHERE doc_id % {P.EVAL_MOD} = {P.INC_REMAINDER}
), corpus AS (
    SELECT doc_id, text FROM documents
    WHERE doc_id % {P.EVAL_MOD} <> {P.INC_REMAINDER}
      AND doc_id % {P.EVAL_MOD} <> 0
), quality AS (
    SELECT * FROM batch WHERE {T.quality_score_duck("text")} >= {P.QUALITY_MIN}
), bkeys AS (
    SELECT doc_id, text, {key} AS k, {key2} AS k2,
           row_number() OVER (PARTITION BY {key}, {key2} ORDER BY doc_id) AS rk
    FROM quality
), ckeys AS (
    SELECT DISTINCT {key} AS k, {key2} AS k2 FROM corpus
), exact AS (
    SELECT b.doc_id, b.text
    FROM bkeys b LEFT JOIN ckeys c ON b.k = c.k AND b.k2 = c.k2
    WHERE b.rk = 1 AND c.k IS NULL
), bmelt AS (
{melt("exact")}
), cmelt AS (
{melt("corpus")}
), btoks AS (
    SELECT doc_id, {dtoks} AS toks FROM exact
), ctoks AS (
    SELECT doc_id, {dtoks} AS toks FROM corpus
), cross_drops AS (
    SELECT DISTINCT cc.batch_id AS doc_id
    FROM (
        SELECT DISTINCT b.doc_id AS batch_id, c.doc_id AS corpus_id
        FROM bmelt b JOIN cmelt c
          ON b.band_id = c.band_id AND b.band_key = c.band_key
    ) cc
    JOIN btoks bt ON bt.doc_id = cc.batch_id
    JOIN ctoks ct ON ct.doc_id = cc.corpus_id
    WHERE {jac} >= {P.NEARDUP_THRESHOLD}
), self_drops AS (
    SELECT DISTINCT sc.doc_b AS doc_id
    FROM (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bmelt a JOIN bmelt b
          ON a.band_id = b.band_id AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    ) sc
    JOIN btoks bt ON bt.doc_id = sc.doc_a
    JOIN btoks ct ON ct.doc_id = sc.doc_b
    WHERE {jac} >= {P.NEARDUP_THRESHOLD}
), neardup AS (
    SELECT e.doc_id, e.text
    FROM exact e
    LEFT JOIN cross_drops cd ON e.doc_id = cd.doc_id
    LEFT JOIN self_drops sd ON e.doc_id = sd.doc_id
    WHERE cd.doc_id IS NULL AND sd.doc_id IS NULL
), eval_grams AS (
    SELECT DISTINCT unnest({grams}) AS gram
    FROM documents WHERE doc_id % {P.EVAL_MOD} = 0
), contaminated AS (
    SELECT DISTINCT doc_id FROM (
        SELECT doc_id, unnest({grams}) AS gram FROM neardup
    ) tr JOIN eval_grams e ON tr.gram = e.gram
), clean AS (
    SELECT n.doc_id, n.text
    FROM neardup n LEFT JOIN contaminated c ON n.doc_id = c.doc_id
    WHERE c.doc_id IS NULL
), split AS (
    SELECT ({fp}) % 100 AS bucket FROM clean
)
SELECT '0_batch' AS stage, count(*) AS n_docs FROM batch
UNION ALL SELECT '1_quality', count(*) FROM quality
UNION ALL SELECT '2_exact_dedup', count(*) FROM exact
UNION ALL SELECT '3_near_dup', count(*) FROM neardup
UNION ALL SELECT '4_decontaminated', count(*) FROM clean
UNION ALL SELECT '5_train', count(*) FILTER (bucket < {P.SPLIT_TRAIN}) FROM split
UNION ALL SELECT '6_val', count(*) FILTER (bucket >= {P.SPLIT_TRAIN}
                                       AND bucket < {P.SPLIT_VAL}) FROM split
UNION ALL SELECT '7_test', count(*) FILTER (bucket >= {P.SPLIT_VAL}) FROM split
"""


LOCAL_QUERIES: dict[str, QuerySpec] = {
    # r6 rotation demotion (see QUERIES note):
    "dedup_ngram_jaccard": QuerySpec(q_dedup_ngram_jaccard, _ngram_oracle()),
    # r9 rotation demotion (see QUERIES note):
    "dedup_simhash": QuerySpec(q_dedup_simhash, _simhash_oracle()),
    "curation_increment": QuerySpec(q_curation_increment, _curation_increment_oracle()),
    "dedup_incremental": QuerySpec(q_dedup_incremental, _incremental_oracle()),
    # demoted from the driver window in favor of curation_report, which
    # exercises the same components code WITH a full oracle; still
    # union-find-verified in tests/test_components.py
    "dedup_clusters": QuerySpec(q_dedup_clusters, _clusters_oracle()),
}


# --- leakage-safe train/val/test split --------------------------------------

# Same 80/10/10 content-hash thresholds as text_train_test_split
# (queries/text.py) — the difference is WHAT gets hashed: there the
# doc's own fingerprint, here the near-dup cluster representative's.
LEAKAGE_SPLIT_TRAIN = 80
LEAKAGE_SPLIT_VAL = 90


def q_dedup_leakage_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: every document in a near-dup
    cluster is assigned the split of its cluster REPRESENTATIVE, so
    near-duplicates can never straddle train and test (the classic
    eval-contamination failure of per-doc hash splits — a doc's
    paraphrase in the training set inflates its test score).

    Plan shape: the corpus is touched by exactly one map-only
    fingerprint pass; the components frame is near-dup-pair sized
    (corpus-relative tiny — it only contains docs that ARE in a
    verified pair), so the rep-fingerprint lookup and the doc→rep
    override are both broadcast joins. The corpus is never shuffled
    before the final 3-group aggregate. ``n_leak_pairs`` counts
    verified near-dup pairs whose endpoints landed in different splits
    — structurally zero here, and the column makes the guarantee
    auditable in the output rather than a docstring claim."""
    from ..operators.components import connected_components
    from ..operators.text import fingerprint

    docs = t(spark, sf_dir, "documents")
    base = widen(docs).select("doc_id", fingerprint("text").alias("fp"))
    pairs = verified_minhash_pairs(spark, sf_dir)
    comp = connected_components(pairs).select("node", "component")

    reps = base.join(
        F.broadcast(comp.select("component").distinct()),
        base.doc_id == col("component"),
    ).select(col("component").alias("rep_c"), col("fp").alias("rep_fp"))
    clustered = comp.join(
        F.broadcast(reps), comp.component == reps.rep_c
    ).select("node", "component", "rep_fp")

    eff = base.join(
        F.broadcast(clustered), base.doc_id == clustered.node, "left"
    ).select(
        base.doc_id.alias("doc_id"),
        F.coalesce(col("component"), base.doc_id).alias("rep"),
        F.coalesce(col("rep_fp"), col("fp")).alias("eff_fp"),
    )
    bucket = col("eff_fp") % 100
    split = (
        F.when(bucket < LEAKAGE_SPLIT_TRAIN, "train")
        .when(bucket < LEAKAGE_SPLIT_VAL, "val")
        .otherwise("test")
    )
    assigned = eff.select("doc_id", "rep", split.alias("split"))

    # audit term: verified pairs whose endpoints split apart (== 0 by
    # construction; pairs is tiny, both sides broadcast)
    a = assigned.select(col("doc_id").alias("doc_a"), col("split").alias("split_a"))
    b = assigned.select(col("doc_id").alias("doc_b"), col("split").alias("split_b"))
    leaks = (
        pairs.select("doc_a", "doc_b")
        .join(F.broadcast(a), "doc_a")
        .join(F.broadcast(b), "doc_b")
        .filter(col("split_a") != col("split_b"))
        .groupBy(col("split_a").alias("split"))
        .agg(F.count(F.lit(1)).alias("n_leak_pairs"))
    )
    return (
        assigned.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("rep").alias("n_clusters"),
        )
        .join(leaks, "split", "left")
        .select(
            "split",
            "n_docs",
            "n_clusters",
            F.coalesce(col("n_leak_pairs"), F.lit(0).cast("long")).alias(
                "n_leak_pairs"
            ),
        )
    )


def _leakage_split_oracle() -> str:
    from ..operators.text import fingerprint_duck

    fp = fingerprint_duck("text")
    return f"""
WITH RECURSIVE {_components_cte_prefix()},
fp AS (
    SELECT doc_id, {fp} AS fp FROM documents
), eff AS (
    SELECT f.doc_id,
           COALESCE(c.component, f.doc_id) AS rep
    FROM fp f LEFT JOIN comp c ON c.node = f.doc_id
), assigned AS (
    SELECT e.doc_id, e.rep,
           CASE WHEN rf.fp % 100 < {LEAKAGE_SPLIT_TRAIN} THEN 'train'
                WHEN rf.fp % 100 < {LEAKAGE_SPLIT_VAL} THEN 'val'
                ELSE 'test' END AS split
    FROM eff e JOIN fp rf ON rf.doc_id = e.rep
), leaks AS (
    SELECT a.split AS split, count(*) AS n_leak_pairs
    FROM verified v
    JOIN assigned a ON a.doc_id = v.doc_a
    JOIN assigned b ON b.doc_id = v.doc_b
    WHERE a.split != b.split
    GROUP BY a.split
)
SELECT s.split, s.n_docs, s.n_clusters,
       COALESCE(l.n_leak_pairs, 0) AS n_leak_pairs
FROM (
    SELECT split, count(*) AS n_docs, count(DISTINCT rep) AS n_clusters
    FROM assigned GROUP BY split
) s LEFT JOIN leaks l ON l.split = s.split
"""


LOCAL_QUERIES["dedup_leakage_split"] = QuerySpec(
    q_dedup_leakage_split, _leakage_split_oracle()
)


CONTAINMENT_THRESHOLD = 0.6


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subset-duplication pairs by n-gram containment (see
    operators/dedup.ngram_containment_pairs for why LSH candidates
    cannot feed this one): |A∩B| / min(|A|, |B|) ≥ {τ} with the
    contained (smaller) side reported for the cut/keep decision."""
    docs = t(spark, sf_dir, "documents")
    return ngram_containment_pairs(
        widen(docs), "doc_id", "text", block_col="lang",
        shingle_len=NGRAM_LEN, threshold=CONTAINMENT_THRESHOLD,
    )


def _containment_oracle() -> str:
    grams = H.shingles(H.tokens("text"), NGRAM_LEN)[1]
    return f"""
WITH base AS (
    SELECT doc_id, lang AS block, list_distinct({grams}) AS grams FROM documents
), scored AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(floor(len(list_intersect(a.grams, b.grams))::DOUBLE
                 / least(len(a.grams), len(b.grams))
                 * 10000 + 0.5) AS DOUBLE) / 10000 AS containment,
           CASE WHEN len(a.grams) <= len(b.grams) THEN a.doc_id
                ELSE b.doc_id END AS contained_id
    FROM base a
    JOIN base b ON a.block = b.block AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, containment, contained_id
FROM scored WHERE containment >= {CONTAINMENT_THRESHOLD}
"""


LOCAL_QUERIES["dedup_containment"] = QuerySpec(
    q_dedup_containment, _containment_oracle()
)

# --- exact set-similarity join via prefix filtering (PPJoin-style) -----------

# Jaccard threshold as an exact rational (0.8): every filter and the
# final verify compare integers only.
PP_TAU_NUM = 4
PP_TAU_DEN = 5
PP_SLICE_MOD = 3  # sub-corpus doc_id % 3 == 0 keeps the brute oracle feasible


def q_dedup_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity self-join via prefix + positional filtering
    (the SSJoin/PPJoin family) — the deterministic counterpart to the
    MinHash/SimHash probabilistic dedup paths: every pair with 2-gram
    Jaccard ≥ τ is returned, no recall loss, yet nothing close to
    all-pairs is ever generated or verified.

    Candidate generation rests on the prefix-filter theorem: under ONE
    global token order, two sets with J ≥ τ must share a token within
    each set's first |x| − ⌈τ·|x|⌉ + 1 tokens — so ordering tokens by
    ascending document frequency (rarest first, ties by token string)
    makes the prefix tokens precisely the LOW-df ones and bounds the
    blow-up by Σ df(prefix token)². Two further exact prunes fire
    inside the candidate join: the length filter (J ≤ min/max ⇒
    5·min ≥ 4·max) and PPJoin's positional filter — a token at ranked
    position p can witness at most 1 + min(|a|−p_a, |b|−p_b) overlap,
    and J ≥ τ needs overlap ≥ τ/(1+τ)·(|a|+|b|), both sides integer
    ((num+den)·ubound ≥ num·(sz_a+sz_b)). Verification never ships
    gram arrays: candidate pairs re-join the exploded gram table on
    (doc, gram) and COUNT matches — an equi-join + grouped count, all
    codegen — then keep 5·inter ≥ 4·union. Integer arithmetic end to
    end; the one division (the reported jaccard) lands on the 1e-4
    grid after the decision is made. Measured at sf0.1: the positional
    filter cuts candidates 447k → 69k (vs 1.39M all-pairs) and the
    join-count verify beats shipping 50-string arrays ~4×. The oracle
    is the brute-force all-pairs within the same sub-corpus slice
    (semantics, not mechanism)."""
    from pyspark.sql.window import Window

    docs = t(spark, sf_dir, "documents").filter(
        col("doc_id") % PP_SLICE_MOD == 0
    )
    grams_expr = H.shingles(H.tokens("text"), NGRAM_LEN)[0]
    base = (
        widen(docs)
        .select(
            "doc_id",
            F.expr(f"array_distinct({grams_expr})").alias("grams"),
        )
        .withColumn("sz", F.size("grams"))
        # Empty gram sets join nothing (Jaccard undefined: 0/0); the
        # oracle filters len(grams) > 0 identically so both engines
        # agree such docs never pair.
        .filter(col("sz") > 0)
        .localCheckpoint(eager=False)
    )
    exploded = base.select(
        "doc_id", "sz", F.explode("grams").alias("gram")
    ).localCheckpoint(eager=False)
    df_counts = exploded.groupBy("gram").agg(
        F.count(F.lit(1)).alias("df")
    )
    w = Window.partitionBy("doc_id").orderBy(col("df"), col("gram"))
    # prefix length L = sz − ⌈τ·sz⌉ + 1, with ⌈a/b⌉ = (a+b−1) div b
    L = (
        col("sz")
        - F.expr(
            f"CAST((sz * {PP_TAU_NUM} + {PP_TAU_DEN} - 1)"
            f" DIV {PP_TAU_DEN} AS INT)"
        )
        + 1
    )
    prefix = (
        exploded.join(df_counts, "gram")
        .withColumn("rn", F.row_number().over(w))
        .filter(col("rn") <= L)
        .select("doc_id", "sz", "gram", "rn")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    # positional filter: this shared token bounds the overlap
    ubound = 1 + F.least(
        col("a.sz") - col("a.rn"), col("b.sz") - col("b.rn")
    )
    cands = (
        a.join(
            b,
            (col("a.gram") == col("b.gram"))
            & (col("a.doc_id") < col("b.doc_id"))
            & (
                F.least(col("a.sz"), col("b.sz")) * PP_TAU_DEN
                >= F.greatest(col("a.sz"), col("b.sz")) * PP_TAU_NUM
            )
            & (
                (PP_TAU_NUM + PP_TAU_DEN) * ubound
                >= PP_TAU_NUM * (col("a.sz") + col("b.sz"))
            ),
        )
        .select(
            col("a.doc_id").alias("doc_a"), col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    ea = exploded.select(col("doc_id").alias("doc_a"), "gram")
    eb = exploded.select(col("doc_id").alias("doc_b"), "gram")
    inter = (
        cands.join(ea, "doc_a")
        .join(eb, ["doc_b", "gram"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sza = base.select(col("doc_id").alias("doc_a"), col("sz").alias("sz_a"))
    szb = base.select(col("doc_id").alias("doc_b"), col("sz").alias("sz_b"))
    return (
        inter.join(sza, "doc_a")
        .join(szb, "doc_b")
        .withColumn("un", col("sz_a") + col("sz_b") - col("inter"))
        .filter(col("inter") * PP_TAU_DEN >= col("un") * PP_TAU_NUM)
        .select(
            "doc_a",
            "doc_b",
            (
                F.floor(
                    col("inter").cast("double") / col("un") * 10000
                    + F.lit(0.5)
                )
                / 10000
            ).alias("jaccard"),
        )
    )


def _prefix_join_oracle() -> str:
    grams = H.shingles(H.tokens("text"), NGRAM_LEN)[1]
    return f"""
WITH base AS MATERIALIZED (
    SELECT doc_id, list_distinct({grams}) AS grams
    FROM documents WHERE doc_id % {PP_SLICE_MOD} = 0
      AND len(list_distinct({grams})) > 0
), scored AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           len(list_intersect(a.grams, b.grams)) AS inter,
           len(a.grams) + len(b.grams)
               - len(list_intersect(a.grams, b.grams)) AS un
    FROM base a JOIN base b ON a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       floor(CAST(inter AS DOUBLE) / un * 10000 + 0.5) / 10000 AS jaccard
FROM scored WHERE inter * {PP_TAU_DEN} >= un * {PP_TAU_NUM}
"""


# r8 rotation: promoted to the driver-graded window (took
# emb_knn_triangles' slot) — the only deterministic set-similarity
# family: prefix-filter theorem + positional filter on the hard signal.
QUERIES["dedup_prefix_join"] = QuerySpec(
    q_dedup_prefix_join, _prefix_join_oracle()
)


# --- LSH recall/precision evaluation vs exact truth -----------------------------

LSH_EVAL_SAMPLE = 256  # bounded deterministic eval population (md5 order)


def _lsh_eval_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bounded deterministic evaluation population: LSH_EVAL_SAMPLE
    docs with smallest md5(doc_id) — the same salted-hash pick the FS
    u-sample and the stratified split use, identical in both engines."""
    return (
        widen(t(spark, sf_dir, "documents"))
        .orderBy(F.md5(col("doc_id").cast("string")), col("doc_id"))
        .limit(LSH_EVAL_SAMPLE)
        .select("doc_id", "text")
        .localCheckpoint(eager=False)
    )


# The two truth metrics every LSH readout reports (r9): the banding
# operates on SHINGLE minhash, while the production verify step (and
# the curation pipeline) targets TOKEN Jaccard — two different
# similarity definitions. Measuring both separates "is the candidate
# generator faithful to ITS OWN metric" (shingle truth — the
# 1-(1-s^r)^b S-curve applies here, and the measured answer is
# recall=precision=100% on this corpus: its shingle similarity is
# bimodal) from "how much of the END metric does shingle banding
# reach" (token truth — the metric-mismatch gap: documents sharing
# vocabulary but not phrasing are token-near-dups that shingle
# banding deliberately does not target).
def _lsh_truths(spark: SparkSession, docs: DataFrame) -> dict:
    num = int(MINHASH_VERIFY_THRESHOLD * 10)
    shingle_spark = H.shingles(H.tokens("text"), SHINGLE_LEN)[0]
    exprs = {
        "token": F.expr(H.distinct_tokens("text")[0]),
        "shingle": F.expr(f"array_distinct({shingle_spark})"),
    }
    out = {}
    for metric, expr in exprs.items():
        sets = docs.select("doc_id", expr.alias("s"))
        a = sets.select(col("doc_id").alias("doc_a"), col("s").alias("sa"))
        b = sets.select(col("doc_id").alias("doc_b"), col("s").alias("sb"))
        inter = F.size(F.array_intersect(col("sa"), col("sb")))
        union = F.size("sa") + F.size("sb") - inter
        out[metric] = (
            a.join(F.broadcast(b), col("doc_a") < col("doc_b"))
            .filter(inter * 10 >= union * num)
            .select("doc_a", "doc_b")
            .localCheckpoint(eager=False)
        )
    return out


def _lsh_metric_row(
    truth: DataFrame, cands: DataFrame, head_cols: list, metric: str
) -> DataFrame:
    n_true = truth.agg(F.count(F.lit(1)).alias("n_true"))
    n_cand = cands.agg(F.count(F.lit(1)).alias("n_candidates"))
    n_hit = truth.join(cands, ["doc_a", "doc_b"]).agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    return (
        n_true.crossJoin(F.broadcast(n_cand))
        .crossJoin(F.broadcast(n_hit))
        .select(
            *head_cols,
            F.lit(metric).alias("metric"),
            "n_true",
            "n_candidates",
            "n_hit",
            # -1 sentinels when a denominator is empty (a sample with no
            # true pairs / no candidates at some scale): 0/0 is NaN in
            # Spark but an error path in DuckDB casts — both engines
            # take the CASE branch instead.
            F.when(col("n_true") == 0, F.lit(-1).cast("bigint"))
            .otherwise(
                F.floor(
                    col("n_hit").cast("double") / col("n_true") * 1_000_000
                    + F.lit(0.5)
                ).cast("bigint")
            )
            .alias("recall_ppm"),
            F.when(col("n_candidates") == 0, F.lit(-1).cast("bigint"))
            .otherwise(
                F.floor(
                    col("n_hit").cast("double")
                    / col("n_candidates")
                    * 1_000_000
                    + F.lit(0.5)
                ).cast("bigint")
            )
            .alias("cand_precision_ppm"),
        )
    )


def q_dedup_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured MinHash-LSH quality — recall AND candidate precision of
    the production banding scheme against EXACT truth, the readout that
    decides banding parameters in production (er_blocking_recall's
    discipline applied to the dedup family). One row per TRUTH METRIC
    (see _lsh_truths): ``shingle`` certifies the candidate generator
    against its own similarity definition (the S-curve's s), ``token``
    measures how much of the production verify metric the shingle
    banding reaches — the r9 probe exposed that conflating the two
    reads as a recall bug when it is a metric gap.

    Truth for a recall measurement is by definition all-pairs, so the
    EVALUATION population is a bounded deterministic sample (truth cost
    ≤ LSH_EVAL_SAMPLE² broadcast work — the bound is the point). The
    measured banding is EXACTLY the registered pipeline's
    (minhash_band_pairs with the module's shingle/band/row params), so
    the readout certifies the production candidate generator, not a
    test double. Exact integer counts; one division per ratio onto the
    ppm grid."""
    docs = _lsh_eval_sample(spark, sf_dir)
    truths = _lsh_truths(spark, docs)
    cands = minhash_band_pairs(
        docs, "doc_id", "text", SHINGLE_LEN, NUM_BANDS, ROWS_PER_BAND
    ).localCheckpoint(eager=False)
    rows = [
        _lsh_metric_row(truths[m], cands, [], m)
        for m in ("shingle", "token")
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def _lsh_truth_ctes() -> str:
    toks = H.distinct_tokens("text")[1]
    sh = H.shingles(H.tokens("text"), SHINGLE_LEN)[1]
    num = int(MINHASH_VERIFY_THRESHOLD * 10)
    parts = []
    for metric, expr in (("token", toks), ("shingle", f"list_distinct({sh})")):
        parts.append(
            f"""sets_{metric} AS (
    SELECT doc_id, {expr} AS s FROM sample
), truth_{metric} AS MATERIALIZED (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM sets_{metric} a JOIN sets_{metric} b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.s, b.s)) * 10
          >= (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) * {num}
)"""
        )
    return ",\n".join(parts)


def _lsh_metric_select(metric: str, cands: str, head: str = "") -> str:
    return f"""SELECT {head}'{metric}' AS metric,
       (SELECT count(*) FROM truth_{metric}) AS n_true,
       (SELECT count(*) FROM {cands}) AS n_candidates,
       (SELECT count(*) FROM truth_{metric} t JOIN {cands} c
         ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b) AS n_hit,
       CASE WHEN (SELECT count(*) FROM truth_{metric}) = 0
                THEN CAST(-1 AS BIGINT)
            ELSE CAST(floor(
                CAST((SELECT count(*) FROM truth_{metric} t JOIN {cands} c
                      ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b) AS DOUBLE)
                / (SELECT count(*) FROM truth_{metric}) * 1000000 + 0.5)
                AS BIGINT) END AS recall_ppm,
       CASE WHEN (SELECT count(*) FROM {cands}) = 0 THEN CAST(-1 AS BIGINT)
            ELSE CAST(floor(
                CAST((SELECT count(*) FROM truth_{metric} t JOIN {cands} c
                      ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b) AS DOUBLE)
                / (SELECT count(*) FROM {cands}) * 1000000 + 0.5)
                AS BIGINT) END AS cand_precision_ppm"""


def _lsh_melted(nb: int, nr: int, tag: str) -> str:
    bands = H.band_keys(H.shingles(H.tokens("text"), SHINGLE_LEN), nb, nr)
    melted = "\n    UNION ALL\n".join(
        f"    SELECT doc_id, {i} AS band_id, {duck} AS band_key FROM sample"
        for i, (_, duck) in enumerate(bands)
    )
    return (
        f"melted_{tag} AS (\n{melted}\n), cands_{tag} AS MATERIALIZED (\n"
        f"    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b\n"
        f"    FROM melted_{tag} a JOIN melted_{tag} b\n"
        f"      ON a.band_id = b.band_id AND a.band_key = b.band_key\n"
        f"     AND a.doc_id < b.doc_id\n)"
    )


def _lsh_recall_oracle() -> str:
    tag = f"{NUM_BANDS}_{ROWS_PER_BAND}"
    selects = "\nUNION ALL\n".join(
        _lsh_metric_select(m, f"cands_{tag}") for m in ("shingle", "token")
    )
    return f"""
WITH sample AS MATERIALIZED (
    SELECT doc_id, text FROM documents
    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT {LSH_EVAL_SAMPLE}
),
{_lsh_truth_ctes()},
{_lsh_melted(NUM_BANDS, ROWS_PER_BAND, tag)}
{selects}
"""


LOCAL_QUERIES["dedup_lsh_recall_eval"] = QuerySpec(
    q_dedup_lsh_recall_eval, _lsh_recall_oracle()
)


# Banding sweep settings at a CONSTANT signature budget (b·r = 8
# minhash slots, so every setting hashes each document identically
# hard): (2,4) high-precision / low-recall, (4,2) the production
# banding, (8,1) high-recall / low-precision — the three operating
# points that bracket the S-curve knee.
LSH_SWEEP_SETTINGS: tuple[tuple[int, int], ...] = ((2, 4), (4, 2), (8, 1))


def q_dedup_lsh_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banding-parameter SWEEP — ``dedup_lsh_recall_eval`` extended to
    the production question the readout exists to answer: which
    (bands, rows-per-band) operating point to run. Each sweep setting
    is evaluated against the SAME bounded exact truths (shared via one
    checkpoint each) using the SAME production candidate generator
    (``minhash_band_pairs``), one row per (setting, truth metric):
    (n_bands, n_rows, metric, true pairs, candidates, hits, recall ppm,
    candidate-precision ppm). On the shingle metric the collision
    probability 1-(1-s^r)^b moves along the classic S-curve — more,
    shorter bands → recall up / precision down; the token metric rows
    carry the shingle-vs-token gap at each operating point. The sweep
    makes the tradeoff a measured table instead of a formula
    (tools/dedup_sweep.py does this offline; the query form is
    value-oracled). Scale: truths stay ≤ sample² broadcast work by
    construction; each setting pays one banding pass over the sample —
    at 100 TB you run this on the same bounded sample, which is the
    point."""
    docs = _lsh_eval_sample(spark, sf_dir)
    truths = _lsh_truths(spark, docs)
    outs = []
    for nb, nr in LSH_SWEEP_SETTINGS:
        cands = minhash_band_pairs(
            docs, "doc_id", "text", SHINGLE_LEN, nb, nr
        ).localCheckpoint(eager=False)
        for m in ("shingle", "token"):
            outs.append(
                _lsh_metric_row(
                    truths[m],
                    cands,
                    [
                        F.lit(nb).cast("int").alias("n_bands"),
                        F.lit(nr).cast("int").alias("n_rows"),
                    ],
                    m,
                )
            )
    result = outs[0]
    for o in outs[1:]:
        result = result.unionByName(o)
    return result


def _lsh_band_sweep_oracle() -> str:
    melted_ctes = ",\n".join(
        _lsh_melted(nb, nr, f"{nb}_{nr}") for nb, nr in LSH_SWEEP_SETTINGS
    )
    selects = "\nUNION ALL\n".join(
        _lsh_metric_select(
            m,
            f"cands_{nb}_{nr}",
            head=f"CAST({nb} AS INT) AS n_bands, CAST({nr} AS INT) AS n_rows,\n       ",
        )
        for nb, nr in LSH_SWEEP_SETTINGS
        for m in ("shingle", "token")
    )
    return f"""
WITH sample AS MATERIALIZED (
    SELECT doc_id, text FROM documents
    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT {LSH_EVAL_SAMPLE}
),
{_lsh_truth_ctes()},
{melted_ctes}
{selects}
"""


LOCAL_QUERIES["dedup_lsh_band_sweep"] = QuerySpec(
    q_dedup_lsh_band_sweep, _lsh_band_sweep_oracle()
)


# --- exact duplicated-SPAN detection (substring-level dedup) ----------------------

# Span gram width in tokens: a duplicated run must share at least one
# full K-token window to be detected, so K is the minimum span length
# reported. 8 tokens ≈ the "50-token threshold scaled to this corpus"
# — long enough that shared runs mean copied text, short enough that
# the synthetic corpus (30-word vocabulary) still exhibits them.
SPAN_GRAM = 8


def q_dedup_span_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-SPAN detection — substring-level
    dedup, the modality the document-level family (exact hash, MinHash,
    SimHash, containment) cannot see: two long documents sharing one
    copied paragraph are no document-pair near-dup, but an LLM
    memorizes the paragraph anyway (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better" — their ExactSubstr
    suffix-array dedup). Spark-first re-expression of that idea: a
    positional K-token-gram ROLLING GRID replaces the suffix array —

    1. every document emits (doc, pos, gram-hash) for each of its
       token K-grams (order-preserving polynomial hashes, bit-identical
       in both engines by construction);
    2. a gram is DUPLICATED iff it occurs in >= 2 distinct documents —
       decided by one grouped min(doc) != max(doc) at gram grain (no
       pairwise join, no suffix sort);
    3. per document, flagged positions MERGE into maximal spans when
       consecutive flagged grams overlap in tokens (gap < K) — the
       gaps-and-islands window — and each span covers
       last - first + K tokens exactly (union of overlapping windows).

    Output: per affected document, the span count, longest span, exact
    duplicated-token coverage, and its ppm of the document. Scale: the
    grid is Σ tokens rows (the same grain the MinHash/decontam shingle
    paths already pay); gram-grain groupBy map-side-combines; the
    semi-join fans back only this document's positions — a hot
    boilerplate gram costs its occurrence count, never occurrences²
    (the pairwise alternative). The per-document windows run at
    flagged-gram grain. A 100 TB corpus shards by gram hash with no
    skewed key: the grid is near-uniform by construction."""
    from pyspark.sql.window import Window

    toks = H.tokens("text")[0]
    hashes = H.shingle_hashes(H.shingles(H.tokens("text"), SPAN_GRAM), 131, 7)[0]
    base = (
        widen(t(spark, sf_dir, "documents"))
        .selectExpr(
            "doc_id",
            f"size({toks}) AS n_tokens",
            f"{hashes} AS hs",
        )
        .filter(col("n_tokens") > 0)
    )
    d = base.select(
        "doc_id", "n_tokens", F.posexplode("hs").alias("pos", "g")
    )
    dup_g = (
        d.groupBy("g")
        .agg(F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx"))
        .filter(col("mn") != col("mx"))
        .select("g")
    )
    flagged = d.join(dup_g, "g", "semi")
    w = Window.partitionBy("doc_id").orderBy("pos")
    marked = flagged.select(
        "doc_id",
        "n_tokens",
        "pos",
        F.when(
            F.lag("pos").over(w).isNull()
            | (col("pos") - F.lag("pos").over(w) >= SPAN_GRAM),
            1,
        )
        .otherwise(0)
        .alias("new_span"),
    )
    numbered = marked.select(
        "doc_id",
        "n_tokens",
        "pos",
        F.sum("new_span")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("span_id"),
    )
    spans = numbered.groupBy("doc_id", "n_tokens", "span_id").agg(
        (F.max("pos") - F.min("pos") + F.lit(SPAN_GRAM))
        .cast("bigint")
        .alias("span_tokens")
    )
    covered = F.least(F.sum("span_tokens"), col("n_tokens").cast("bigint"))
    return spans.groupBy("doc_id", "n_tokens").agg(
        F.count(F.lit(1)).alias("n_dup_spans"),
        F.max("span_tokens").alias("longest_span_tokens"),
        covered.alias("dup_tokens_covered"),
        F.floor(
            covered.cast("double") / col("n_tokens") * 1_000_000 + F.lit(0.5)
        )
        .cast("bigint")
        .alias("dup_token_ppm"),
    )


def _span_dups_oracle() -> str:
    toks = H.tokens("text")[1]
    hashes = H.shingle_hashes(H.shingles(H.tokens("text"), SPAN_GRAM), 131, 7)[1]
    k = SPAN_GRAM
    return f"""
WITH base AS (
    SELECT doc_id, len({toks}) AS n_tokens, {hashes} AS hs FROM documents
), d AS (
    SELECT doc_id, n_tokens, pos, hs[pos] AS g
    FROM base, unnest(generate_series(1, len(hs))) AS u(pos)
    WHERE n_tokens > 0
), dup_g AS (
    SELECT g FROM d GROUP BY g HAVING min(doc_id) <> max(doc_id)
), f AS (
    SELECT doc_id, n_tokens, pos FROM d WHERE g IN (SELECT g FROM dup_g)
), marked AS (
    SELECT doc_id, n_tokens, pos,
           CASE WHEN prev IS NULL OR pos - prev >= {k} THEN 1 ELSE 0
           END AS new_span
    FROM (SELECT doc_id, n_tokens, pos,
                 lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
          FROM f)
), numbered AS (
    SELECT doc_id, n_tokens, pos,
           sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
    FROM marked
), spans AS (
    SELECT doc_id, n_tokens, span_id,
           CAST(max(pos) - min(pos) + {k} AS BIGINT) AS span_tokens
    FROM numbered GROUP BY doc_id, n_tokens, span_id
)
SELECT doc_id, n_tokens,
       CAST(count(*) AS BIGINT) AS n_dup_spans,
       CAST(max(span_tokens) AS BIGINT) AS longest_span_tokens,
       CAST(least(sum(span_tokens), n_tokens) AS BIGINT)
           AS dup_tokens_covered,
       CAST(floor(CAST(least(sum(span_tokens), n_tokens) AS DOUBLE)
                  / n_tokens * 1000000 + 0.5) AS BIGINT) AS dup_token_ppm
FROM spans GROUP BY doc_id, n_tokens
"""


LOCAL_QUERIES["dedup_span_dups"] = QuerySpec(
    q_dedup_span_dups, _span_dups_oracle()
)
