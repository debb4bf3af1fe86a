"""Similarity-search query suite over ``embeddings``."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast, col

from ..operators import similarity as S
from ..operators.index_cache import cached
from ..operators.util import local_frame, widen
from .base import QuerySpec, t

QUERY_VEC_ID = 0
TOP_K = 10
NEAR_DUP_COSINE = 0.35  # tuned on sf0.01 (~26 same-label pairs)
N_PLANES = 8


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k against the query vector (vec_id=0):
    the correctness baseline for ANN. One broadcast of a single row, one
    distributed map, one top-k (TakeOrderedAndProject — no full sort)."""
    emb = t(spark, sf_dir, "embeddings")
    dim = S.embedding_dim(emb)
    query = emb.filter(col("vec_id") == QUERY_VEC_ID).select(
        col("embedding").alias("q_emb")
    )
    return (
        widen(emb.filter(col("vec_id") != QUERY_VEC_ID))
        .crossJoin(broadcast(query))
        .select(
            "vec_id",
            "label",
            S.cosine_expr("embedding", "q_emb", dim=dim).alias("cosine"),
        )
        .orderBy(col("cosine").desc(), col("vec_id"))
        .limit(TOP_K)
    )


def _cosine_topk_oracle() -> str:
    cos = S.cosine("e.embedding", "q.qe")[1]
    return f"""
SELECT e.vec_id AS vec_id, e.label AS label, {cos} AS cosine
FROM embeddings e, (SELECT embedding AS qe FROM embeddings WHERE vec_id = {QUERY_VEC_ID}) q
WHERE e.vec_id != {QUERY_VEC_ID}
ORDER BY cosine DESC, vec_id
LIMIT {TOP_K}
"""


def q_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, label-blocked (the blocking key
    stands in for an ANN bucket: the quadratic term is bounded per
    block, never global).

    The pair cosine runs as an Arrow pandas_udf, NOT the dim-expanded
    chain: inside a BroadcastHashJoin consume method the chain cannot be
    codegen-split, overflows the 64KB method limit, and drops the stage
    to interpreted eval (observed: 4 janino failures per bench run).
    Rounding stays JVM-side for oracle-exact HALF_UP."""
    from ..shipping import ensure_package_shipped

    ensure_package_shipped(spark)
    emb = t(spark, sf_dir, "embeddings")
    base = widen(emb.select("vec_id", "label", "embedding"))
    a = base.alias("a")
    b = base.alias("b")
    pair_cos = S.pair_cosine_udf()
    return (
        a.join(b, (col("a.label") == col("b.label")) & (col("a.vec_id") < col("b.vec_id")))
        .select(
            col("a.vec_id").alias("vec_a"),
            col("b.vec_id").alias("vec_b"),
            col("a.label").alias("label"),
            F.round(pair_cos(col("a.embedding"), col("b.embedding")), 6).alias("cosine"),
        )
        .filter(col("cosine") >= NEAR_DUP_COSINE)
    )


def _near_dup_oracle() -> str:
    cos = S.cosine("a.embedding", "b.embedding")[1]
    return f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label, {cos} AS cosine
FROM embeddings a
JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE {cos} >= {NEAR_DUP_COSINE}
"""


# LSH index → (bucketed frame, dim). Like the IVF index below, an LSH
# index is BUILT ONCE (bucket id for every vector, persisted) and probed
# many times; steady-state queries only filter the persisted frame.
# Building also pays the one-time Catalyst cost of the ~planes×dim-term
# bucket expression — per probe that cost would dominate the (tiny)
# bucket scan.
@cached("similarity.lsh", ("embeddings",), N_PLANES)
def _lsh_index(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, int]:
    emb = t(spark, sf_dir, "embeddings")
    dim = S.embedding_dim(emb)
    bucketed = (
        widen(emb)
        .withColumn("bucket", S.hyperplane_bucket_expr("embedding", N_PLANES, dim))
        .persist()
    )
    return bucketed, dim


def q_ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucketing: the scale path for ANN. At 100 TB
    the bucket id becomes the shuffle/partition key; here we emit the
    bucket histogram."""
    bucketed, _ = _lsh_index(spark, sf_dir)
    return (
        bucketed.select("bucket", "vec_id")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vecs"), F.min("vec_id").alias("min_vec_id"))
    )


def _ann_buckets_oracle() -> str:
    bucket = S.hyperplane_bucket("embedding", N_PLANES)[1]
    return f"""
SELECT bucket, count(*) AS n_vecs, min(vec_id) AS min_vec_id
FROM (SELECT {bucket} AS bucket, vec_id FROM embeddings)
GROUP BY bucket
"""


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k: candidates restricted to the query's LSH bucket, exact
    cosine only within it (brute-force work ÷ 2^planes). Probes the
    cached persisted index (``_lsh_index``); steady state touches no
    source data and re-plans no bucket expression."""
    emb, dim = _lsh_index(spark, sf_dir)
    query = emb.filter(col("vec_id") == QUERY_VEC_ID).select(
        col("embedding").alias("q_emb"), col("bucket").alias("q_bucket")
    )
    return (
        emb.crossJoin(broadcast(query))
        .filter((col("bucket") == col("q_bucket")) & (col("vec_id") != QUERY_VEC_ID))
        .select("vec_id", "label", S.cosine_expr("embedding", "q_emb", dim=dim).alias("cosine"))
        .orderBy(col("cosine").desc(), col("vec_id"))
        .limit(TOP_K)
    )


def _ann_topk_oracle() -> str:
    bucket = S.hyperplane_bucket("embedding", N_PLANES)[1]
    cos = S.cosine("e.embedding", "q.qe")[1]
    return f"""
WITH bucketed AS (
    SELECT vec_id, label, embedding, {bucket} AS bucket FROM embeddings
)
SELECT e.vec_id AS vec_id, e.label AS label, {cos} AS cosine
FROM bucketed e,
     (SELECT embedding AS qe, bucket AS qb FROM bucketed WHERE vec_id = {QUERY_VEC_ID}) q
WHERE e.bucket = q.qb AND e.vec_id != {QUERY_VEC_ID}
ORDER BY cosine DESC, vec_id
LIMIT {TOP_K}
"""


def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid (long format): posexplode + group reduction —
    the distributed shape of k-means / embedding aggregation.

    The mean is a *sequential fold in vec_id order* (collect → sort →
    fold), not ``avg()``: parallel float summation is order-dependent, so
    a plain avg can differ from the single-threaded oracle in the last
    ulp. At real scale you'd accept avg()'s tolerance; for the oracle
    gate we pay one collect_list per (label, pos) group for bit-parity.
    """
    emb = t(spark, sf_dir, "embeddings")
    ordered_sum = F.expr(
        "aggregate(transform(array_sort(collect_list(struct(vec_id, v))), s -> s.v), "
        "cast(0.0 AS double), (acc, x) -> acc + x)"
    )
    return (
        emb.select(
            "label",
            "vec_id",
            F.posexplode(col("embedding").cast("array<double>")).alias("pos", "v"),
        )
        .groupBy("label", "pos")
        .agg(
            # + 0.0 collapses IEEE negative zero so both engines emit +0.0
            (F.round(ordered_sum / F.count(F.lit(1)), 3) + 0.0).alias("centroid_v"),
            F.count(F.lit(1)).alias("n_vecs"),
        )
    )


_LABEL_CENTROIDS_SQL = """
SELECT label, pos,
       round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list(v ORDER BY vec_id)), (acc, x) -> acc + x) / count(*), 3) + 0.0
           AS centroid_v,
       count(*) AS n_vecs
FROM (
    SELECT label, vec_id,
           generate_subscripts(embedding, 1) - 1 AS pos,
           unnest(CAST(embedding AS DOUBLE[])) AS v
    FROM embeddings
)
GROUP BY label, pos
"""


IVF_K = 8
IVF_NPROBE = 2

# IVF index → (codebook, persisted assignments). An IVF index is BUILT
# ONCE (codebook + inverted-list assignment of every vector) and probed
# many times — that build/probe split is the entire point of the
# structure. The persisted assignment frame is the inverted list;
# steady-state queries touch only it.
@cached("similarity.ivf", ("embeddings",), IVF_K)
def _ivf_index(spark: SparkSession, sf_dir: str) -> tuple[list, DataFrame]:
    from ..operators import ivf as I

    emb = t(spark, sf_dir, "embeddings")
    codebook = sorted(
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in emb.filter(col("vec_id") < IVF_K)
        .select("vec_id", "embedding")
        .collect()
    )
    assigned = I.assign_to_codebook(widen(emb), "embedding", codebook).persist()
    return codebook, assigned


def _probe_ids(codebook: list, q_vec: list[float], nprobe: int) -> list[int]:
    """The ``nprobe`` centroid ids nearest the query, by the affinity
    |c|² − 2⟨c, q⟩ with the exact sequential-fold IEEE op order of the
    oracle's ``duck_ivf_dist`` (ties → lowest cid)."""

    def _affinity(cent: list[float]) -> float:
        sq = 0.0
        for v in cent:
            sq = sq + v * v
        dot = 0.0
        for v, qv in zip(cent, q_vec):
            dot = dot + v * qv
        return sq - 2.0 * dot

    return [
        cid for cid, _ in sorted(codebook, key=lambda kv: (_affinity(kv[1]), kv[0]))
    ][:nprobe]


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-k (operators/ivf.py): the index (codebook + Arrow-
    vectorized nearest-centroid assignment of every vector, persisted as
    the inverted lists) is built once per (session, dataset) by
    ``_ivf_index``; each query then probes only its ``IVF_NPROBE``
    nearest lists with exact JVM-codegen cosine + TakeOrderedAndProject.

    Probe selection over the K collected centroids runs on the driver
    with the exact sequential-fold IEEE op order of the oracle's
    ``duck_ivf_dist`` (ties → lowest cid) — no extra Spark job. At scale
    the persisted assignment frame would be a bucketed/partitioned table
    keyed by ``ivf_cid`` so a probe prunes to 2/K of the data; locally
    the cached filter models the same pruning."""
    codebook, assigned = _ivf_index(spark, sf_dir)
    head = dict(codebook)
    q_vec = head[QUERY_VEC_ID]
    dim = len(q_vec)
    probe_ids = _probe_ids(codebook, q_vec, IVF_NPROBE)

    emb = t(spark, sf_dir, "embeddings")
    query = emb.filter(col("vec_id") == QUERY_VEC_ID).select(
        col("embedding").alias("q_emb")
    )
    return (
        assigned.filter(col("ivf_cid").isin(probe_ids) & (col("vec_id") != QUERY_VEC_ID))
        .crossJoin(broadcast(query))
        .select(
            "vec_id",
            "label",
            col("ivf_cid"),
            S.cosine_expr("embedding", "q_emb", dim=dim).alias("cosine"),
        )
        .orderBy(col("cosine").desc(), col("vec_id"))
        .limit(TOP_K)
    )


def _ivf_oracle() -> str:
    from ..operators.ivf import duck_ivf_dist

    cos = S.cosine("e.embedding", "q.qe")[1]
    return f"""
WITH cents AS (
    SELECT vec_id AS cid, embedding AS cent FROM embeddings WHERE vec_id < {IVF_K}
), q AS (
    SELECT embedding AS qe FROM embeddings WHERE vec_id = {QUERY_VEC_ID}
), probe AS (
    SELECT cid FROM (
        SELECT cid, row_number() OVER (ORDER BY {duck_ivf_dist("cent", "qe")}, cid) AS rn
        FROM cents, q
    ) WHERE rn <= {IVF_NPROBE}
), assigned AS (
    SELECT vec_id, label, embedding, cid AS ivf_cid FROM (
        SELECT e.vec_id, e.label, e.embedding, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {duck_ivf_dist("c.cent", "e.embedding")}, c.cid) AS rn
        FROM embeddings e, cents c
    ) WHERE rn = 1
)
SELECT e.vec_id AS vec_id, e.label AS label, e.ivf_cid AS ivf_cid, {cos} AS cosine
FROM assigned e, q
WHERE e.ivf_cid IN (SELECT cid FROM probe) AND e.vec_id != {QUERY_VEC_ID}
ORDER BY cosine DESC, vec_id
LIMIT {TOP_K}
"""


def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-codebook IVF: 3 Lloyd iterations (operators/kmeans.py)
    then cluster histogram. The iterative fit carries a FULL driver
    oracle (``_kmeans_oracle``) — the fixed iteration count unrolls as
    CTE layers; invariants additionally tested in tests/test_kmeans.py.
    The fit + assignment ride the shared ``_ivf_kmeans_index`` (same
    k, iterations, and assignment discipline as ``emb_ivf_kmeans_topk``
    / ``emb_semdedup`` / ``emb_ivfpq_topk``), so a warm session pays
    one cached-frame aggregation, and the expensive train happens once
    for the whole query family."""
    _, assigned = _ivf_kmeans_index(spark, sf_dir)
    return assigned.groupBy("ivf_cid").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.min("vec_id").alias("min_vec_id"),
    )


KMEANS_ITERS = 3


def _kmeans_oracle() -> str:
    """DuckDB twin of the deterministic Lloyd fit, the fixed iteration
    count unrolled as CTE layers (same discipline as ``_ivf_oracle``).

    Exactness argument: the emitted columns are all INTEGERS (cluster
    histogram), so the oracle only needs the final ASSIGNMENT to match,
    not the centroid bits. Assignments share the sequential-fold
    affinity ``|c|² − 2⟨c,e⟩`` (``duck_ivf_dist`` ↔
    ``ivf.assign_to_codebook``) with ties → lowest cid on both sides;
    the one tolerated divergence is centroid-mean accumulation order
    (numpy pairwise partial sums + (cid,pid)-ordered driver fold vs
    DuckDB ``avg``), which can only flip an argmin on a ≲1e-12 near-tie
    — measure-zero for continuous embeddings, and empirically exact at
    sf0.001/sf0.01/sf0.1 (tests/test_kmeans.py::test_kmeans_oracle_*).

    The early-convergence break in ``kmeans_fit`` needs no CTE analog:
    a converged codebook is a fixed point, so the extra unrolled layers
    reproduce it unchanged."""
    from ..operators.ivf import duck_ivf_dist

    final = (
        f"SELECT cid AS ivf_cid, count(*) AS n_vecs, min(vec_id) AS min_vec_id\n"
        f"FROM (\n"
        f"    SELECT e.vec_id, c.cid,\n"
        f"           row_number() OVER (PARTITION BY e.vec_id\n"
        f"              ORDER BY {duck_ivf_dist('c.cent', 'e.embedding')}, c.cid) AS rn\n"
        f"    FROM embeddings e, cents{KMEANS_ITERS} c\n"
        f") WHERE rn = 1\n"
        f"GROUP BY cid"
    )
    return _kmeans_cents_cte() + "\n" + final


def _lloyd_cte_defs(
    src: str, emb_sql: str, k: int, iters: int, prefix: str
) -> str:
    """Comma-joined CTE definitions ``{prefix}0 .. {prefix}{iters}``
    unrolling a deterministic ``kmeans_fit(src.emb_sql, k, iters)``:
    init = the first ``k`` vec_ids' vectors (cid = vec_id), assignment
    via the sequential-fold affinity (``duck_ivf_dist``) with ties →
    lowest cid, empty clusters keep their previous centroid. The
    generalization lets one oracle unroll MANY fits (PQ trains one per
    subspace over a sliced embedding expression)."""
    from ..operators.ivf import duck_ivf_dist

    # init = the first k rows by vec_id with cid = enumerate index
    # (kmeans_fit:106-109). row_number, not ``vec_id < k``, so a
    # FILTERED source (incremental corpus) still seeds correctly;
    # identical for the dense-id full tables.
    parts = [
        f"{prefix}0 AS (\n"
        f"    SELECT CAST(rn - 1 AS INT) AS cid, cent FROM (\n"
        f"        SELECT row_number() OVER (ORDER BY e.vec_id) AS rn,\n"
        f"               CAST({emb_sql} AS DOUBLE[]) AS cent\n"
        f"        FROM {src} e\n"
        f"    ) WHERE rn <= {k}\n)"
    ]
    for it in range(iters):
        prev, nxt = f"{prefix}{it}", f"{prefix}{it + 1}"
        parts.append(
            f"{prefix}_a{it} AS (\n"
            f"    SELECT vec_id, emb, cid FROM (\n"
            f"        SELECT e.vec_id, CAST({emb_sql} AS DOUBLE[]) AS emb, c.cid,\n"
            f"               row_number() OVER (PARTITION BY e.vec_id\n"
            f"                  ORDER BY {duck_ivf_dist('c.cent', emb_sql)}, c.cid) AS rn\n"
            f"        FROM {src} e, {prev} c\n"
            f"    ) WHERE rn = 1\n)"
        )
        parts.append(
            f"{prefix}_m{it} AS (\n"
            f"    SELECT cid, list(m ORDER BY i) AS cent FROM (\n"
            f"        SELECT cid, i, avg(x) AS m FROM (\n"
            f"            SELECT a.cid, unnest(range(1, len(a.emb) + 1)) AS i,\n"
            f"                   unnest(a.emb) AS x\n"
            f"            FROM {prefix}_a{it} a\n"
            f"        ) GROUP BY cid, i\n"
            f"    ) GROUP BY cid\n)"
        )
        # empty cluster keeps its previous centroid (kmeans_fit:126)
        parts.append(
            f"{nxt} AS (\n"
            f"    SELECT c.cid, coalesce(m.cent, c.cent) AS cent\n"
            f"    FROM {prev} c LEFT JOIN {prefix}_m{it} m USING (cid)\n)"
        )
    return ",\n".join(parts)


def _kmeans_cents_cte() -> str:
    """The shared Lloyd-unroll prefix: ``WITH cents0 ... cents{ITERS}``
    (consumed by ``_kmeans_oracle``, ``_ivf_kmeans_oracle``,
    ``_semdedup_oracle``)."""
    return "WITH " + _lloyd_cte_defs(
        "embeddings", "e.embedding", IVF_K, KMEANS_ITERS, "cents"
    )


QUERIES: dict[str, QuerySpec] = {
    "emb_cosine_topk": QuerySpec(q_cosine_topk, _cosine_topk_oracle()),
    "emb_kmeans_clusters": QuerySpec(q_kmeans_clusters, _kmeans_oracle()),
    # r4: emb_semdedup and emb_ivfpq_topk join the graded window below
    # (after their definitions); emb_near_dup_pairs moves to
    # LOCAL_QUERIES — its label-blocked pairwise-cosine shape is a
    # strict subset of semdedup's cluster∩bucket-blocked one.
    # r7 rotation: emb_ivf_topk demoted to LOCAL_QUERIES — plain IVF is
    # a strict subset of the graded emb_ivfpq_topk (same coarse
    # quantizer, PQ re-rank on top), freeing a slot for
    # privacy_t_closeness on the hard signal. Still fully oracle- and
    # plan-verified locally.
    # r7 rotation (r6 verdict stretch item 8): emb_kcenter_coreset
    # PROMOTED (registered after its definition below) — the one
    # trained-loop family (greedy k-center) the driver had never
    # graded; emb_ann_lsh_topk demoted in exchange (the graded ANN
    # scale path stays emb_ivfpq_topk, and random-hyperplane bucketing
    # remains graded inside emb_semdedup's cluster∩bucket blocking).
}

def q_emb_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization per embedding (the storage/serving
    prep step of an embedding pipeline): scale = max |v|, q[i] =
    round(v[i] / scale × 127). Pure codegen expressions — the max fold
    and the per-element transform run the identical op order in the
    DuckDB oracle (greatest-fold ≡ list_max exactly: max is
    order-insensitive, unlike float sums). Zero vectors quantize to
    null elements via nullif (division guard on BOTH sides)."""
    emb = t(spark, sf_dir, "embeddings")
    maxabs = (
        "aggregate(transform(embedding, x -> abs(cast(x AS double))), "
        "cast(0.0 AS double), (acc, x) -> greatest(acc, x))"
    )
    return widen(emb).select(
        "vec_id",
        F.round(F.expr(maxabs), 6).alias("scale"),
        # Graded-schema contract: scalar output — the int8 codes emit as
        # one comma-joined string (null elements from the zero-vector
        # guard keep an explicit 'null' sentinel so the join is
        # lossless).
        F.expr(
            f"array_join(transform(embedding, x -> coalesce(cast("
            f"cast(round(cast(x AS double) / nullif({maxabs}, 0.0) * 127, 0) AS int)"
            f" AS string), 'null')), ',')"
        ).alias("qvec_str"),
    )


_EMB_QUANTIZE_SQL = """
WITH scaled AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
           list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) AS m
    FROM embeddings
)
SELECT vec_id, round(m, 6) AS scale,
       array_to_string(
           list_transform(e, x -> coalesce(
               CAST(CAST(round(x / nullif(m, 0.0) * 127, 0) AS INT) AS VARCHAR),
               'null')), ',') AS qvec_str
FROM scaled
"""


# Trained-codebook IVF index, same build/probe split as _ivf_index but
# with k-means centroids: balanced inverted lists (a sampled codebook
# inherits the data's density skew — hot lists make probe cost and
# recall uneven; Lloyd iterations even them out).
@cached("similarity.ivf_kmeans", ("embeddings",), IVF_K)
def _ivf_kmeans_index(spark: SparkSession, sf_dir: str) -> tuple[list, DataFrame]:
    from ..operators import ivf as I
    from ..operators.kmeans import kmeans_fit

    emb = t(spark, sf_dir, "embeddings")
    codebook = kmeans_fit(
        emb, "embedding", "vec_id", k=IVF_K, max_iter=KMEANS_ITERS
    )
    assigned = I.assign_to_codebook(widen(emb), "embedding", codebook).persist()
    return codebook, assigned


def q_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k over a k-means-TRAINED codebook: the realistic index
    (sampled codebooks inherit density skew; trained centroids balance
    the inverted lists). FULL oracle since r4 (``_ivf_kmeans_oracle``):
    the Lloyd unroll CTE (``_kmeans_cents_cte``) feeds the probe/assign
    tail of the sampled-codebook IVF oracle; recall vs the exact
    brute-force top-k additionally asserted in
    tests/test_similarity_recall.py."""
    codebook, assigned = _ivf_kmeans_index(spark, sf_dir)
    emb = t(spark, sf_dir, "embeddings")
    q_vec = [
        float(v)
        for v in emb.filter(col("vec_id") == QUERY_VEC_ID)
        .select("embedding")
        .first()
        .embedding
    ]
    dim = len(q_vec)
    probe_ids = _probe_ids(codebook, q_vec, IVF_NPROBE)
    query = emb.filter(col("vec_id") == QUERY_VEC_ID).select(
        col("embedding").alias("q_emb")
    )
    return (
        assigned.filter(col("ivf_cid").isin(probe_ids) & (col("vec_id") != QUERY_VEC_ID))
        .crossJoin(broadcast(query))
        .select(
            "vec_id",
            "label",
            col("ivf_cid"),
            S.cosine_expr("embedding", "q_emb", dim=dim).alias("cosine"),
        )
        .orderBy(col("cosine").desc(), col("vec_id"))
        .limit(TOP_K)
    )


def _ivf_kmeans_oracle() -> str:
    """Trained-codebook IVF oracle: the Lloyd-unroll prefix
    (``_kmeans_cents_cte``) plus the sampled-IVF probe/assign/top-k
    tail. Probe and assignment ride on computed centroids (the same
    ≲1e-12 near-tie tolerance as ``_kmeans_oracle``); the output cosine
    is computed between RAW embeddings with the sequential-fold parity
    of ``_ivf_oracle``, so values hash bit-identical."""
    from ..operators.ivf import duck_ivf_dist

    cos = S.cosine("e.embedding", "q.qe")[1]
    cents = f"cents{KMEANS_ITERS}"
    return f"""
{_kmeans_cents_cte()},
q AS (
    SELECT embedding AS qe FROM embeddings WHERE vec_id = {QUERY_VEC_ID}
), probe AS (
    SELECT cid FROM (
        SELECT c.cid, row_number() OVER (ORDER BY {duck_ivf_dist("c.cent", "q.qe")}, c.cid) AS rn
        FROM {cents} c, q
    ) WHERE rn <= {IVF_NPROBE}
), assigned AS (
    SELECT vec_id, label, embedding, cid AS ivf_cid FROM (
        SELECT e.vec_id, e.label, e.embedding, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {duck_ivf_dist("c.cent", "e.embedding")}, c.cid) AS rn
        FROM embeddings e, {cents} c
    ) WHERE rn = 1
)
SELECT e.vec_id AS vec_id, e.label AS label, e.ivf_cid AS ivf_cid, {cos} AS cosine
FROM assigned e, q
WHERE e.ivf_cid IN (SELECT cid FROM probe) AND e.vec_id != {QUERY_VEC_ID}
ORDER BY cosine DESC, vec_id
LIMIT {TOP_K}
"""


BATCH_QUERY_MOD = 100  # vec_id % 100 == 0 → Q queries (5 at sf0.01)
BATCH_TOP_K = 5


def q_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch ANN: ALL query vectors scored against the corpus in ONE
    corpus pass — the realistic serving shape (a single-query top-k per
    request would re-scan the corpus Q times).

    The query set broadcasts (requests are tiny next to the corpus);
    the pair cosine runs as the Arrow pandas_udf (the dim-expanded
    chain cannot codegen inside a join consume method — see
    pair_cosine_udf); and the per-query top-k is a row_number window
    that Spark plans with a partial WindowGroupLimit below the
    exchange, so each map task ships at most Q×k rows — the shuffle is
    O(tasks × Q × k), independent of corpus size."""
    from ..shipping import ensure_package_shipped

    ensure_package_shipped(spark)
    from pyspark.sql.window import Window

    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(col("vec_id") % BATCH_QUERY_MOD == 0).select(
        col("vec_id").alias("query_id"), col("embedding").alias("q_emb")
    )
    corpus = widen(emb.filter(col("vec_id") % BATCH_QUERY_MOD != 0))
    pair_cos = S.pair_cosine_udf()
    scored = corpus.crossJoin(broadcast(queries)).select(
        "query_id",
        "vec_id",
        "label",
        F.round(pair_cos(col("embedding"), col("q_emb")), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(col("cosine").desc(), col("vec_id"))
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("int")
    ).filter(col("rank") <= BATCH_TOP_K)


def _batch_topk_oracle() -> str:
    cos = S.cosine("e.embedding", "q.q_emb")[1]
    return f"""
WITH q AS (
    SELECT vec_id AS query_id, embedding AS q_emb
    FROM embeddings WHERE vec_id % {BATCH_QUERY_MOD} = 0
), s AS (
    SELECT q.query_id, e.vec_id, e.label, {cos} AS cosine
    FROM embeddings e, q
    WHERE e.vec_id % {BATCH_QUERY_MOD} <> 0
), ranked AS (
    SELECT query_id, vec_id, label, cosine,
           CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY cosine DESC, vec_id
           ) AS INT) AS rank
    FROM s
)
SELECT * FROM ranked WHERE rank <= {BATCH_TOP_K}
"""


def q_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup with LSH-bucket blocking — the label-free
    version of ``emb_near_dup_pairs``: real corpora have no label column
    to block on, so the hyperplane bucket IS the blocking key. The
    quadratic term is bounded per bucket (expected n/2^planes vectors),
    the bucket id is the shuffle key at scale, and similar vectors that
    land in different buckets are the standard LSH recall trade-off
    (mitigated in production by multiple tables — emb_ann_lsh_topk's
    cache makes extra tables cheap). Exact oracle: the bucket expression
    is deterministic in both engines."""
    from ..shipping import ensure_package_shipped

    ensure_package_shipped(spark)
    bucketed, _ = _lsh_index(spark, sf_dir)
    base = bucketed.select("vec_id", "label", "bucket", "embedding")
    a = base.alias("a")
    b = base.alias("b")
    pair_cos = S.pair_cosine_udf()
    return (
        a.join(b, (col("a.bucket") == col("b.bucket")) & (col("a.vec_id") < col("b.vec_id")))
        .select(
            col("a.vec_id").alias("vec_a"),
            col("b.vec_id").alias("vec_b"),
            col("a.bucket").alias("bucket"),
            F.round(pair_cos(col("a.embedding"), col("b.embedding")), 6).alias("cosine"),
        )
        .filter(col("cosine") >= NEAR_DUP_COSINE)
    )


def _near_dup_lsh_oracle() -> str:
    bucket = S.hyperplane_bucket("embedding", N_PLANES)[1]
    cos = S.cosine("a.embedding", "b.embedding")[1]
    return f"""
WITH bucketed AS (
    SELECT vec_id, label, embedding, {bucket} AS bucket FROM embeddings
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.bucket AS bucket, {cos} AS cosine
FROM bucketed a
JOIN bucketed b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE {cos} >= {NEAR_DUP_COSINE}
"""


PQ_M = 8
PQ_KSUB = 16
PQ_REFINE = 4
PQ_ITERS = 2
# The oracle needs a static embedding dim to write subspace slices; the
# driver testdata is 64-dim at every SF (the Spark side still derives
# dim from the data, so non-64 corpora work — they just aren't what the
# static oracle describes).
PQ_EMB_DIM = 64

# PQ index: same build/probe split as the IVF indexes. The build trains
# M per-subspace codebooks and encodes the corpus once; queries touch
# only the persisted encoded frame.
@cached("similarity.pq", ("embeddings",), (PQ_M, PQ_KSUB))
def _pq_index(spark: SparkSession, sf_dir: str) -> tuple[list, DataFrame]:
    from ..operators import pq as P

    emb = t(spark, sf_dir, "embeddings")
    codebooks = P.pq_train(
        emb, "embedding", "vec_id", m=PQ_M, ksub=PQ_KSUB, max_iter=PQ_ITERS
    )
    encoded = P.pq_encode(widen(emb), "embedding", codebooks).persist()
    return codebooks, encoded


def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (operators/pq.py): 64×-compressed codes
    scored by ADC lookup tables, top 4k shortlist re-ranked with exact
    cosine. Codebook training is iterative k-means → rows-only driver
    check; recall vs brute force gated in
    tests/test_similarity_recall.py."""
    codebooks, encoded = _pq_index(spark, sf_dir)
    from ..operators.pq import pq_topk_refined

    emb = t(spark, sf_dir, "embeddings")
    q_vec = [
        float(v)
        for v in emb.filter(col("vec_id") == QUERY_VEC_ID)
        .select("embedding")
        .first()
        .embedding
    ]
    return pq_topk_refined(
        encoded.filter(col("vec_id") != QUERY_VEC_ID),
        q_vec,
        codebooks,
        k=TOP_K,
        refine_factor=PQ_REFINE,
    )


def _pq_defs_and_tail(extra_filter: str = "") -> tuple[str, str]:
    """Shared PQ oracle machinery: (cte_defs, adc_cte) where cte_defs
    unrolls the M per-subspace Lloyd fits (``_lloyd_cte_defs`` with a
    sliced embedding expression), the per-vector code assignments, and
    the per-query squared-distance LUTs; adc_cte sums the M LUT terms
    left-associatively — the exact op order of ``operators.pq``'s
    sequential accumulations. ``extra_filter`` restricts the scored
    candidate set (IVF-PQ adds the probed-list predicate)."""
    from ..operators.ivf import duck_ivf_dist

    sub = PQ_EMB_DIM // PQ_M
    defs, code_joins, lut_terms = [], [], []
    for m in range(PQ_M):
        lo, hi = m * sub + 1, (m + 1) * sub
        sl = f"e.embedding[{lo}:{hi}]"
        defs.append(_lloyd_cte_defs("embeddings", sl, PQ_KSUB, PQ_ITERS, f"p{m}c"))
        cents = f"p{m}c{PQ_ITERS}"
        defs.append(
            f"code{m} AS (\n"
            f"    SELECT vec_id, cid FROM (\n"
            f"        SELECT e.vec_id, c.cid,\n"
            f"               row_number() OVER (PARTITION BY e.vec_id\n"
            f"                  ORDER BY {duck_ivf_dist('c.cent', sl)}, c.cid) AS rn\n"
            f"        FROM embeddings e, {cents} c\n"
            f"    ) WHERE rn = 1\n)"
        )
        sq = (
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"[(c.cent[i] - CAST((q.qe)[{m * sub} + i] AS DOUBLE)) * "
            f"(c.cent[i] - CAST((q.qe)[{m * sub} + i] AS DOUBLE)) "
            f"for i in range(1, {sub} + 1)]), (acc, x) -> acc + x)"
        )
        defs.append(f"lut{m} AS (\n    SELECT c.cid, {sq} AS d FROM {cents} c, q\n)")
        code_joins.append(
            f"JOIN code{m} c{m} ON c{m}.vec_id = e.vec_id "
            f"JOIN lut{m} l{m} ON l{m}.cid = c{m}.cid"
        )
        lut_terms.append(f"l{m}.d")
    adc = (
        f"adc AS (\n"
        f"    SELECT e.vec_id, e.label, e.embedding, ({' + '.join(lut_terms)}) AS adc_dist\n"
        f"    FROM embeddings e\n    " + "\n    ".join(code_joins) + "\n"
        f"    WHERE e.vec_id != {QUERY_VEC_ID}{extra_filter}\n)"
    )
    return ",\n".join(defs), adc


def _pq_oracle() -> str:
    """Exact oracle of the full PQ pipeline: M Lloyd-unroll CTEs →
    code assignment → ADC LUT scoring → refine_factor×k shortlist →
    exact-cosine re-rank. Float disciplines: assignment/LUT/ADC are
    sequential dimension-order folds matching ``operators.pq``
    bit-for-bit; shortlist and final order break float ties by vec_id;
    the emitted cosine uses the standard sequential-fold parity."""
    defs, adc = _pq_defs_and_tail()
    cos = S.cosine("s.embedding", "q.qe")[1]
    return f"""
WITH q AS (
    SELECT embedding AS qe FROM embeddings WHERE vec_id = {QUERY_VEC_ID}
),
{defs},
{adc},
shortlist AS (
    SELECT vec_id, label, embedding FROM adc
    ORDER BY adc_dist, vec_id LIMIT {PQ_REFINE * TOP_K}
)
SELECT s.vec_id AS vec_id, s.label AS label, {cos} AS cosine
FROM shortlist s, q
ORDER BY cosine DESC, vec_id
LIMIT {TOP_K}
"""


# --- IVF-PQ: the production ANN composition ---------------------------------
# IVF prunes WHICH vectors get scored (probed inverted lists); PQ
# shrinks WHAT a score costs (ADC over 4-byte codes). The index frame
# carries (vec_id, ivf_cid, pq_code): at 100 TB the probed-list filter
# is a partition-prunable predicate on the list id and the scan reads
# codes only — the raw vectors are touched for the final
# refine_factor×k re-rank alone.


def _ann_store_path(sf_dir: str) -> str | None:
    """Disk location for the persisted IVF-PQ index, if the operator
    has a store configured (``SPARK_GRAFT_ANN_STORE``). The directory
    key carries the SOURCE DATA IDENTITY (absolute path + mtime + size
    of the embeddings file — the source key of
    ``operators/index_cache.stage_dir``) alongside the index
    params: two different corpora sharing a basename, or the same path
    after regeneration, must map to DIFFERENT store dirs — a stale hit
    here would silently serve neighbors from the wrong corpus, not
    just re-stage."""
    import hashlib
    import os

    store = os.environ.get("SPARK_GRAFT_ANN_STORE")
    if not store:
        return None
    src = os.path.abspath(f"{sf_dir.rstrip('/')}/embeddings.parquet")
    st = os.stat(src)
    data_id = hashlib.md5(
        f"{src}:{st.st_mtime_ns}:{st.st_size}".encode()
    ).hexdigest()[:10]
    tag = (
        f"{os.path.basename(sf_dir.rstrip('/'))}_{data_id}"
        f"_k{IVF_K}_m{PQ_M}_ks{PQ_KSUB}"
    )
    return os.path.join(store, tag)


@cached("similarity.ivfpq", ("embeddings",), (IVF_K, PQ_M, PQ_KSUB))
def _ivfpq_index(spark: SparkSession, sf_dir: str):
    """Build — or, r5, COLD-LOAD — the IVF-PQ index. With
    ``SPARK_GRAFT_ANN_STORE`` set, a fresh session first tries
    ``operators/index_store.load_ann_index`` (codebooks are a bounded
    parquet collect; the encoded corpus is a lazy ivf_cid-partitioned
    scan, so probes partition-prune on disk) and only trains when the
    store is empty — training then persists the index for the next
    session. Without the env var, behavior is unchanged (session cache
    only) so plan snapshots and oracles stay byte-stable."""
    import os

    from ..operators import pq as P
    from ..operators.index_store import load_ann_index, save_ann_index

    store_path = _ann_store_path(sf_dir)
    if store_path and os.path.exists(f"{store_path}/manifest.json"):
        coarse, pq_cbs, encoded = load_ann_index(spark, store_path)
        return coarse, pq_cbs, encoded.persist()
    coarse, assigned = _ivf_kmeans_index(spark, sf_dir)
    pq_cbs, _ = _pq_index(spark, sf_dir)
    encoded = P.pq_encode(assigned, "embedding", pq_cbs).persist()
    if store_path:
        save_ann_index(store_path, coarse, pq_cbs, encoded)
    return coarse, pq_cbs, encoded


def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-k (Jégou et al. 2011's IVFADC serving shape): probe
    the IVF_NPROBE nearest trained-k-means lists, ADC-score only their
    members, re-rank the shortlist with exact cosine. Composes the two
    cached indexes; full oracle = coarse Lloyd CTE ∘ PQ pipeline CTE."""
    from ..operators.pq import pq_topk_refined

    coarse, pq_cbs, encoded = _ivfpq_index(spark, sf_dir)
    emb = t(spark, sf_dir, "embeddings")
    q_vec = [
        float(v)
        for v in emb.filter(col("vec_id") == QUERY_VEC_ID)
        .select("embedding")
        .first()
        .embedding
    ]
    probe_ids = _probe_ids(coarse, q_vec, IVF_NPROBE)
    return pq_topk_refined(
        encoded.filter(
            col("ivf_cid").isin(probe_ids) & (col("vec_id") != QUERY_VEC_ID)
        ),
        q_vec,
        pq_cbs,
        k=TOP_K,
        refine_factor=PQ_REFINE,
    )


def _ivfpq_oracle() -> str:
    """Coarse probe/assign CTEs (``_kmeans_cents_cte`` tail, as in
    ``_ivfpq_oracle``'s Spark twin) composed with the PQ pipeline
    restricted to the probed lists."""
    from ..operators.ivf import duck_ivf_dist

    cents = f"cents{KMEANS_ITERS}"
    restrict = (
        " AND e.vec_id IN (SELECT vec_id FROM coarse_assigned "
        "WHERE ivf_cid IN (SELECT cid FROM probe))"
    )
    defs, adc = _pq_defs_and_tail(restrict)
    cos = S.cosine("s.embedding", "q.qe")[1]
    return f"""
{_kmeans_cents_cte()},
q AS (
    SELECT embedding AS qe FROM embeddings WHERE vec_id = {QUERY_VEC_ID}
),
probe AS (
    SELECT cid FROM (
        SELECT c.cid, row_number() OVER (ORDER BY {duck_ivf_dist("c.cent", "q.qe")}, c.cid) AS rn
        FROM {cents} c, q
    ) WHERE rn <= {IVF_NPROBE}
),
coarse_assigned AS (
    SELECT vec_id, cid AS ivf_cid FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {duck_ivf_dist("c.cent", "e.embedding")}, c.cid) AS rn
        FROM embeddings e, {cents} c
    ) WHERE rn = 1
),
{defs},
{adc},
shortlist AS (
    SELECT vec_id, label, embedding FROM adc
    ORDER BY adc_dist, vec_id LIMIT {PQ_REFINE * TOP_K}
)
SELECT s.vec_id AS vec_id, s.label AS label, {cos} AS cosine
FROM shortlist s, q
ORDER BY cosine DESC, vec_id
LIMIT {TOP_K}
"""


# --- residual IVF-PQ (true IVFADC) ------------------------------------------
# emb_ivfpq_topk quantizes RAW vectors; the canonical IVFADC (Jégou et
# al. 2011 §III) quantizes the RESIDUAL r = x − c_list instead —
# residuals concentrate near the origin when the coarse lists are
# tight, so the same ksub codes spend their resolution where the
# probed lists' vectors actually live, and the query builds one LUT
# per probed list from its own query residual. Which variant wins is a
# DATA property: on this near-uniform synthetic corpus the raw-vector
# variant measures higher recall (0.9 vs 0.7 — see
# tests/test_similarity_recall.py), which is exactly why both ship.
@cached("similarity.ivfadc", ("embeddings",), (IVF_K, PQ_M, PQ_KSUB))
def _ivfadc_index(spark: SparkSession, sf_dir: str):
    from ..operators import pq as P

    coarse, assigned = _ivf_kmeans_index(spark, sf_dir)
    res = P.with_residual(assigned, "embedding", coarse)
    pq_cbs = P.pq_train(
        res, "residual", "vec_id", m=PQ_M, ksub=PQ_KSUB, max_iter=PQ_ITERS
    )
    encoded = P.pq_encode(res, "residual", pq_cbs).drop("residual").persist()
    return coarse, pq_cbs, encoded


def q_ivfadc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual IVF-PQ top-k: probe the nearest trained lists, score
    members by per-list residual ADC LUTs, exact-cosine re-rank. The
    serving plan stays zero-exchange (codes-only scan → per-list LUT
    lookups → TakeOrderedAndProject ×2); full oracle composed from the
    coarse Lloyd CTE, a residual-source PQ pipeline, and per-list
    query-residual LUTs."""
    from ..operators import pq as P

    coarse, pq_cbs, encoded = _ivfadc_index(spark, sf_dir)
    emb = t(spark, sf_dir, "embeddings")
    q_vec = [
        float(v)
        for v in emb.filter(col("vec_id") == QUERY_VEC_ID)
        .select("embedding")
        .first()
        .embedding
    ]
    probe_ids = _probe_ids(coarse, q_vec, IVF_NPROBE)
    probe_cents = {cid: cent for cid, cent in coarse if cid in probe_ids}
    luts = P.residual_luts(q_vec, probe_cents, pq_cbs)
    shortlist = (
        P.adc_score_residual(
            encoded.filter(
                col("ivf_cid").isin(probe_ids) & (col("vec_id") != QUERY_VEC_ID)
            ),
            luts,
        )
        .orderBy(col("adc_dist").asc(), col("vec_id"))
        .limit(PQ_REFINE * TOP_K)
    )
    return P.rerank_exact(shortlist, q_vec, TOP_K)


def _ivfadc_oracle() -> str:
    """Coarse CTEs + residual source + M residual-subspace Lloyd fits +
    per-(probed list, code) query-residual LUTs. Float parity: the
    residual is an element-wise float64 subtraction in index order on
    both sides; every downstream accumulation keeps the established
    sequential-fold discipline."""
    from ..operators.ivf import duck_ivf_dist

    cents = f"cents{KMEANS_ITERS}"
    sub = PQ_EMB_DIM // PQ_M
    # MATERIALIZED: the M×iters subspace-fit layers each scan
    # ``residuals`` — inlined, every scan would recompute the coarse
    # assignment (embeddings × centroids window) and the oracle goes
    # combinatorial instead of |corpus|-sized.
    residuals = (
        "residuals AS MATERIALIZED (\n"
        "    SELECT e.vec_id,\n"
        "           [CAST(e.embedding[i] AS DOUBLE) - c.cent[i]\n"
        "            for i in range(1, len(c.cent) + 1)] AS remb\n"
        f"    FROM embeddings e\n"
        f"    JOIN coarse_assigned a ON a.vec_id = e.vec_id\n"
        f"    JOIN {cents} c ON c.cid = a.ivf_cid\n)"
    )
    defs, code_joins, lut_terms = [], [], []
    for m in range(PQ_M):
        lo, hi = m * sub + 1, (m + 1) * sub
        sl = f"e.remb[{lo}:{hi}]"
        defs.append(_lloyd_cte_defs("residuals", sl, PQ_KSUB, PQ_ITERS, f"r{m}c"))
        rcents = f"r{m}c{PQ_ITERS}"
        defs.append(
            f"rcode{m} AS (\n"
            f"    SELECT vec_id, cid FROM (\n"
            f"        SELECT e.vec_id, c.cid,\n"
            f"               row_number() OVER (PARTITION BY e.vec_id\n"
            f"                  ORDER BY {duck_ivf_dist('c.cent', sl)}, c.cid) AS rn\n"
            f"        FROM residuals e, {rcents} c\n"
            f"    ) WHERE rn = 1\n)"
        )
        off = m * sub
        sq = (
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"[(c.cent[i] - (CAST((q.qe)[{off} + i] AS DOUBLE) - p.cent[{off} + i])) * "
            f"(c.cent[i] - (CAST((q.qe)[{off} + i] AS DOUBLE) - p.cent[{off} + i])) "
            f"for i in range(1, {sub} + 1)]), (acc, x) -> acc + x)"
        )
        defs.append(
            f"rlut{m} AS (\n"
            f"    SELECT p.cid AS pcid, c.cid, {sq} AS d\n"
            f"    FROM pcents p, {rcents} c, q\n)"
        )
        code_joins.append(
            f"JOIN rcode{m} c{m} ON c{m}.vec_id = e.vec_id "
            f"JOIN rlut{m} l{m} ON l{m}.pcid = a.ivf_cid AND l{m}.cid = c{m}.cid"
        )
        lut_terms.append(f"l{m}.d")
    cos = S.cosine("s.embedding", "q.qe")[1]
    return f"""
{_kmeans_cents_cte()},
q AS (
    SELECT embedding AS qe FROM embeddings WHERE vec_id = {QUERY_VEC_ID}
),
probe AS (
    SELECT cid FROM (
        SELECT c.cid, row_number() OVER (ORDER BY {duck_ivf_dist("c.cent", "q.qe")}, c.cid) AS rn
        FROM {cents} c, q
    ) WHERE rn <= {IVF_NPROBE}
),
pcents AS (
    SELECT cid, cent FROM {cents} WHERE cid IN (SELECT cid FROM probe)
),
coarse_assigned AS MATERIALIZED (
    SELECT vec_id, cid AS ivf_cid FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {duck_ivf_dist("c.cent", "e.embedding")}, c.cid) AS rn
        FROM embeddings e, {cents} c
    ) WHERE rn = 1
),
{residuals},
{",".join(chr(10) + d for d in defs)},
adc AS (
    SELECT e.vec_id, e.label, e.embedding, ({" + ".join(lut_terms)}) AS adc_dist
    FROM embeddings e
    JOIN coarse_assigned a ON a.vec_id = e.vec_id
    {chr(10).join("    " + j for j in code_joins)}
    WHERE a.ivf_cid IN (SELECT cid FROM probe) AND e.vec_id != {QUERY_VEC_ID}
),
shortlist AS (
    SELECT vec_id, label, embedding FROM adc
    ORDER BY adc_dist, vec_id LIMIT {PQ_REFINE * TOP_K}
)
SELECT s.vec_id AS vec_id, s.label AS label, {cos} AS cosine
FROM shortlist s, q
ORDER BY cosine DESC, vec_id
LIMIT {TOP_K}
"""


SEMDEDUP_TAU = 0.35  # same similarity scale as NEAR_DUP_COSINE


def q_emb_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, "SemDeDup"):
    cluster the embedding space, prune near-duplicate vectors WITHIN
    clusters, keep the lowest-id representative of each near-dup star.

    Composition of two cached indexes: the trained k-means assignment
    (``_ivf_kmeans_index`` — the SemDeDup cluster step) co-blocked with the
    hyperplane LSH bucket, so the quadratic pair term is bounded by
    |cluster ∩ bucket| (expected n/(K·2^planes)) — at 100 TB the
    (ivf_cid, bucket) composite is the one shuffle key and no
    all-pairs term exists. A vector is dropped iff some lower-id
    co-blocked vector is ≥ τ cosine-similar. Output: per-cluster
    survivor accounting (all-integer — robust cross-engine oracle on
    top of the Lloyd-unroll CTE)."""
    from ..shipping import ensure_package_shipped

    ensure_package_shipped(spark)
    codebook, assigned = _ivf_kmeans_index(spark, sf_dir)
    dim = S.embedding_dim(t(spark, sf_dir, "embeddings"))
    base = assigned.withColumn(
        "bucket", S.hyperplane_bucket_expr("embedding", N_PLANES, dim)
    ).select("vec_id", "ivf_cid", "bucket", "embedding")
    a = base.alias("a")
    b = base.alias("b")
    pair_cos = S.pair_cosine_udf()
    dups = (
        a.join(
            b,
            (col("a.ivf_cid") == col("b.ivf_cid"))
            & (col("a.bucket") == col("b.bucket"))
            & (col("a.vec_id") < col("b.vec_id")),
        )
        .select(
            col("b.vec_id").alias("vec_id"),
            F.round(pair_cos(col("a.embedding"), col("b.embedding")), 6).alias("cosine"),
        )
        .filter(col("cosine") >= SEMDEDUP_TAU)
        .select("vec_id")
        .distinct()
        .withColumn("is_dup", F.lit(1))
    )
    return (
        assigned.join(dups, "vec_id", "left")
        .groupBy("ivf_cid")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.count(col("is_dup")).alias("n_dups"),
            F.min(F.when(col("is_dup").isNull(), col("vec_id"))).alias(
                "min_kept_vec_id"
            ),
        )
    )


def _semdedup_oracle() -> str:
    """Lloyd-unroll assignment CTE + bucket co-blocking + pair prune.
    Same float disciplines as the neighbours: assignment distance via
    ``duck_ivf_dist`` sequential fold, pair cosine via ``S.cosine``
    rounded to 6; every emitted column is an integer."""
    from ..operators.ivf import duck_ivf_dist

    bucket = S.hyperplane_bucket("embedding", N_PLANES)[1]
    cos = S.cosine("a.embedding", "b.embedding")[1]
    return f"""
{_kmeans_cents_cte()},
assigned AS (
    SELECT vec_id, embedding, cid AS ivf_cid FROM (
        SELECT e.vec_id, e.embedding, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {duck_ivf_dist("c.cent", "e.embedding")}, c.cid) AS rn
        FROM embeddings e, cents{KMEANS_ITERS} c
    ) WHERE rn = 1
), bucketed AS (
    SELECT vec_id, ivf_cid, embedding, {bucket} AS bucket FROM assigned
), dups AS (
    SELECT DISTINCT b.vec_id
    FROM bucketed a
    JOIN bucketed b ON a.ivf_cid = b.ivf_cid AND a.bucket = b.bucket
                   AND a.vec_id < b.vec_id
    WHERE {cos} >= {SEMDEDUP_TAU}
)
SELECT a.ivf_cid AS ivf_cid,
       count(*) AS n_vecs,
       count(d.vec_id) AS n_dups,
       min(CASE WHEN d.vec_id IS NULL THEN a.vec_id END) AS min_kept_vec_id
FROM assigned a LEFT JOIN dups d USING (vec_id)
GROUP BY a.ivf_cid
"""


# --- incremental IVF index maintenance --------------------------------------
# New vectors arrive daily; rebuilding the trained index per batch is
# O(corpus). The production move (FAISS add_with_ids / Milvus insert):
# keep the trained centroids, assign ONLY the batch, append to the
# inverted lists. Codebook broadcast into a map-only Arrow pass over
# the batch; the corpus contributes its persisted assignment — zero
# corpus re-scan, zero corpus shuffle at increment time.

IVF_INC_MOD = 10
IVF_INC_REM = 7  # vec_id % 10 == 7 → today's "new arrivals"


@cached("similarity.ivf_corpus", ("embeddings",), IVF_K)
def _ivf_corpus_index(spark: SparkSession, sf_dir: str) -> tuple[list, DataFrame]:
    from ..operators import ivf as I
    from ..operators.kmeans import kmeans_fit

    corpus = t(spark, sf_dir, "embeddings").filter(
        col("vec_id") % IVF_INC_MOD != IVF_INC_REM
    )
    codebook = kmeans_fit(
        corpus, "embedding", "vec_id", k=IVF_K, max_iter=KMEANS_ITERS
    )
    assigned = I.assign_to_codebook(widen(corpus), "embedding", codebook).persist()
    return codebook, assigned


def q_emb_ivf_increment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF maintenance: the day's batch is assigned to the
    EXISTING corpus-trained centroids and appended to the inverted
    lists. Emits the per-list merge accounting (corpus size, new
    arrivals, first new id). Warm-path plan: batch map + two 8-row
    aggregations — the corpus is never re-scanned or shuffled."""
    from ..operators import ivf as I

    codebook, corpus_assigned = _ivf_corpus_index(spark, sf_dir)
    batch = t(spark, sf_dir, "embeddings").filter(
        col("vec_id") % IVF_INC_MOD == IVF_INC_REM
    )
    batch_assigned = I.assign_to_codebook(widen(batch), "embedding", codebook)
    # tagged union + ONE conditional aggregation — no join at all (a
    # full-outer of the per-list counts would plan a SortMergeJoin);
    # the map-side partials collapse each input to ≤K rows before the
    # single tiny exchange.
    merged = corpus_assigned.select(
        "vec_id", "ivf_cid", F.lit(0).alias("is_new")
    ).unionByName(
        batch_assigned.select("vec_id", "ivf_cid", F.lit(1).alias("is_new"))
    )
    return merged.groupBy("ivf_cid").agg(
        F.count(F.when(col("is_new") == 0, 1)).alias("n_corpus"),
        F.count(F.when(col("is_new") == 1, 1)).alias("n_new"),
        F.min(F.when(col("is_new") == 1, col("vec_id"))).alias("min_new_vec_id"),
    )


def _ivf_increment_oracle() -> str:
    """Corpus-trained Lloyd CTE (filtered source — the generalized
    row_number init makes that valid) + two assignment CTEs + the full
    outer merge accounting."""
    from ..operators.ivf import duck_ivf_dist

    corpus_src = (
        f"(SELECT * FROM embeddings WHERE vec_id % {IVF_INC_MOD} != {IVF_INC_REM})"
    )
    batch_src = (
        f"(SELECT * FROM embeddings WHERE vec_id % {IVF_INC_MOD} = {IVF_INC_REM})"
    )
    defs = _lloyd_cte_defs(corpus_src, "e.embedding", IVF_K, KMEANS_ITERS, "ccents")
    cents = f"ccents{KMEANS_ITERS}"

    def assign(src: str, name: str) -> str:
        return (
            f"{name} AS (\n"
            f"    SELECT vec_id, cid AS ivf_cid FROM (\n"
            f"        SELECT e.vec_id, c.cid,\n"
            f"               row_number() OVER (PARTITION BY e.vec_id\n"
            f"                  ORDER BY {duck_ivf_dist('c.cent', 'e.embedding')}, c.cid) AS rn\n"
            f"        FROM {src} e, {cents} c\n"
            f"    ) WHERE rn = 1\n)"
        )

    return f"""
WITH {defs},
{assign(corpus_src, "corpus_assigned")},
{assign(batch_src, "batch_assigned")},
merged AS (
    SELECT vec_id, ivf_cid, 0 AS is_new FROM corpus_assigned
    UNION ALL
    SELECT vec_id, ivf_cid, 1 AS is_new FROM batch_assigned
)
SELECT ivf_cid,
       count(CASE WHEN is_new = 0 THEN 1 END) AS n_corpus,
       count(CASE WHEN is_new = 1 THEN 1 END) AS n_new,
       min(CASE WHEN is_new = 1 THEN vec_id END) AS min_new_vec_id
FROM merged
GROUP BY ivf_cid
"""


def q_emb_topk_hydrated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval serving's last mile: the ANN hit list hydrated with
    the source documents (RAG answer assembly). The k-row hit list is
    BROADCAST into the documents scan — the corpus-sized side never
    shuffles, and at 100 TB the broadcast join degenerates to a
    k-row-filtered scan (dynamic filter on doc_id)."""
    hits = q_ivfpq_topk(spark, sf_dir)
    docs = t(spark, sf_dir, "documents")
    return (
        docs.join(broadcast(hits), docs.doc_id == hits.vec_id)
        .select(
            "vec_id",
            "cosine",
            "lang",
            F.substring(col("text"), 1, 80).alias("snippet"),
        )
        .orderBy(col("cosine").desc(), col("vec_id"))
    )


def _topk_hydrated_oracle() -> str:
    return f"""
SELECT h.vec_id AS vec_id, h.cosine AS cosine, d.lang AS lang,
       substr(d.text, 1, 80) AS snippet
FROM ({_ivfpq_oracle()}) h
JOIN documents d ON d.doc_id = h.vec_id
ORDER BY cosine DESC, vec_id
"""


QUERIES["emb_semdedup"] = QuerySpec(q_emb_semdedup, _semdedup_oracle())
QUERIES["emb_ivfpq_topk"] = QuerySpec(q_ivfpq_topk, _ivfpq_oracle())


OUTLIER_P = 0.99  # per-cluster distance quantile above which = outlier
OUTLIER_GRID = 1_000_000  # affinity → integer grid (deterministic p99)


def q_emb_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier detection — the cleaning step that flags
    vectors anomalously far from their own cluster (mis-embedded docs,
    garbage inputs, distribution drift): each vector's affinity to its
    ASSIGNED trained centroid, thresholded at the per-cluster p99.

    The quantile is computed the scale-correct way (same discipline as
    curriculum sharding): affinities quantized to an integer grid, a
    per-cluster histogram + one cumulative window over the (bounded)
    histogram yields an exact deterministic threshold — no
    percentile_approx (sketch, not oracle-expressible), no global sort.
    The affinity recomputation is ONE shuffle-free Arrow pass over the
    cached assignment frame (``affinity_to_assigned`` — bit-identical
    fold to the oracle's ``duck_ivf_dist``): the scored frame feeds
    both the threshold subtree and the final join, so it is lazily
    localCheckpointed — without it the executed plan runs the
    full-corpus affinity UDF twice (the GC-managed checkpoint is the
    ngram-postings discipline from operators/dedup.py). Emits
    per-cluster counts, threshold, and an outlier id checksum."""
    from ..operators.ivf import affinity_to_assigned

    codebook, assigned = _ivf_kmeans_index(spark, sf_dir)
    scored = affinity_to_assigned(assigned, "embedding", "ivf_cid", codebook)
    from pyspark.sql.window import Window as W

    sc = scored.select(
        "vec_id",
        col("ivf_cid").alias("cid"),
        F.floor(col("aff") * OUTLIER_GRID).cast("long").alias("qd"),
    ).localCheckpoint(eager=False)
    hist = sc.groupBy("cid", "qd").agg(F.count(F.lit(1)).alias("cnt"))
    hh = hist.select(
        "cid",
        "qd",
        F.sum("cnt").over(W.partitionBy("cid").orderBy("qd")).alias("cum"),
        F.sum("cnt").over(W.partitionBy("cid")).alias("n"),
    )
    thr = (
        hh.filter(col("cum") >= F.ceil(col("n") * OUTLIER_P))
        .groupBy("cid")
        .agg(F.min("qd").alias("thr_qd"))
    )
    return (
        sc.join(broadcast(thr), "cid")
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum((col("qd") > col("thr_qd")).cast("long")).alias("n_outliers"),
            F.min("thr_qd").alias("thr_qd"),
            F.sum(
                F.when(col("qd") > col("thr_qd"), col("vec_id")).otherwise(0)
            ).alias("outlier_checksum"),
        )
    )


def _emb_outliers_oracle() -> str:
    from ..operators.ivf import duck_ivf_dist

    cents = f"cents{KMEANS_ITERS}"
    d = duck_ivf_dist("c.cent", "e.embedding")
    return f"""
{_kmeans_cents_cte()},
assigned AS (
    SELECT vec_id, cid, d FROM (
        SELECT e.vec_id, c.cid, {d} AS d,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY {d}, c.cid) AS rn
        FROM embeddings e, {cents} c
    ) WHERE rn = 1
),
sc AS (
    SELECT vec_id, cid, CAST(floor(d * {OUTLIER_GRID}) AS BIGINT) AS qd
    FROM assigned
),
h AS (SELECT cid, qd, CAST(count(*) AS BIGINT) AS cnt FROM sc GROUP BY 1, 2),
hh AS (
    SELECT cid, qd,
           CAST(sum(cnt) OVER (PARTITION BY cid ORDER BY qd
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
           CAST(sum(cnt) OVER (PARTITION BY cid) AS BIGINT) AS n
    FROM h
),
thr AS (
    SELECT cid, min(qd) AS thr_qd
    FROM hh WHERE cum >= CAST(ceil(n * {OUTLIER_P}) AS BIGINT)
    GROUP BY cid
)
SELECT sc.cid AS cid,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(sum(CASE WHEN qd > thr_qd THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       min(thr_qd) AS thr_qd,
       CAST(sum(CASE WHEN qd > thr_qd THEN vec_id ELSE 0 END) AS BIGINT)
           AS outlier_checksum
FROM sc JOIN thr ON sc.cid = thr.cid
GROUP BY sc.cid
"""


FILTER_LABEL = 3  # ~10% selectivity (10 labels, near-uniform)
FILTERED_NPROBE = 4  # over-probe: 2× the unfiltered width


def q_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED ANN: top-k cosine among vectors satisfying a metadata
    predicate (``label = FILTER_LABEL``) — the classic serving problem
    where a selective filter decimates each probed list's candidates
    (~10% survive here), so recall@k at the unfiltered probe width
    collapses. The standard compensation is over-probing: widen nprobe
    by ~1/selectivity (capped; here 2× as the rule-of-thumb floor —
    recall vs the filtered brute force is gated in
    tests/test_similarity_recall.py).

    The predicate is applied BEFORE the cosine, so scoring touches only
    surviving candidates; on a cluster the inverted lists would be
    partitioned by ``ivf_cid`` and the label filter rides the parquet
    scan as a pushed predicate — probe pruning and row-group pruning
    compose. Shares the session-cached trained index with the whole
    k-means family (zero extra build cost)."""
    codebook, assigned = _ivf_kmeans_index(spark, sf_dir)
    emb = t(spark, sf_dir, "embeddings")
    q_vec = [
        float(v)
        for v in emb.filter(col("vec_id") == QUERY_VEC_ID)
        .select("embedding")
        .first()
        .embedding
    ]
    dim = len(q_vec)
    probe_ids = _probe_ids(codebook, q_vec, FILTERED_NPROBE)
    query = emb.filter(col("vec_id") == QUERY_VEC_ID).select(
        col("embedding").alias("q_emb")
    )
    return (
        assigned.filter(
            col("ivf_cid").isin(probe_ids)
            & (col("label") == FILTER_LABEL)
            & (col("vec_id") != QUERY_VEC_ID)
        )
        .crossJoin(broadcast(query))
        .select(
            "vec_id",
            "label",
            col("ivf_cid"),
            S.cosine_expr("embedding", "q_emb", dim=dim).alias("cosine"),
        )
        .orderBy(col("cosine").desc(), col("vec_id"))
        .limit(TOP_K)
    )


def _filtered_topk_oracle() -> str:
    """The trained-IVF oracle tail with the label predicate and the
    widened probe count grafted in."""
    from ..operators.ivf import duck_ivf_dist

    cos = S.cosine("e.embedding", "q.qe")[1]
    cents = f"cents{KMEANS_ITERS}"
    return f"""
{_kmeans_cents_cte()},
q AS (
    SELECT embedding AS qe FROM embeddings WHERE vec_id = {QUERY_VEC_ID}
), probe AS (
    SELECT cid FROM (
        SELECT c.cid, row_number() OVER (ORDER BY {duck_ivf_dist("c.cent", "q.qe")}, c.cid) AS rn
        FROM {cents} c, q
    ) WHERE rn <= {FILTERED_NPROBE}
), assigned AS (
    SELECT vec_id, label, embedding, cid AS ivf_cid FROM (
        SELECT e.vec_id, e.label, e.embedding, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {duck_ivf_dist("c.cent", "e.embedding")}, c.cid) AS rn
        FROM embeddings e, {cents} c
    ) WHERE rn = 1
)
SELECT e.vec_id AS vec_id, e.label AS label, e.ivf_cid AS ivf_cid, {cos} AS cosine
FROM assigned e, q
WHERE e.ivf_cid IN (SELECT cid FROM probe)
  AND e.label = {FILTER_LABEL}
  AND e.vec_id != {QUERY_VEC_ID}
ORDER BY cosine DESC, vec_id
LIMIT {TOP_K}
"""


# Not driver-registered: emb_semdedup's cluster∩bucket blocking
# exercises the random-hyperplane bucketing expression end-to-end, and
# label centroids are the same posexplode + group-reduction shape as
# kmeans; oracle-verified locally.
LOCAL_QUERIES: dict[str, QuerySpec] = {
    "emb_ivf_topk": QuerySpec(q_ivf_topk, _ivf_oracle()),  # r7 rotation
    "emb_ann_lsh_topk": QuerySpec(q_ann_lsh_topk, _ann_topk_oracle()),  # r7
    "emb_ivf_increment": QuerySpec(q_emb_ivf_increment, _ivf_increment_oracle()),
    "emb_ivfadc_topk": QuerySpec(q_ivfadc_topk, _ivfadc_oracle()),
    "emb_topk_hydrated": QuerySpec(q_emb_topk_hydrated, _topk_hydrated_oracle()),
    "emb_near_dup_pairs": QuerySpec(q_near_dup_pairs, _near_dup_oracle()),
    "emb_pq_topk": QuerySpec(q_pq_topk, _pq_oracle()),
    "emb_near_dup_lsh": QuerySpec(q_near_dup_lsh, _near_dup_lsh_oracle()),
    "emb_ann_lsh_buckets": QuerySpec(q_ann_lsh_buckets, _ann_buckets_oracle()),
    "emb_label_centroids": QuerySpec(q_label_centroids, _LABEL_CENTROIDS_SQL),
    "emb_quantize": QuerySpec(q_emb_quantize, _EMB_QUANTIZE_SQL),
    "emb_batch_topk": QuerySpec(q_batch_topk, _batch_topk_oracle()),
    "emb_ivf_kmeans_topk": QuerySpec(q_ivf_kmeans_topk, _ivf_kmeans_oracle()),
    "emb_filtered_topk": QuerySpec(q_filtered_topk, _filtered_topk_oracle()),
    "emb_outliers": QuerySpec(q_emb_outliers, _emb_outliers_oracle()),
}


# ---------------------------------------------------------------------------
# r5: selection operators over the trained index — cluster-stratified
# sampling and MMR diversity re-rank. Both are data-SELECTION primitives
# (what a training-data pipeline does with an embedding index once it
# has one): pick a balanced subset, or pick a relevant-but-diverse one.

SAMPLE_QUOTA = 5  # vectors kept per cluster
# Knuth multiplicative hash over vec_id — a deterministic, seedless
# pseudo-random order expressible identically in both engines as plain
# BIGINT arithmetic. vec_id is reduced mod MOD BEFORE the multiply:
# the product is then < MOD·MULT ≈ 2.7e18 < 2^63 for ANY vec_id, where
# the unreduced product would silently wrap Spark's non-ANSI BIGINT
# multiply (and error in DuckDB) once ids pass ~3.5e9 — the corpus
# regime the query exists for.
SAMPLE_HASH_MULT = 2654435761
SAMPLE_HASH_MOD = 1000000007


def q_emb_cluster_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-stratified corpus sampling: keep ``SAMPLE_QUOTA`` vectors
    per trained k-means cluster, chosen by a deterministic
    multiplicative-hash order over ``vec_id``. The embedding-space twin
    of stratified/balanced data selection (cf. cluster-balanced
    sampling in SemDeDup-style curation): a uniform sample would
    reproduce the corpus's density skew, while a per-cluster quota
    yields coverage of every region the index knows about.

    Scale: rides the shared ``_ivf_kmeans_index`` trained index (built once
    per session for the whole emb_* family); the quota filter is one
    ``row_number`` window partitioned by ``ivf_cid`` — a single shuffle
    on the cluster id. A pathologically hot cluster makes one fat
    window task; at production scale bound it by pre-filtering on the
    hash (``h < quota/|cluster| · MOD`` per-cluster thresholds from the
    cluster histogram) before ranking — the quota here is small and the
    trained centroids balance list sizes, so the plain window is the
    right local[32] plan."""
    from pyspark.sql.window import Window

    _, assigned = _ivf_kmeans_index(spark, sf_dir)
    h = (
        (col("vec_id") % F.lit(SAMPLE_HASH_MOD)) * F.lit(SAMPLE_HASH_MULT)
    ) % F.lit(SAMPLE_HASH_MOD)
    w = Window.partitionBy("ivf_cid").orderBy(h.asc(), col("vec_id"))
    return (
        assigned.withColumn("sample_rank", F.row_number().over(w))
        .filter(col("sample_rank") <= SAMPLE_QUOTA)
        .select("vec_id", "label", "ivf_cid", "sample_rank")
    )


def _cluster_sample_oracle() -> str:
    """Lloyd-unroll assignment (the shared ``cents{ITERS}`` prefix) plus
    the same hash-ordered per-cluster row_number. All output columns are
    integers, so only the assignment must match (same tolerance
    argument as ``_kmeans_oracle``)."""
    from ..operators.ivf import duck_ivf_dist

    cents = f"cents{KMEANS_ITERS}"
    return f"""
{_kmeans_cents_cte()},
assigned AS (
    SELECT vec_id, label, cid AS ivf_cid FROM (
        SELECT e.vec_id, e.label, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {duck_ivf_dist("c.cent", "e.embedding")}, c.cid) AS rn
        FROM embeddings e, {cents} c
    ) WHERE rn = 1
)
SELECT vec_id, label, ivf_cid, sample_rank FROM (
    SELECT vec_id, label, ivf_cid,
           row_number() OVER (
               PARTITION BY ivf_cid
               ORDER BY ((vec_id % {SAMPLE_HASH_MOD}) * {SAMPLE_HASH_MULT})
                        % {SAMPLE_HASH_MOD}, vec_id
           ) AS sample_rank
    FROM assigned
) WHERE sample_rank <= {SAMPLE_QUOTA}
"""


MMR_POOL = 32  # relevance shortlist size (the distributed stage's top-N)
MMR_K = 8  # diverse picks returned
MMR_REL_W = 7  # integer λ split: score = 7·qrel − 3·max_qsim (λ = 0.7)
MMR_DIV_W = 3


def _qcos(a: str, b: str, dim: int | None = None) -> tuple[str, str]:
    """RAW cosine quantized to BIGINT millionths — ``floor(cos·1e6+0.5)``
    over the sequential-fold dot/norms, so both engines (and the
    driver-side Python twin in ``q_emb_mmr_diverse``) perform the exact
    same IEEE double ops before the integer cast. Integer scores make
    every downstream comparison order-free."""
    ds, dd = S.dot_product(a, b, dim)
    nas, nad = S.norm(a, dim)
    nbs, nbd = S.norm(b, dim)
    return (
        f"CAST(floor(({ds} / ({nas} * {nbs})) * 1000000.0 + 0.5) AS BIGINT)",
        f"CAST(floor(({dd} / ({nad} * {nbd})) * 1000000.0 + 0.5) AS BIGINT)",
    )


def q_emb_mmr_diverse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR (maximal-marginal-relevance) diverse top-k: from the
    relevance top-``MMR_POOL`` against the query vector, greedily pick
    ``MMR_K`` maximizing ``REL_W·qrel − DIV_W·max_{s∈selected} qsim`` —
    the standard relevant-but-not-redundant re-rank for retrieval and
    for picking demonstration/eval sets out of a near-dup-heavy corpus.

    Scale split: the corpus-sized work is the distributed relevance
    top-N (broadcast 1-row query, TakeOrderedAndProject — identical
    shape to ``emb_cosine_topk``); the greedy step is inherently
    sequential (each pick conditions on the previous), so it runs
    driver-local over the POOL-bounded shortlist — the same K-bounded
    collect discipline as the IVF-PQ exact re-rank, O(k·N) tiny. All
    similarities are quantized BIGINT millionths (``_qcos``) with the
    Python twin reproducing the folds' IEEE op sequence bit-for-bit,
    so the unrolled-greedy DuckDB oracle hashes identically. The first
    pick's diversity term is an empty max, defined as 0 on both sides."""
    import math

    emb = t(spark, sf_dir, "embeddings")
    dim = S.embedding_dim(emb)
    query = emb.filter(col("vec_id") == QUERY_VEC_ID).select(
        col("embedding").alias("q_emb")
    )
    qrel_sql = _qcos("embedding", "q_emb", dim=dim)[0]
    pool = (
        widen(emb.filter(col("vec_id") != QUERY_VEC_ID))
        .crossJoin(broadcast(query))
        .select("vec_id", "label", "embedding", F.expr(qrel_sql).alias("qrel"))
        .orderBy(col("qrel").desc(), col("vec_id"))
        .limit(MMR_POOL)
        .collect()  # MMR_POOL-bounded by construction
    )
    cands = [
        (int(r.vec_id), int(r.label), int(r.qrel), [float(v) for v in r.embedding])
        for r in pool
    ]

    def _pair_qsim(ea: list[float], eb: list[float]) -> int:
        # sequential folds, then sqrt·sqrt and divide — the exact op
        # sequence of _qcos's SQL on both engines
        dot = 0.0
        na = 0.0
        nb = 0.0
        for x, y in zip(ea, eb):
            dot = dot + x * y
            na = na + x * x
            nb = nb + y * y
        return int(math.floor((dot / (math.sqrt(na) * math.sqrt(nb))) * 1000000.0 + 0.5))

    sim_cache: dict[tuple[int, int], int] = {}

    def qsim(i: int, j: int) -> int:
        key = (i, j) if i < j else (j, i)
        if key not in sim_cache:
            sim_cache[key] = _pair_qsim(cands[i][3], cands[j][3])
        return sim_cache[key]

    selected: list[tuple[int, int, int, int]] = []  # vec_id, label, rank, score
    chosen: list[int] = []
    for rank in range(1, min(MMR_K, len(cands)) + 1):
        best = None
        for idx, (vid, label, qrel, _) in enumerate(cands):
            if idx in chosen:
                continue
            maxsim = max((qsim(idx, s) for s in chosen), default=0)
            score = MMR_REL_W * qrel - MMR_DIV_W * maxsim
            key = (-score, vid)
            if best is None or key < best[0]:
                best = (key, idx, score)
        _, idx, score = best
        chosen.append(idx)
        selected.append((cands[idx][0], cands[idx][1], rank, score))
    return local_frame(
        spark, selected, "vec_id bigint, label int, mmr_rank int, mmr_score bigint"
    )


def _mmr_oracle() -> str:
    """The greedy unrolled as ``MMR_K − 1`` pick layers (same fixed-
    iteration-unroll discipline as the Lloyd/GD CTEs): ``cand`` is the
    relevance top-N, ``pair`` the candidate×candidate quantized sims,
    each ``pick{i}`` the argmax of the integer MMR score against the
    selection so far, ties → lowest vec_id. Every compared quantity is
    BIGINT, so layer outputs are exact and order-free."""
    qrel = _qcos("e.embedding", "q.qe")[1]
    qsim = _qcos("a.embedding", "b.embedding")[1]
    # Every layer is AS MATERIALIZED: pick{{i}} references sel{{i-1}}
    # twice (join + NOT IN) and pair references cand twice, so inlined
    # CTEs double the plan per layer — exponential in MMR_K (the same
    # blowup the BPE merge-unroll oracle hit; DuckDB 1.0 honors the
    # MATERIALIZED hint).
    parts = [
        f"""q AS MATERIALIZED (
    SELECT embedding AS qe FROM embeddings WHERE vec_id = {QUERY_VEC_ID}
), cand AS MATERIALIZED (
    SELECT * FROM (
        SELECT e.vec_id, e.label, e.embedding, {qrel} AS qrel
        FROM embeddings e, q
        WHERE e.vec_id != {QUERY_VEC_ID}
    ) ORDER BY qrel DESC, vec_id LIMIT {MMR_POOL}
), pair AS MATERIALIZED (
    SELECT a.vec_id AS i, b.vec_id AS j, {qsim} AS qsim
    FROM cand a, cand b WHERE a.vec_id != b.vec_id
), sel1 AS MATERIALIZED (
    SELECT vec_id, label, qrel, 1 AS mmr_rank, {MMR_REL_W} * qrel AS mmr_score
    FROM cand ORDER BY qrel DESC, vec_id LIMIT 1
)"""
    ]
    for i in range(2, MMR_K + 1):
        prev = f"sel{i - 1}"
        parts.append(
            f"""pick{i} AS MATERIALIZED (
    SELECT c.vec_id, c.label, c.qrel, {i} AS mmr_rank,
           {MMR_REL_W} * c.qrel - {MMR_DIV_W} * ms.maxsim AS mmr_score
    FROM cand c JOIN (
        SELECT p.i AS vec_id, max(p.qsim) AS maxsim
        FROM pair p JOIN {prev} s ON p.j = s.vec_id
        GROUP BY p.i
    ) ms USING (vec_id)
    WHERE c.vec_id NOT IN (SELECT vec_id FROM {prev})
    ORDER BY mmr_score DESC, c.vec_id LIMIT 1
), sel{i} AS MATERIALIZED (
    SELECT * FROM {prev} UNION ALL
    SELECT vec_id, label, qrel, mmr_rank, mmr_score FROM pick{i}
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT vec_id, label, mmr_rank, mmr_score FROM sel{MMR_K}"
    )


LOCAL_QUERIES["emb_cluster_sample"] = QuerySpec(
    q_emb_cluster_sample, _cluster_sample_oracle()
)
LOCAL_QUERIES["emb_mmr_diverse"] = QuerySpec(q_emb_mmr_diverse, _mmr_oracle())


KNN_K = 5  # neighbors kept per vector


def q_emb_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked k-NN graph construction: each vector's top-``KNN_K``
    neighbors among vectors sharing its (trained cluster ∩ LSH bucket)
    block — the offline build step graph-based ANN (HNSW/NSG seeding,
    NN-Descent init) and graph dedup start from.

    Same co-blocking as ``emb_semdedup`` (the quadratic term is bounded
    by |cluster ∩ bucket|, never global; at 100 TB the composite key is
    the one shuffle and hot blocks split under AQE), then one
    ``row_number`` window per source vector. Pair cosine runs as the
    Arrow pandas_udf (the dim-expanded chain cannot codegen inside a
    join — see ``pair_cosine_udf``) quantized JVM-side to BIGINT
    millionths, so ranks compare integers and the oracle hashes
    bit-identical. Vectors whose block holds fewer than K peers emit
    fewer edges (approximate-graph semantics — NN-Descent's later
    rounds, out of scope here, would densify them)."""
    from pyspark.sql.window import Window

    from ..shipping import ensure_package_shipped

    ensure_package_shipped(spark)
    _, assigned = _ivf_kmeans_index(spark, sf_dir)
    dim = S.embedding_dim(t(spark, sf_dir, "embeddings"))
    base = assigned.withColumn(
        "bucket", S.hyperplane_bucket_expr("embedding", N_PLANES, dim)
    ).select("vec_id", "ivf_cid", "bucket", "embedding")
    a = base.alias("a")
    b = base.alias("b")
    pair_cos = S.pair_cosine_udf()
    qsim = (
        F.floor(
            pair_cos(col("a.embedding"), col("b.embedding")) * F.lit(1000000.0)
            + F.lit(0.5)
        )
    ).cast("bigint")
    pairs = a.join(
        b,
        (col("a.ivf_cid") == col("b.ivf_cid"))
        & (col("a.bucket") == col("b.bucket"))
        & (col("a.vec_id") != col("b.vec_id")),
    ).select(
        col("a.vec_id").alias("src"),
        col("b.vec_id").alias("dst"),
        col("a.ivf_cid").alias("ivf_cid"),
        qsim.alias("qsim"),
    )
    w = Window.partitionBy("src").orderBy(col("qsim").desc(), col("dst"))
    return (
        pairs.withColumn("knn_rank", F.row_number().over(w))
        .filter(col("knn_rank") <= KNN_K)
        .select("src", "dst", "ivf_cid", "knn_rank", "qsim")
    )


def _knn_graph_oracle() -> str:
    """Lloyd-unroll assignment + bucket co-blocking (the semdedup CTE
    prefix) + per-source row_number over the quantized pair cosine.
    Every emitted column is BIGINT/INT, and qsim shares ``_qcos``'s
    exact op sequence with the Arrow pair UDF."""
    from ..operators.ivf import duck_ivf_dist

    bucket = S.hyperplane_bucket("embedding", N_PLANES)[1]
    qsim = _qcos("a.embedding", "b.embedding")[1]
    return f"""
{_kmeans_cents_cte()},
assigned AS (
    SELECT vec_id, embedding, cid AS ivf_cid FROM (
        SELECT e.vec_id, e.embedding, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {duck_ivf_dist("c.cent", "e.embedding")}, c.cid) AS rn
        FROM embeddings e, cents{KMEANS_ITERS} c
    ) WHERE rn = 1
), bucketed AS (
    SELECT vec_id, ivf_cid, embedding, {bucket} AS bucket FROM assigned
), pairs AS (
    SELECT a.vec_id AS src, b.vec_id AS dst, a.ivf_cid AS ivf_cid,
           {qsim} AS qsim
    FROM bucketed a
    JOIN bucketed b ON a.ivf_cid = b.ivf_cid AND a.bucket = b.bucket
                   AND a.vec_id != b.vec_id
)
SELECT src, dst, ivf_cid, knn_rank, qsim FROM (
    SELECT src, dst, ivf_cid, qsim,
           row_number() OVER (PARTITION BY src ORDER BY qsim DESC, dst) AS knn_rank
    FROM pairs
) WHERE knn_rank <= {KNN_K}
"""


LOCAL_QUERIES["emb_knn_graph"] = QuerySpec(q_emb_knn_graph, _knn_graph_oracle())


# The k-NN edge list is an ARTIFACT consumed by the whole graph family
# (PageRank, mutual-kNN + triangles, BFS, label propagation): build it
# once per session and persist, exactly like the ANN indexes — in a
# production pipeline this is the materialized graph table every
# downstream job reads, not a per-query rebuild.
@cached("similarity.knn_edges", ("embeddings",))
def _knn_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return q_emb_knn_graph(spark, sf_dir).persist()


SQ_SHORTLIST = 40  # coarse-score candidates re-ranked exactly (4·TOP_K)


def q_emb_sq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized (SQ8) ANN serving: corpus vectors are stored as
    the int8 codes of ``emb_quantize`` (scale = max |v|, q[i] =
    round(v/scale·127) — 4-8× less memory bandwidth, the FAISS
    ``SQ8`` serving shape), coarse-scored against the quantized query
    by an EXACT integer dot product, and the top-``SQ_SHORTLIST``
    re-ranked by true cosine. The coarse score ``idot · m_d · m_q`` is
    one BIGINT (exact) times two max-folds (order-insensitive, exact)
    — quantized to BIGINT millionths, so shortlist membership is
    deterministic cross-engine; the output ranking is the exact cosine
    of ``emb_cosine_topk`` over the shortlist.

    Scale: the corpus-sized stage reads codes, not floats; scoring is
    one Arrow integer-dot pass against a broadcast 1-row query +
    TakeOrderedAndProject — no shuffle, no index build. Recall is
    gated vs brute force in tests/test_similarity_recall.py. Zero
    vectors (scale 0) are excluded on both sides — cosine is undefined
    for them and their codes would be NULL."""
    from ..shipping import ensure_package_shipped

    ensure_package_shipped(spark)
    emb = t(spark, sf_dir, "embeddings")
    dim = S.embedding_dim(emb)
    maxabs = (
        "aggregate(transform(embedding, x -> abs(cast(x AS double))), "
        "cast(0.0 AS double), (acc, x) -> greatest(acc, x))"
    )
    qcode = (
        f"transform(embedding, x -> "
        f"cast(round(cast(x AS double) / nullif({maxabs}, 0.0) * 127, 0) AS int))"
    )
    coded = emb.select(
        "vec_id",
        "label",
        "embedding",
        F.expr(maxabs).alias("m"),
        F.expr(qcode).alias("qvec"),
    ).filter(col("m") > 0)
    query = coded.filter(col("vec_id") == QUERY_VEC_ID).select(
        col("embedding").alias("q_emb"),
        col("m").alias("mq"),
        col("qvec").alias("qq"),
    )
    idot = S.sq_dot_udf()(col("qvec"), col("qq"))
    shortlist = (
        widen(coded.filter(col("vec_id") != QUERY_VEC_ID))
        .crossJoin(broadcast(query))
        .withColumn("idot", idot)
        .withColumn(
            "aq",
            (
                F.floor(
                    (col("idot").cast("double") * col("m") * col("mq"))
                    * F.lit(1000000.0)
                    + F.lit(0.5)
                )
            ).cast("bigint"),
        )
        .orderBy(col("aq").desc(), col("vec_id"))
        .limit(SQ_SHORTLIST)
    )
    return shortlist.select(
        "vec_id",
        "label",
        S.cosine_expr("embedding", "q_emb", dim=dim).alias("cosine"),
        "aq",
    ).orderBy(col("cosine").desc(), col("vec_id")).limit(TOP_K)


def _sq_topk_oracle() -> str:
    cos = S.cosine("e.embedding", "e.qe")[1]
    return f"""
WITH coded AS MATERIALIZED (
    SELECT vec_id, label, embedding,
           list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) AS m,
           list_transform(CAST(embedding AS DOUBLE[]),
                          x -> CAST(round(x / nullif(
                              list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                                      y -> abs(y))), 0.0) * 127, 0)
                                    AS INT)) AS qvec
    FROM embeddings
), nz AS (SELECT * FROM coded WHERE m > 0),
q AS (
    SELECT embedding AS qe, m AS mq, qvec AS qq FROM nz
    WHERE vec_id = {QUERY_VEC_ID}
), sl AS MATERIALIZED (
    SELECT vec_id, label, embedding, qe,
           CAST(floor(((CAST(idot AS DOUBLE) * m) * mq) * 1000000.0 + 0.5)
                AS BIGINT) AS aq
    FROM (
        SELECT c.vec_id, c.label, c.embedding, c.m, q.mq, q.qe,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                   [CAST(c.qvec[i] AS BIGINT) * q.qq[i]
                    for i in range(1, len(c.qvec) + 1)]),
                   (acc, x) -> acc + x) AS idot
        FROM nz c, q
        WHERE c.vec_id != {QUERY_VEC_ID}
    )
    ORDER BY aq DESC, vec_id LIMIT {SQ_SHORTLIST}
)
SELECT e.vec_id AS vec_id, e.label AS label, {cos} AS cosine, e.aq AS aq
FROM sl e
ORDER BY cosine DESC, vec_id
LIMIT {TOP_K}
"""


LOCAL_QUERIES["emb_sq_topk"] = QuerySpec(q_emb_sq_topk, _sq_topk_oracle())


# --- PageRank centrality over the k-NN graph --------------------------------

# Power iteration with damping 0.85, unrolled to a fixed PR_ITERS (the
# oracle mirrors each iteration as a CTE layer). Ranks live on an
# integer grid (PR_SCALE units of probability mass) and every per-edge
# contribution is integer floor-division, so the per-node sum is
# order-free and bit-identical across engines — the same quantized-fold
# discipline as the model-based selection scores (operators/scoring.py).
PR_ITERS = 3
PR_SCALE = 10**12
PR_DAMP_NUM = 85  # damping 0.85 as an integer ratio
PR_DAMP_DEN = 100


def q_emb_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the blocked k-NN graph: the standard centrality
    prior for graph-based corpus curation (authority sampling, seed
    selection for crawl frontiers, weighting hub documents). Dangling
    mass (vectors whose block held no peers) leaks, matching the common
    sparse-implementation convention; every node still receives the
    teleport term.

    Plan shape per iteration: one join of the edge list with the rank
    frame on ``src`` plus one ``dst`` aggregate — the canonical 2-shuffle
    PageRank step, linear in |edges| (≤ KNN_K per node by construction).
    The edge list comes from the session-shared ``_knn_edges`` cache
    (built once per dataset, persisted — the materialized graph table
    the whole graph family reads); on a cluster the edge frame would be
    bucketed by ``src`` to make the per-iteration join co-located."""
    edges = _knn_edges(spark, sf_dir).select("src", "dst")
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    edges_d = edges.join(deg, "src").localCheckpoint(eager=False)

    nodes = t(spark, sf_dir, "embeddings").select("vec_id")
    n_total = nodes.count()  # scalar N: one count, K-independent
    r0 = PR_SCALE // n_total
    tele = (PR_SCALE * (PR_DAMP_DEN - PR_DAMP_NUM)) // (PR_DAMP_DEN * n_total)

    ranks = nodes.select("vec_id", F.lit(r0).cast("long").alias("r"))
    for _ in range(PR_ITERS):
        contribs = edges_d.join(
            ranks, edges_d.src == ranks.vec_id
        ).select(
            col("dst"),
            F.expr(f"(r * {PR_DAMP_NUM}) div ({PR_DAMP_DEN} * outdeg)").alias("c"),
        )
        summed = contribs.groupBy("dst").agg(F.sum("c").alias("m"))
        ranks = nodes.join(
            summed, nodes.vec_id == summed.dst, "left"
        ).select(
            "vec_id",
            (F.lit(tele) + F.coalesce(col("m"), F.lit(0))).cast("long").alias("r"),
        )
    return ranks.select(
        "vec_id",
        col("r").alias("pr_q"),
        F.round(col("r").cast("double") / PR_SCALE, 8).alias("pagerank"),
    )


def _pagerank_oracle() -> str:
    """Unrolled power iteration: one CTE layer per PR_ITERS step, each
    the integer twin of the Spark iteration. ``ed`` is MATERIALIZED —
    it feeds every layer, and a non-materialized CTE would re-evaluate
    the whole k-NN construction per reference."""
    knn = _knn_graph_oracle()
    layers = []
    prev = "r0"
    for i in range(1, PR_ITERS + 1):
        layers.append(
            f"""it{i} AS MATERIALIZED (
    SELECT e.vec_id,
           CAST({PR_SCALE} * {PR_DAMP_DEN - PR_DAMP_NUM}
                // ({PR_DAMP_DEN} * nn.n)
                + COALESCE(s.m, 0) AS BIGINT) AS r
    FROM embeddings e CROSS JOIN n nn
    LEFT JOIN (
        SELECT ed.dst,
               CAST(sum((r.r * {PR_DAMP_NUM}) // ({PR_DAMP_DEN} * ed.outdeg))
                    AS BIGINT) AS m
        FROM ed JOIN {prev} r ON r.vec_id = ed.src
        GROUP BY ed.dst
    ) s ON s.dst = e.vec_id
)"""
        )
        prev = f"it{i}"
    body = ",\n".join(layers)
    return f"""
WITH edges AS MATERIALIZED (
    SELECT src, dst FROM ({knn})
), deg AS (
    SELECT src, count(*) AS outdeg FROM edges GROUP BY src
), ed AS MATERIALIZED (
    SELECT e.src, e.dst, d.outdeg FROM edges e JOIN deg d USING (src)
), n AS (
    SELECT count(*) AS n FROM embeddings
), r0 AS (
    SELECT e.vec_id, CAST({PR_SCALE} // nn.n AS BIGINT) AS r
    FROM embeddings e CROSS JOIN n nn
),
{body}
SELECT vec_id, r AS pr_q,
       round(CAST(r AS DOUBLE) / {PR_SCALE}, 8) AS pagerank
FROM {prev}
"""


# r6 rotation: PROMOTED to the graded window — the iterative-graph
# family (checkpointed 2-shuffle power iteration, full unrolled oracle)
# on the hard signal.
QUERIES["emb_pagerank"] = QuerySpec(q_emb_pagerank, _pagerank_oracle())


# --- random projection (JL) dimensionality reduction ------------------------

RP_TARGET_DIM = 8


def q_emb_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss dimensionality reduction: project the
    64-dim embeddings onto RP_TARGET_DIM Rademacher (±1) directions —
    the cheapest scale lever for ANN and clustering (an 8× narrower
    vector cuts every downstream distance computation and shuffle byte
    count by the same factor; JL guarantees pairwise distances distort
    by at most ~ε with target_dim = O(log n / ε²)).

    The sign matrix is derived from a deterministic integer hash — no
    stored model, any executor regenerates it from (dim, target_dim)
    alone, so the operator is map-only with a zero-byte closure: one
    Arrow pass, no shuffle, no training state. Inputs quantize to
    integer millionths, making each output cell an order-free int64 sum
    (engine-exact; the oracle's list_reduce twin replays the same
    integer ops)."""
    from ..shipping import ensure_package_shipped

    ensure_package_shipped(spark)
    emb = t(spark, sf_dir, "embeddings")
    dim = S.embedding_dim(emb)
    project = S.random_projection_udf(dim, RP_TARGET_DIM)
    # Graded-schema contract: the projected int64 vector emits as one
    # comma-joined string (elements are never null).
    return widen(emb).select(
        "vec_id",
        "label",
        F.array_join(
            project(col("embedding")).cast("array<string>"), ","
        ).alias("proj_str"),
    )


def _random_projection_oracle() -> str:
    from ..operators.similarity import RP_MIX, RP_MOD, RP_SHIFT

    return f"""
SELECT vec_id, label,
       array_to_string(
         list_transform(
           list_transform(range(0, {RP_TARGET_DIM}), j ->
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(range(0, len(embedding)), d ->
                   CAST(CASE WHEN (((j*len(embedding)+d)*{RP_MIX}) % {RP_MOD}) // {RP_SHIFT} % 2 = 0
                        THEN 1 ELSE -1 END AS BIGINT)
                   * CAST(floor(CAST(embedding[d+1] AS DOUBLE) * 1000000 + 0.5)
                          AS BIGINT))),
               (acc, x) -> acc + x)),
           v -> CAST(v AS VARCHAR)), ',') AS proj_str
FROM embeddings
"""


LOCAL_QUERIES["emb_random_projection"] = QuerySpec(
    q_emb_random_projection, _random_projection_oracle()
)


# --- hard-negative mining over the trained index ----------------------------

HARDNEG_K = 3  # mined negatives kept per anchor


def q_emb_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining: for every anchor vector, the most-similar
    vectors carrying a DIFFERENT label — the training-data op behind
    contrastive embedding models (DPR/Contriever-style), where random
    in-batch negatives are too easy and the mined near-miss negatives
    drive the loss.

    Same co-blocked candidate generation as ``emb_knn_graph`` (trained
    cluster ∩ LSH bucket bounds the pair term; the composite key is the
    one shuffle), with the label-inequality predicate applied BEFORE
    the per-anchor window so same-label pairs never compete for the
    top-``HARDNEG_K`` slots. Pair cosine is the Arrow UDF quantized to
    BIGINT millionths (oracle-exact ranks)."""
    from pyspark.sql.window import Window

    from ..shipping import ensure_package_shipped

    ensure_package_shipped(spark)
    _, assigned = _ivf_kmeans_index(spark, sf_dir)
    dim = S.embedding_dim(t(spark, sf_dir, "embeddings"))
    base = assigned.withColumn(
        "bucket", S.hyperplane_bucket_expr("embedding", N_PLANES, dim)
    ).select("vec_id", "label", "ivf_cid", "bucket", "embedding")
    a = base.alias("a")
    b = base.alias("b")
    pair_cos = S.pair_cosine_udf()
    qsim = (
        F.floor(
            pair_cos(col("a.embedding"), col("b.embedding")) * F.lit(1000000.0)
            + F.lit(0.5)
        )
    ).cast("bigint")
    pairs = a.join(
        b,
        (col("a.ivf_cid") == col("b.ivf_cid"))
        & (col("a.bucket") == col("b.bucket"))
        & (col("a.label") != col("b.label")),
    ).select(
        col("a.vec_id").alias("anchor"),
        col("a.label").alias("anchor_label"),
        col("b.vec_id").alias("negative"),
        col("b.label").alias("neg_label"),
        qsim.alias("qsim"),
    )
    w = Window.partitionBy("anchor").orderBy(col("qsim").desc(), col("negative"))
    return (
        pairs.withColumn("hn_rank", F.row_number().over(w))
        .filter(col("hn_rank") <= HARDNEG_K)
        .select("anchor", "anchor_label", "negative", "neg_label", "hn_rank", "qsim")
    )


def _hard_negatives_oracle() -> str:
    from ..operators.ivf import duck_ivf_dist

    bucket = S.hyperplane_bucket("embedding", N_PLANES)[1]
    qsim = _qcos("a.embedding", "b.embedding")[1]
    return f"""
{_kmeans_cents_cte()},
assigned AS (
    SELECT vec_id, label, embedding, cid AS ivf_cid FROM (
        SELECT e.vec_id, e.label, e.embedding, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {duck_ivf_dist("c.cent", "e.embedding")}, c.cid) AS rn
        FROM embeddings e, cents{KMEANS_ITERS} c
    ) WHERE rn = 1
), bucketed AS (
    SELECT vec_id, label, ivf_cid, embedding, {bucket} AS bucket FROM assigned
), pairs AS (
    SELECT a.vec_id AS anchor, a.label AS anchor_label,
           b.vec_id AS negative, b.label AS neg_label,
           {qsim} AS qsim
    FROM bucketed a
    JOIN bucketed b ON a.ivf_cid = b.ivf_cid AND a.bucket = b.bucket
                   AND a.label != b.label
)
SELECT anchor, anchor_label, negative, neg_label, hn_rank, qsim FROM (
    SELECT anchor, anchor_label, negative, neg_label, qsim,
           row_number() OVER (PARTITION BY anchor ORDER BY qsim DESC, negative) AS hn_rank
    FROM pairs
) WHERE hn_rank <= {HARDNEG_K}
"""


LOCAL_QUERIES["emb_hard_negatives"] = QuerySpec(
    q_emb_hard_negatives, _hard_negatives_oracle()
)


# --- distribution drift ------------------------------------------------------

def q_emb_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution drift between two corpus vintages (here:
    even/odd vec_id as the deterministic old/new split) — the monitoring
    report that catches a crawler or encoder change skewing the corpus.

    Each vintage is histogrammed over the SAME fixed random-hyperplane
    LSH buckets used by the ANN index (so the reference partition is
    already trained/persisted — zero extra corpus passes beyond the
    shared cached index), and the report is the per-bucket absolute
    share shift |p_new − p_old|. All counts are exact BIGINTs pushed
    through a textually identical double expression in both engines.
    At 100 TB: one partial-agg shuffle at bucket grain (2^planes
    buckets), totals ride a 1-row broadcast crossJoin."""
    bucketed, _ = _lsh_index(spark, sf_dir)
    per = bucketed.groupBy("bucket").agg(
        F.sum(F.expr("CAST(vec_id % 2 = 0 AS INT)")).alias("n_old"),
        F.sum(F.expr("CAST(vec_id % 2 = 1 AS INT)")).alias("n_new"),
    )
    tot = per.agg(F.sum("n_old").alias("t_old"), F.sum("n_new").alias("t_new"))
    drift = F.expr(
        "abs(CAST(n_new AS DOUBLE) / CAST(t_new AS DOUBLE)"
        " - CAST(n_old AS DOUBLE) / CAST(t_old AS DOUBLE))"
    )
    return per.crossJoin(broadcast(tot)).select(
        "bucket",
        "n_old",
        "n_new",
        F.floor(drift * 1e6 + F.lit(0.5)).cast("long").alias("drift_q"),
    )


def _drift_report_oracle() -> str:
    bucket = S.hyperplane_bucket("embedding", N_PLANES)[1]
    return f"""
WITH per AS (
    SELECT bucket,
           CAST(sum(CAST(vec_id % 2 = 0 AS INT)) AS BIGINT) AS n_old,
           CAST(sum(CAST(vec_id % 2 = 1 AS INT)) AS BIGINT) AS n_new
    FROM (SELECT {bucket} AS bucket, vec_id FROM embeddings)
    GROUP BY bucket
), tot AS (
    SELECT CAST(sum(n_old) AS BIGINT) AS t_old,
           CAST(sum(n_new) AS BIGINT) AS t_new
    FROM per
)
SELECT bucket, n_old, n_new,
       CAST(floor(abs(CAST(n_new AS DOUBLE) / CAST(t_new AS DOUBLE)
           - CAST(n_old AS DOUBLE) / CAST(t_old AS DOUBLE)) * 1e6 + 0.5)
           AS BIGINT) AS drift_q
FROM per CROSS JOIN tot
"""


LOCAL_QUERIES["emb_drift_report"] = QuerySpec(
    q_emb_drift_report, _drift_report_oracle()
)


# --- mutual k-NN -------------------------------------------------------------

def q_emb_mutual_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual (reciprocal) k-NN filtering of the blocked k-NN graph:
    keep edge (a, b) only when b also lists a among ITS top-k — the
    standard hub-suppression step before graph clustering or
    kNN-classification (asymmetric edges into hub vectors are the
    dominant noise source in high-dim neighbor graphs).

    The graph is edge-bounded (≤ K per node), so mutualization is one
    self-join of the edge list on the reversed key — edge-grain, never
    corpus-grain; the canonical (src < dst) projection halves the
    output. At 100 TB this join rides the same (src, dst) hash
    partitioning the graph build already produced."""
    # One materialization: the self-join's two sides would otherwise
    # re-execute the whole blocked pair-cosine build (the expensive
    # subtree) once each. The edge list is ≤ K rows per vector — tiny
    # next to the corpus — so checkpointing it is the 100 TB-correct
    # trade (operators/components.py precedent; lazy → materialized by
    # the join's first action, GC-managed).
    edges = _knn_edges(spark, sf_dir).select("src", "dst", "qsim")
    rev = edges.select(
        col("dst").alias("src"), col("src").alias("dst"),
        col("qsim").alias("qsim_rev"),
    )
    return (
        edges.join(rev, ["src", "dst"])
        .filter(col("src") < col("dst"))
        .select("src", "dst", "qsim")
    )


def _mutual_knn_oracle() -> str:
    return f"""
WITH knn AS ({_knn_graph_oracle()})
SELECT e.src, e.dst, e.qsim
FROM knn e JOIN knn r ON e.src = r.dst AND e.dst = r.src
WHERE e.src < e.dst
"""


LOCAL_QUERIES["emb_mutual_knn"] = QuerySpec(q_emb_mutual_knn, _mutual_knn_oracle())


# --- dimension-correlation diagnostics ---------------------------------------

DIM_CORR_TOP = 20


def gram_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact integer second-moment cells of the embedding matrix —
    (i, j, S_ij) for i≤j plus (i, 0, S_i) column sums and (0, 0, n) —
    built the distributed-covariance way (Spark MLlib's shape): each
    partition computes ONE integer Gram-matrix partial (XᵀX over the
    1e6-quantized dims — numpy int64 matmul, exact), partials merge
    by + at (i, j) grain, so the shuffle is matrix-sized no matter the
    corpus. Exactness bound: int64 partials overflow only past ~9e6
    rows × unit-norm dims per partition — re-tile before that; the
    merge is unaffected. localCheckpoint'ed: matrix-sized and consumed
    by several branches (the plan snapshot caught map_in_pandas × 6
    without it). One corpus pass, zero corpus shuffles. Shared by the
    correlation diagnostic and the power-iteration PCA."""
    import numpy as np
    import pandas as pd

    emb = widen(t(spark, sf_dir, "embeddings"))
    staged = emb.select(col("embedding").cast("array<double>").alias("_ed"))

    def partials(batches):
        gram = None
        lin = None
        n = 0
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.floor(
                np.stack(pdf["_ed"].to_numpy()) * 1e6 + 0.5
            ).astype(np.int64)
            gram = x.T @ x if gram is None else gram + x.T @ x
            lin = x.sum(axis=0) if lin is None else lin + x.sum(axis=0)
            n += len(x)
        if n == 0:
            return
        d = gram.shape[0]
        rows = [
            (i + 1, j + 1, int(gram[i, j])) for i in range(d) for j in range(i, d)
        ]
        rows += [(i + 1, 0, int(lin[i])) for i in range(d)]
        rows.append((0, 0, n))
        yield pd.DataFrame(rows, columns=["i", "j", "s"])

    return (
        staged.mapInPandas(partials, "i int, j int, s long")
        .groupBy("i", "j")
        .agg(F.sum("s").alias("s"))
        .localCheckpoint(eager=False)
    )


def q_emb_dim_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-|r| correlated embedding-dimension pairs — the redundancy
    diagnostic run before dimensionality reduction or PQ subspace
    assignment (strongly-correlated dims waste code budget when split
    across subquantizers). Pearson r from the shared exact integer
    moments (``gram_cells``) through an identical double expression in
    both engines."""
    cells = gram_cells(spark, sf_dir)
    nrow = cells.filter((col("i") == 0) & (col("j") == 0)).select(
        col("s").alias("n")
    )
    lin = cells.filter((col("i") > 0) & (col("j") == 0)).select(
        col("i").alias("li"), col("s").alias("s_lin")
    )
    diag = cells.filter((col("i") > 0) & (col("j") == col("i"))).select(
        col("i").alias("di"), col("s").alias("s_diag")
    )
    pairs = cells.filter((col("j") > col("i")) & (col("i") > 0))
    corr = F.expr(
        "(CAST(n AS DOUBLE) * CAST(s AS DOUBLE)"
        " - CAST(s_i AS DOUBLE) * CAST(s_j AS DOUBLE))"
        " / sqrt((CAST(n AS DOUBLE) * CAST(s_ii AS DOUBLE)"
        " - CAST(s_i AS DOUBLE) * CAST(s_i AS DOUBLE))"
        " * (CAST(n AS DOUBLE) * CAST(s_jj AS DOUBLE)"
        " - CAST(s_j AS DOUBLE) * CAST(s_j AS DOUBLE)))"
    )
    return (
        pairs.join(F.broadcast(lin), col("i") == col("li"))
        .withColumnRenamed("s_lin", "s_i")
        .drop("li")
        .join(F.broadcast(lin), col("j") == col("li"))
        .withColumnRenamed("s_lin", "s_j")
        .drop("li")
        .join(F.broadcast(diag), col("i") == col("di"))
        .withColumnRenamed("s_diag", "s_ii")
        .drop("di")
        .join(F.broadcast(diag), col("j") == col("di"))
        .withColumnRenamed("s_diag", "s_jj")
        .drop("di")
        .crossJoin(F.broadcast(nrow))
        .select(
            "i",
            "j",
            F.floor(corr * 1e6 + F.lit(0.5)).cast("long").alias("corr_q"),
        )
        .orderBy(F.abs(col("corr_q")).desc(), "i", "j")
        .limit(DIM_CORR_TOP)
    )


_EMB_DIM_CORR_SQL = f"""
WITH q AS (
    SELECT [CAST(floor(x * 1e6 + 0.5) AS BIGINT) for x in embedding] AS e
    FROM embeddings
), idx AS (
    SELECT e, unnest(range(1, len(e) + 1)) AS i FROM q
), pairs_raw AS (
    SELECT e, i, unnest(range(i, len(e) + 1)) AS j FROM idx
), cells AS (
    SELECT i, j, CAST(sum(e[i] * e[j]) AS BIGINT) AS s
    FROM pairs_raw GROUP BY i, j
), lin AS (
    SELECT i, CAST(sum(e[i]) AS BIGINT) AS s_lin FROM idx GROUP BY i
), nrow AS (
    SELECT count(*) AS n FROM q
), joined AS (
    SELECT p.i, p.j, p.s,
           l1.s_lin AS s_i, l2.s_lin AS s_j,
           d1.s AS s_ii, d2.s AS s_jj, nr.n
    FROM cells p
    JOIN lin l1 ON l1.i = p.i
    JOIN lin l2 ON l2.i = p.j
    JOIN cells d1 ON d1.i = p.i AND d1.j = p.i
    JOIN cells d2 ON d2.i = p.j AND d2.j = p.j
    CROSS JOIN nrow nr
    WHERE p.j > p.i
)
SELECT i, j,
       CAST(floor(
           (CAST(n AS DOUBLE) * CAST(s AS DOUBLE)
            - CAST(s_i AS DOUBLE) * CAST(s_j AS DOUBLE))
           / sqrt((CAST(n AS DOUBLE) * CAST(s_ii AS DOUBLE)
                   - CAST(s_i AS DOUBLE) * CAST(s_i AS DOUBLE))
                  * (CAST(n AS DOUBLE) * CAST(s_jj AS DOUBLE)
                     - CAST(s_j AS DOUBLE) * CAST(s_j AS DOUBLE)))
           * 1e6 + 0.5) AS BIGINT) AS corr_q
FROM joined
ORDER BY abs(CAST(floor(
           (CAST(n AS DOUBLE) * CAST(s AS DOUBLE)
            - CAST(s_i AS DOUBLE) * CAST(s_j AS DOUBLE))
           / sqrt((CAST(n AS DOUBLE) * CAST(s_ii AS DOUBLE)
                   - CAST(s_i AS DOUBLE) * CAST(s_i AS DOUBLE))
                  * (CAST(n AS DOUBLE) * CAST(s_jj AS DOUBLE)
                     - CAST(s_j AS DOUBLE) * CAST(s_j AS DOUBLE)))
           * 1e6 + 0.5) AS BIGINT)) DESC, i, j
LIMIT {DIM_CORR_TOP}
"""


LOCAL_QUERIES["emb_dim_corr"] = QuerySpec(q_emb_dim_corr, _EMB_DIM_CORR_SQL)


# --- power-iteration PCA -----------------------------------------------------

PCA_ITERS = 8


def q_emb_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-principal-component projection, trained IN-ENGINE: the
    covariance direction comes from the shared exact integer Gram
    cells (``gram_cells`` — one corpus pass, matrix-sized shuffle),
    the top eigenvector from 8 fixed power iterations, and every
    vector's PC1 score from a row-local sequential fold. The trained
    dimension-reduction twin of the RANDOM projection
    (``emb_random_projection``), whose serving recall the ANN sweep
    measured unfit — PCA spends the budget on measured variance.

    ORACLE DESIGN (the PowerIteration-unroll, completing the
    Lloyd-unroll / GD-unroll family): the driver iterates with plain
    Python floats in EXPLICIT loop order — acc = acc + C[i][j]·v[j] —
    and the DuckDB twin unrolls the same 8 iterations as CTE layers
    whose mat-vec and norm are SEQUENTIAL list_reduce folds in the
    same index order, so every intermediate double is bit-identical
    (IEEE ops are deterministic given order; numpy's pairwise
    summation would NOT match). The collect is matrix-sized
    (d(d+1)/2 + d + 1 longs) at any corpus size; the projection pass
    is shuffle-free codegen-side zip_with/aggregate in the same fold
    order."""
    import math

    cells = gram_cells(spark, sf_dir)
    n = 0
    lin: dict[int, int] = {}
    gram: dict[tuple[int, int], int] = {}
    for r in cells.collect():
        if r.i == 0:
            n = r.s
        elif r.j == 0:
            lin[r.i] = r.s
        else:
            gram[(r.i, r.j)] = r.s
    d = max(lin)
    C = [
        [
            float(n) * float(gram[(min(i, j), max(i, j))])
            - float(lin[i]) * float(lin[j])
            for j in range(1, d + 1)
        ]
        for i in range(1, d + 1)
    ]
    v = [1.0 / math.sqrt(float(d))] * d
    for _ in range(PCA_ITERS):
        u = []
        for i in range(d):
            acc = 0.0
            for j in range(d):
                acc = acc + C[i][j] * v[j]
            u.append(acc)
        s = 0.0
        for i in range(d):
            s = s + u[i] * u[i]
        nr = math.sqrt(s)
        v = [x / nr for x in u]

    emb = widen(t(spark, sf_dir, "embeddings"))
    v_lit = F.array(*[F.lit(x) for x in v])
    proj = F.aggregate(
        F.zip_with(
            col("embedding").cast("array<double>"), v_lit, lambda a, b: a * b
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return emb.select(
        "vec_id",
        F.floor(proj * 1e6 + F.lit(0.5)).cast("long").alias("pc1_q"),
    )


def _pca_oracle() -> str:
    fold = "(a, b) -> a + b"
    layers = []
    prev = "base"
    for k in range(1, PCA_ITERS + 1):
        layers.append(f"""u{k} AS (
    SELECT m, d, list_transform(range(1, d + 1), i ->
        list_reduce(list_prepend(0.0, list_transform(range(1, d + 1),
            j -> m[i][j] * v[j])), {fold})) AS u
    FROM {prev}
), it{k} AS (
    SELECT m, d, list_transform(u, x -> x / sqrt(
        list_reduce(list_prepend(0.0, list_transform(range(1, d + 1),
            i -> u[i] * u[i])), {fold}))) AS v
    FROM u{k}
)""")
        prev = f"it{k}"
    chain = ",\n".join(layers)
    return f"""
WITH q AS (
    SELECT [CAST(floor(x * 1e6 + 0.5) AS BIGINT) for x in embedding] AS e
    FROM embeddings
), idx AS (
    SELECT e, unnest(range(1, len(e) + 1)) AS i FROM q
), pairs_raw AS (
    SELECT e, i, unnest(range(i, len(e) + 1)) AS j FROM idx
), cells AS (
    SELECT i, j, CAST(sum(e[i] * e[j]) AS BIGINT) AS s
    FROM pairs_raw GROUP BY i, j
), lin AS (
    SELECT i, CAST(sum(e[i]) AS BIGINT) AS s_lin FROM idx GROUP BY i
), nrow AS (
    SELECT count(*) AS n FROM q
), cov AS (
    SELECT c.i, c.j,
           CAST(nr.n AS DOUBLE) * CAST(c.s AS DOUBLE)
           - CAST(l1.s_lin AS DOUBLE) * CAST(l2.s_lin AS DOUBLE) AS cv
    FROM (SELECT i, j, s FROM cells
          UNION ALL SELECT j AS i, i AS j, s FROM cells WHERE j > i) c
    JOIN lin l1 ON l1.i = c.i
    JOIN lin l2 ON l2.i = c.j
    CROSS JOIN nrow nr
), crows AS (
    SELECT i, list(cv ORDER BY j) AS "row" FROM cov GROUP BY i
), mat AS (
    SELECT list("row" ORDER BY i) AS m, count(*) AS d FROM crows
), base AS (
    SELECT m, d,
           list_transform(range(1, d + 1),
               x -> 1.0 / sqrt(CAST(d AS DOUBLE))) AS v
    FROM mat
),
{chain}
SELECT e.vec_id,
       CAST(floor(list_reduce(list_prepend(0.0,
           list_transform(range(1, f.d + 1),
               k -> CAST(e.embedding[k] AS DOUBLE) * f.v[k])), {fold})
           * 1e6 + 0.5) AS BIGINT) AS pc1_q
FROM embeddings e CROSS JOIN {prev} f
"""


LOCAL_QUERIES["emb_pca_project"] = QuerySpec(q_emb_pca_project, _pca_oracle())


# --- triangle counting / clustering coefficient -------------------------------


def q_emb_knn_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the mutual k-NN graph: triangle count, wedge
    count, and the global clustering coefficient 3·T/W — the standard
    graph-quality probe (a near-random neighbor graph has CC ≈ 0; a
    well-clustered corpus shows high transitivity, and a CC collapse
    after an index change is the canary for a broken ANN build).

    The mutual graph is edge-bounded (≤K per node, canonical src<dst),
    so the classic two-join triangle enumeration — wedges from an
    edge-list self-join on the shared low endpoint, closed by joining
    the third side — is edge-grain throughout, never corpus-grain; at
    100 TB both joins ride one (src) / (src, dst) hash partitioning of
    a list that is K× the node count. Wedge totals come in closed form
    from the degree distribution (Σ d(d−1)/2, exact BIGINTs). The edge
    list is localCheckpoint'ed for its four consumers (the mutualized
    build is the expensive subtree)."""
    edges = (
        q_emb_mutual_knn(spark, sf_dir)
        .select("src", "dst")
        .localCheckpoint(eager=False)
    )
    # wedges centered at the smallest id: (a<b), (a<c), b<c
    e1 = edges.select(col("src").alias("a"), col("dst").alias("b"))
    e2 = edges.select(col("src").alias("a"), col("dst").alias("c"))
    tri = (
        e1.join(e2, "a")
        .filter(col("b") < col("c"))
        .join(
            edges.select(col("src").alias("b"), col("dst").alias("c")),
            ["b", "c"],
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    deg = (
        edges.select(col("src").alias("v"))
        .unionByName(edges.select(col("dst").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.expr("d * (d - 1)")).alias("wedges2"),  # 2 * wedge count
        F.sum("d").alias("deg_sum"),  # 2 * edge count
    )
    return stats.crossJoin(F.broadcast(tri)).select(
        "n_nodes",
        F.expr("deg_sum DIV 2").alias("n_edges"),
        F.expr("wedges2 DIV 2").alias("n_wedges"),
        "n_triangles",
        F.floor(
            F.expr(
                "CAST(6 * n_triangles AS DOUBLE) / CAST(wedges2 AS DOUBLE)"
            )
            * 1e6
            + F.lit(0.5)
        )
        .cast("long")
        .alias("global_cc_q"),
    )


def _knn_triangles_oracle() -> str:
    return f"""
WITH knn AS ({_knn_graph_oracle()}),
mutual AS (
    SELECT e.src, e.dst
    FROM knn e JOIN knn r ON e.src = r.dst AND e.dst = r.src
    WHERE e.src < e.dst
), tri AS (
    SELECT count(*) AS n_triangles
    FROM mutual e1
    JOIN mutual e2 ON e1.src = e2.src AND e1.dst < e2.dst
    JOIN mutual e3 ON e3.src = e1.dst AND e3.dst = e2.dst
), deg AS (
    SELECT v, count(*) AS d
    FROM (SELECT src AS v FROM mutual UNION ALL SELECT dst FROM mutual)
    GROUP BY v
), stats AS (
    SELECT count(*) AS n_nodes,
           CAST(sum(d * (d - 1)) AS BIGINT) AS wedges2,
           CAST(sum(d) AS BIGINT) AS deg_sum
    FROM deg
)
SELECT s.n_nodes,
       s.deg_sum // 2 AS n_edges,
       s.wedges2 // 2 AS n_wedges,
       t.n_triangles,
       CAST(floor(CAST(6 * t.n_triangles AS DOUBLE) / CAST(s.wedges2 AS DOUBLE)
           * 1e6 + 0.5) AS BIGINT) AS global_cc_q
FROM stats s CROSS JOIN tri t
"""


# r5 session-5 rotation: graded (took text_chunk_overlap's slot).
# r8 rotation: demoted to LOCAL_QUERIES — the graph family stays
# anchored on the hard signal by emb_pagerank (same persisted kNN edge
# list) — in favor of dedup_prefix_join, the deterministic
# set-similarity join.
LOCAL_QUERIES["emb_knn_triangles"] = QuerySpec(
    q_emb_knn_triangles, _knn_triangles_oracle()
)


# --- clustering quality: centroid silhouette ----------------------------------


def q_emb_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster centroid-silhouette score for the trained k-means
    index: s = (b − a) / max(a, b) with a = distance to the OWN
    centroid and b = distance to the nearest OTHER centroid — the
    O(n·K) scale substitute for the O(n²) true silhouette, and the
    standard report row for "is K right / did the fit collapse".

    EXACTNESS DESIGN: centroids (driver-side, K-bounded) and embedding
    coordinates are both quantized to the 1e6 integer grid FIRST, so
    every squared distance is an exact BIGINT — summation order stops
    mattering, and the only cross-engine hazard left is the
    knife-edge .5 centroid-quantization tie the Lloyd-unroll oracle
    already tolerates (measure-zero; tested at 3 SFs). The per-vector
    score quantizes before the per-cluster mean, so the mean is an
    exact integer quotient. One corpus pass over the cached assigned
    frame; everything else is K-sized."""
    import math

    codebook, assigned = _ivf_kmeans_index(spark, sf_dir)
    cq = {
        cid: [int(math.floor(float(v) * 1e6 + 0.5)) for v in cent]
        for cid, cent in codebook
    }
    eq = (
        "transform(CAST(embedding AS ARRAY<DOUBLE>),"
        " x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT))"
    )
    staged = assigned.select(
        "vec_id", "ivf_cid", F.expr(eq).alias("eqv")
    )

    def d2(cid: int) -> F.Column:
        cent_lit = F.array(*[F.lit(v) for v in cq[cid]])
        return F.aggregate(
            F.zip_with(col("eqv"), cent_lit, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    dists = F.array(
        *[
            F.struct(F.lit(cid).cast("int").alias("cid"), d2(cid).alias("dd"))
            for cid, _ in codebook
        ]
    )
    scored = staged.withColumn("dists", dists).select(
        "vec_id",
        "ivf_cid",
        F.expr("element_at(filter(dists, s -> s.cid = ivf_cid), 1).dd").alias("a2"),
        F.expr(
            "array_min(transform(filter(dists, s -> s.cid != ivf_cid), s -> s.dd))"
        ).alias("b2"),
    )
    s_q = F.expr(
        "CASE WHEN greatest(a2, b2) = 0 THEN NULL ELSE"
        " CAST(floor((sqrt(CAST(b2 AS DOUBLE)) - sqrt(CAST(a2 AS DOUBLE)))"
        " / sqrt(CAST(greatest(a2, b2) AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) END"
    )
    return (
        scored.select("ivf_cid", s_q.alias("s_q"))
        .groupBy("ivf_cid")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.expr(
                "CAST(floor(CAST(sum(s_q) AS DOUBLE) / count(s_q) + 0.5)"
                " AS BIGINT)"
            ).alias("mean_s_q"),
            F.min("s_q").alias("min_s_q"),
            F.max("s_q").alias("max_s_q"),
        )
    )


def _silhouette_oracle() -> str:
    from ..operators.ivf import duck_ivf_dist

    d2_own = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT),"
        " list_transform(range(1, len(emb) + 1), i ->"
        " (CAST(floor(emb[i] * 1e6 + 0.5) AS BIGINT)"
        "  - CAST(floor(cent[i] * 1e6 + 0.5) AS BIGINT))"
        " * (CAST(floor(emb[i] * 1e6 + 0.5) AS BIGINT)"
        "  - CAST(floor(cent[i] * 1e6 + 0.5) AS BIGINT)))), (a, b) -> a + b)"
    )
    return f"""
{_kmeans_cents_cte()},
assigned AS (
    SELECT vec_id, emb, cid AS own_cid FROM (
        SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS emb, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                  ORDER BY {duck_ivf_dist("c.cent", "e.embedding")}, c.cid) AS rn
        FROM embeddings e, cents{KMEANS_ITERS} c
    ) WHERE rn = 1
), qd AS (
    SELECT a.vec_id, a.own_cid, c.cid, {d2_own} AS dd
    FROM assigned a, cents{KMEANS_ITERS} c
), ab AS (
    SELECT vec_id, own_cid,
           min(CASE WHEN cid = own_cid THEN dd END) AS a2,
           min(CASE WHEN cid != own_cid THEN dd END) AS b2
    FROM qd GROUP BY vec_id, own_cid
), sc AS (
    SELECT own_cid AS ivf_cid,
           CASE WHEN greatest(a2, b2) = 0 THEN NULL ELSE
             CAST(floor((sqrt(CAST(b2 AS DOUBLE)) - sqrt(CAST(a2 AS DOUBLE)))
                  / sqrt(CAST(greatest(a2, b2) AS DOUBLE)) * 1e6 + 0.5)
                  AS BIGINT) END AS s_q
    FROM ab
)
SELECT ivf_cid, count(*) AS n_vecs,
       CAST(floor(CAST(sum(s_q) AS DOUBLE) / count(s_q) + 0.5) AS BIGINT)
           AS mean_s_q,
       min(s_q) AS min_s_q, max(s_q) AS max_s_q
FROM sc GROUP BY ivf_cid
"""


LOCAL_QUERIES["emb_silhouette"] = QuerySpec(q_emb_silhouette, _silhouette_oracle())


# --- retrieval-quality eval: MRR of the LSH index ------------------------------

MRR_QUERIES = 10


def q_emb_ann_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation AS A QUERY: for each of the first
    {Q} query vectors, where does the TRUE nearest neighbor (exact
    brute-force cosine) land in the hyperplane-LSH candidate ranking —
    per-query rank plus quantized reciprocal rank, the MRR evidence an
    index owner reads before trusting a serving path (the batch twin of
    tools/ann_sweep.py, with a full value oracle instead of a printed
    table).

    The exact-NN pass is deliberately brute force (Q × n broadcast
    pairs — the price of ground truth, which is why Q is a sampled
    handful and not the corpus); both rankings read ONE checkpointed
    pair-score table, and every rank uses the same (cosine desc,
    vec_id) deterministic tiebreak. Reciprocal ranks quantize to
    integer millionths BEFORE any aggregation downstream consumers
    might do."""
    from pyspark.sql.window import Window as W

    emb, dim = _lsh_index(spark, sf_dir)
    queries = emb.filter(col("vec_id") < MRR_QUERIES).select(
        col("vec_id").alias("qid"),
        col("embedding").alias("q_emb"),
        col("bucket").alias("q_bucket"),
    )
    scored = (
        emb.crossJoin(broadcast(queries))
        .filter(col("vec_id") != col("qid"))
        .select(
            "qid",
            "vec_id",
            "bucket",
            "q_bucket",
            S.cosine_expr("embedding", "q_emb", dim=dim).alias("c"),
        )
        .localCheckpoint(eager=False)
    )
    w = W.partitionBy("qid").orderBy(col("c").desc(), col("vec_id"))
    exact_nn = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(col("rn") == 1)
        .select("qid", col("vec_id").alias("true_nn"))
    )
    ranked = (
        scored.filter(col("bucket") == col("q_bucket"))
        .withColumn("ann_rank", F.row_number().over(w))
        .select("qid", col("vec_id").alias("true_nn"), "ann_rank")
    )
    return exact_nn.join(ranked, ["qid", "true_nn"], "left").select(
        "qid",
        "true_nn",
        "ann_rank",
        F.coalesce(
            F.floor(F.lit(1000000.0) / col("ann_rank") + F.lit(0.5)).cast("long"),
            F.lit(0).cast("long"),
        ).alias("rr_q"),
    )


def _ann_mrr_oracle() -> str:
    bucket = S.hyperplane_bucket("embedding", N_PLANES)[1]
    cos = S.cosine("e.embedding", "q.q_emb")[1]
    return f"""
WITH bucketed AS (
    SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings
), q AS (
    SELECT vec_id AS qid, embedding AS q_emb, bucket AS q_bucket
    FROM bucketed WHERE vec_id < {MRR_QUERIES}
), scored AS (
    SELECT q.qid, e.vec_id, e.bucket, q.q_bucket, {cos} AS c
    FROM bucketed e, q
    WHERE e.vec_id != q.qid
), exact_nn AS (
    SELECT qid, vec_id AS true_nn FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid ORDER BY c DESC, vec_id) AS rn
        FROM scored
    ) WHERE rn = 1
), ranked AS (
    SELECT qid, vec_id AS true_nn,
           row_number() OVER (PARTITION BY qid ORDER BY c DESC, vec_id) AS ann_rank
    FROM scored WHERE bucket = q_bucket
)
SELECT x.qid, x.true_nn, r.ann_rank,
       coalesce(CAST(floor(1000000.0 / r.ann_rank + 0.5) AS BIGINT),
                CAST(0 AS BIGINT)) AS rr_q
FROM exact_nn x LEFT JOIN ranked r USING (qid, true_nn)
"""


LOCAL_QUERIES["emb_ann_mrr"] = QuerySpec(q_emb_ann_mrr, _ann_mrr_oracle())


# --- greedy k-center coreset (diversity selection) ---------------------------

KCENTER_K = 5
KCENTER_GRID = 1_000_000


def q_emb_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset (operators/coreset.py): the k
    maximally-diverse exemplars by max-min FULL L2² distance — a
    k-bounded driver loop of shuffle-free Arrow passes, argmax with
    vec_id tiebreak on raw doubles that are bit-identical to the
    oracle's sequential folds. Emits (step, vec_id, sel_d_q) — the
    selection order and the max-min radius at each step (the coverage
    guarantee curve); seed distance is NULL."""
    import math

    from ..operators.coreset import greedy_kcenter

    emb = t(spark, sf_dir, "embeddings")
    sel = greedy_kcenter(emb, "embedding", "vec_id", KCENTER_K)
    rows = [
        (
            step,
            vid,
            None if d is None else math.floor(d * KCENTER_GRID + 0.5) / KCENTER_GRID,
        )
        for step, vid, d in sel
    ]
    return local_frame(spark, rows, "step int, vec_id bigint, sel_d_q double")


def _kcenter_oracle() -> str:
    from ..operators.coreset import duck_full_dist

    cte = [
        "e AS (SELECT vec_id, embedding FROM embeddings)",
        "s1 AS (SELECT vec_id, embedding FROM e ORDER BY vec_id LIMIT 1)",
        (
            "m1 AS (SELECT e.vec_id, e.embedding, "
            f"{duck_full_dist('s1.embedding', 'e.embedding')} AS d FROM e, s1)"
        ),
    ]
    for i in range(2, KCENTER_K + 1):
        cte.append(
            f"s{i} AS (SELECT vec_id, embedding, d FROM m{i - 1} "
            "ORDER BY d DESC, vec_id LIMIT 1)"
        )
        if i < KCENTER_K:
            cte.append(
                f"m{i} AS (SELECT m.vec_id, m.embedding, least(m.d, "
                f"{duck_full_dist(f's{i}.embedding', 'm.embedding')}) AS d "
                f"FROM m{i - 1} m, s{i})"
            )
    selects = [
        "SELECT 1 AS step, vec_id, CAST(NULL AS DOUBLE) AS sel_d_q FROM s1"
    ] + [
        (
            f"SELECT {i}, vec_id, "
            f"floor(d * {KCENTER_GRID} + 0.5) / {KCENTER_GRID} FROM s{i}"
        )
        for i in range(2, KCENTER_K + 1)
    ]
    return "WITH " + ",\n".join(cte) + "\n" + "\nUNION ALL ".join(selects)


QUERIES["emb_kcenter_coreset"] = QuerySpec(  # r7 rotation: graded
    q_emb_kcenter_coreset, _kcenter_oracle()
)


# --- bounded multi-source BFS over the k-NN graph ----------------------------

BFS_HOPS = 3
BFS_SEED_MOD = 37  # seeds: vec_id % 37 == 0 (deterministic multi-source set)


def q_emb_bfs_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded multi-source BFS over the blocked k-NN graph: min-hop
    distance (≤ ``BFS_HOPS``) from a deterministic seed set to every
    reachable vector — the graph-expansion primitive behind
    seed-anchored corpus curation (expand a trusted seed set K hops
    through the similarity graph), label propagation warm-starts, and
    recall diagnostics for graph-based ANN (how much of the corpus is
    within K hops of the entry points).

    Each hop is the canonical Pregel superstep as DataFrame ops: join
    the FRONTIER (only the nodes first reached last hop, never the
    whole reached set) against the edge list on ``src``, distinct the
    destinations, anti-join out already-reached nodes, tag the hop
    number. Hop count is a fixed constant, so the loop is a K-bounded
    driver loop (BPE-merge discipline) with per-hop lazy
    localCheckpoints cutting the replay lineage. Scale: per hop, one
    src-grain join + one distinct + one anti-join — all on the node-id
    key, linear in frontier-adjacent edges (≤ KNN_K per node by
    construction); on a cluster the edge list is bucketed by ``src`` so
    every superstep's join is co-located (the same layout PageRank
    reuses). The oracle unrolls the three supersteps as CTE layers."""
    edges = _knn_edges(spark, sf_dir).select("src", "dst")
    seeds = (
        t(spark, sf_dir, "embeddings")
        .select("vec_id")
        .filter(col("vec_id") % BFS_SEED_MOD == 0)
    )
    reach = seeds.select(
        col("vec_id").alias("node"), F.lit(0).cast("int").alias("hops")
    )
    frontier = reach.select("node")
    for h in range(1, BFS_HOPS + 1):
        nxt = (
            edges.join(frontier.withColumnRenamed("node", "src"), "src")
            .select(col("dst").alias("node"))
            .distinct()
            .join(reach.select("node"), "node", "left_anti")
            .withColumn("hops", F.lit(h).cast("int"))
            .localCheckpoint(eager=False)
        )
        reach = reach.unionByName(nxt)
        frontier = nxt.select("node")
    return reach.select(col("node").alias("vec_id"), "hops")


def _bfs_reach_oracle() -> str:
    knn = _knn_graph_oracle()
    layers = []
    prev_r, prev_f = "r0", "r0"
    for h in range(1, BFS_HOPS + 1):
        layers.append(
            f"""f{h} AS MATERIALIZED (
    SELECT DISTINCT e.dst AS node
    FROM edges e JOIN {prev_f} f ON f.node = e.src
    WHERE e.dst NOT IN (SELECT node FROM {prev_r})
), r{h} AS MATERIALIZED (
    SELECT node, hops FROM {prev_r}
    UNION ALL SELECT node, {h} AS hops FROM f{h}
)"""
        )
        prev_r, prev_f = f"r{h}", f"f{h}"
    body = ",\n".join(layers)
    return f"""
WITH edges AS MATERIALIZED (
    SELECT src, dst FROM ({knn})
), r0 AS (
    SELECT vec_id AS node, 0 AS hops FROM embeddings
    WHERE vec_id % {BFS_SEED_MOD} = 0
),
{body}
SELECT node AS vec_id, CAST(hops AS INT) AS hops FROM {prev_r}
"""


LOCAL_QUERIES["emb_bfs_reach"] = QuerySpec(q_emb_bfs_reach, _bfs_reach_oracle())


# --- semi-supervised label propagation over the k-NN graph --------------------

LP_ITERS = 2
LP_SEED_MOD = 5  # seeds: vec_id % 5 == 0 keep their true label


def q_emb_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised label propagation over the blocked k-NN graph —
    the cheap label-amplification step of a curation pipeline: a small
    trusted seed set (here the vec_id % ``LP_SEED_MOD`` == 0 slice keeps
    its true label) spreads through the similarity graph; an unlabeled
    node adopts the PLURALITY label among its already-labeled in-
    neighbors, ties broken by the smaller label id (deterministic —
    vote counts are exact integers, so the argmax is cross-engine
    stable). ``labeled_at`` records the adopting iteration (0 = seed).

    Per iteration: one src-grain join of the edge list against the
    labeled set, one (dst, label)-grain vote count, one per-dst
    row_number argmax (WindowGroupLimit — partial top-1 below the
    exchange), one anti-join excluding already-labeled nodes — all
    linear in frontier-adjacent edges, the same bucketed-by-src layout
    PageRank and BFS reuse. Iteration count is a fixed constant
    (K-bounded driver loop); the oracle unrolls both iterations as CTE
    layers. Nodes never reached keep no row (approximate-graph
    semantics, as emb_bfs_reach)."""
    from pyspark.sql.window import Window

    edges = _knn_edges(spark, sf_dir).select("src", "dst")
    emb = t(spark, sf_dir, "embeddings")
    labeled = emb.filter(col("vec_id") % LP_SEED_MOD == 0).select(
        col("vec_id").alias("node"),
        col("label").cast("int").alias("plabel"),
        F.lit(0).cast("int").alias("labeled_at"),
    )
    for h in range(1, LP_ITERS + 1):
        votes = (
            edges.join(labeled, edges.src == labeled.node)
            .groupBy(col("dst"), col("plabel"))
            .agg(F.count(F.lit(1)).alias("votes"))
            .join(
                labeled.select(col("node").alias("dst")), "dst", "left_anti"
            )
        )
        w = Window.partitionBy("dst").orderBy(
            col("votes").desc(), col("plabel")
        )
        newly = (
            votes.withColumn("rn", F.row_number().over(w))
            .filter(col("rn") == 1)
            .select(
                col("dst").alias("node"),
                col("plabel"),
                F.lit(h).cast("int").alias("labeled_at"),
            )
        )
        labeled = labeled.unionByName(newly).localCheckpoint(eager=False)
    return labeled.select(col("node").alias("vec_id"), "plabel", "labeled_at")


def _label_propagation_oracle() -> str:
    knn = _knn_graph_oracle()
    layers = []
    prev = "l0"
    for h in range(1, LP_ITERS + 1):
        layers.append(
            f"""v{h} AS (
    SELECT e.dst, l.plabel, count(*) AS votes
    FROM edges e JOIN {prev} l ON l.node = e.src
    WHERE e.dst NOT IN (SELECT node FROM {prev})
    GROUP BY e.dst, l.plabel
), n{h} AS (
    SELECT dst AS node, plabel, {h} AS labeled_at FROM (
        SELECT dst, plabel,
               row_number() OVER (PARTITION BY dst
                                  ORDER BY votes DESC, plabel) AS rn
        FROM v{h}
    ) WHERE rn = 1
), l{h} AS MATERIALIZED (
    SELECT node, plabel, labeled_at FROM {prev}
    UNION ALL SELECT node, plabel, labeled_at FROM n{h}
)"""
        )
        prev = f"l{h}"
    body = ",\n".join(layers)
    return f"""
WITH edges AS MATERIALIZED (
    SELECT src, dst FROM ({knn})
), l0 AS (
    SELECT vec_id AS node, CAST(label AS INT) AS plabel, 0 AS labeled_at
    FROM embeddings WHERE vec_id % {LP_SEED_MOD} = 0
),
{body}
SELECT node AS vec_id, plabel, CAST(labeled_at AS INT) AS labeled_at
FROM {prev}
"""


LOCAL_QUERIES["emb_label_propagation"] = QuerySpec(
    q_emb_label_propagation, _label_propagation_oracle()
)


# --- Matryoshka truncation recall ---------------------------------------------

MRL_DIMS = (8, 16, 32)  # truncated prefixes evaluated against the full dim
_MRL_ORACLE_FULL_DIM = 64  # width the SQL oracle ranks 'full' against


def q_emb_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka (MRL) truncation evaluation: recall@K of brute-force
    top-K under PREFIX-truncated cosine (first 8/16/32 dims) against
    the full-dimension ranking — the measurement that decides how far a
    matryoshka-trained embedding can be cut for cheap first-stage
    retrieval (a d/8 prefix cuts every distance computation and shuffle
    byte 8×; this query tells you what recall that buys, the same
    accuracy-vs-cost readout the SQ8/PQ paths get from
    tests/test_similarity_recall.py).

    Prefix cosine reuses the dim-expanded codegen chain with ``dim``
    pinned to the prefix — identical left-to-right IEEE op order in
    both engines, quantized at round-6 with vec_id tiebreak, so every
    top-K set is deterministic. Candidates whose PREFIX norm is zero
    are excluded per-dim (cosine undefined there), mirroring the
    zero-vector convention of the SQ8 path. Scale: one
    TakeOrderedAndProject per prefix over a column-pruned scan — no
    shuffle, no index; K-sized sets join broadcast for the overlap
    count. Output one row per prefix dim: overlap count and recall on
    the 1e-6 grid (single division after the integer overlap)."""
    emb = t(spark, sf_dir, "embeddings")
    full_dim = S.embedding_dim(emb)
    # The DuckDB oracle pins the full-ranking width at 64 (testdata
    # embedding contract); fail loudly here if the data ever drifts so
    # the two engines can't silently rank against different widths.
    if full_dim != _MRL_ORACLE_FULL_DIM:
        raise ValueError(
            f"embeddings width {full_dim} != oracle full dim "
            f"{_MRL_ORACLE_FULL_DIM}; update _MRL_ORACLE_FULL_DIM"
        )
    query = emb.filter(col("vec_id") == QUERY_VEC_ID).select(
        col("embedding").alias("q_emb")
    )
    cand = widen(emb.filter(col("vec_id") != QUERY_VEC_ID)).crossJoin(
        broadcast(query)
    )

    def topk(d: int) -> DataFrame:
        normsq = S.dot_product("embedding", "embedding", d)[0]
        return (
            cand.filter(F.expr(f"{normsq} > 0"))
            .select(
                "vec_id",
                S.cosine_expr("embedding", "q_emb", dim=d).alias("cos"),
            )
            .orderBy(col("cos").desc(), col("vec_id"))
            .limit(TOP_K)
        )

    full = topk(full_dim).select("vec_id").localCheckpoint(eager=False)
    outs = []
    for d in MRL_DIMS:
        overlap = topk(d).join(broadcast(full), "vec_id")
        outs.append(
            overlap.agg(
                F.lit(d).alias("dim"),
                F.count(F.lit(1)).alias("n_overlap"),
                (
                    F.floor(
                        F.count(F.lit(1)).cast("double")
                        / TOP_K
                        * 1_000_000
                        + F.lit(0.5)
                    )
                    / 1_000_000
                ).alias("recall_q"),
            )
        )
    result = outs[0]
    for o in outs[1:]:
        result = result.unionByName(o)
    return result


def _matryoshka_oracle() -> str:
    emb_dim = _MRL_ORACLE_FULL_DIM  # asserted == data width in the query

    def topk_cte(name: str, d: int) -> str:
        cos = S.cosine("e.embedding", "q.q_emb", dim=d)[1]
        normsq = S.dot_product("e.embedding", "e.embedding", d)[1]
        return f"""{name} AS (
    SELECT vec_id FROM (
        SELECT e.vec_id,
               row_number() OVER (ORDER BY {cos} DESC, e.vec_id) AS rn
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id != {QUERY_VEC_ID} AND {normsq} > 0
    ) WHERE rn <= {TOP_K}
)"""

    ctes = [topk_cte("tfull", emb_dim)] + [
        topk_cte(f"t{d}", d) for d in MRL_DIMS
    ]
    selects = "\nUNION ALL\n".join(
        f"""SELECT {d} AS dim, count(*) AS n_overlap,
       floor(CAST(count(*) AS DOUBLE) / {TOP_K} * 1000000 + 0.5) / 1000000
           AS recall_q
FROM t{d} JOIN tfull USING (vec_id)"""
        for d in MRL_DIMS
    )
    body = ",\n".join(ctes)
    return f"""
WITH q AS (
    SELECT embedding AS q_emb FROM embeddings WHERE vec_id = {QUERY_VEC_ID}
),
{body}
{selects}
"""


LOCAL_QUERIES["emb_matryoshka_recall"] = QuerySpec(
    q_emb_matryoshka_recall, _matryoshka_oracle()
)
