#!/usr/bin/env python3
"""Scale probe: replicate sf0.1 lineitem/orders 16× (9.6M / 2.4M rows)
into /tmp and push the headline plan shapes through — the local check
that the partition/shuffle strategy survives an order of magnitude
before it meets a cluster.

Observed on local[32] (round 1): scan-agg 9.6M rows 1.5s (vs 0.65s at
600k — sublinear, scheduling floor amortizes), fact-fact join
9.6M × 2.4M 3.2s (AQE-planned SMJ/shuffled-hash), per-key window over
2.4M rows 2.3s. No spills, no OOM at default confs.

Skew stress (``--skew``): a 10M-row power-law fact (ONE key holds 80%
of all rows) measuring each classic skew story against its mitigation.
Measured findings on local[32] (these drove operators/skew.py's design
notes — the numbers say most hand-mitigations are already built in):

- sum/count agg, plain vs salted: ≈ EQUAL — map-side partial
  aggregation collapses the hot key to one row per map task before the
  shuffle. Salting algebraic aggs on Spark is insurance, not a win.
- per-key top-N: plain window is ALREADY skew-proof — Spark ≥ 3.5
  plans a Partial WindowGroupLimit below the exchange (asserted here),
  so each map task ships ≤ n rows per key. A hand-salted two-stage
  window measured SLOWER; we deliberately ship no salted_topn.
- skewed SMJ join with payload, AQE skew-split off vs on: the real
  straggler and the real win — ~3× (10.5s → 3.3s). Caveat from
  building this probe: if the query only consumes the join KEY, column
  pruning makes the hot partition a run of identical values that
  compresses below the skew threshold and nothing triggers — size
  your skew thresholds against post-pruning shuffle bytes, not logical
  row counts.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F
from pyspark.sql.functions import col
from pyspark.sql.window import Window

from hdb_resale_price_data_pipeline_spark.operators import index_cache
from hdb_resale_price_data_pipeline_spark.session import get_spark_session

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
STAGE = "/tmp/scale16"
COPIES = 16


def stage(spark) -> None:
    if os.path.exists(f"{STAGE}/_done"):
        return
    for table, key in (("lineitem", "l_orderkey"), ("orders", "o_orderkey")):
        base = spark.read.parquet(f"{SF_DIR}/{table}.parquet")
        out = base
        for i in range(1, COPIES):
            out = out.unionByName(base.withColumn(key, col(key) + F.lit(i * 10_000_000)))
        out.repartition(32).write.mode("overwrite").parquet(f"{STAGE}/{table}")
    open(f"{STAGE}/_done", "w").close()


SKEW_STAGE = "/tmp/skew10m"
SKEW_ROWS = 10_000_000
SKEW_KEYS = 100_000


def stage_skew(spark) -> None:
    """10M-row fact: 80% of ids → key 0, the rest multiplicative-hash
    spread over 100k keys. Plus a 100k-row dim."""
    if os.path.exists(f"{SKEW_STAGE}/_done"):
        return
    fact = spark.range(SKEW_ROWS).select(
        F.when(col("id") % 5 != 0, 0)
        .otherwise((col("id") * 2654435761) % SKEW_KEYS)
        .alias("k"),
        ((col("id") % 1000) / 10.0).alias("v"),
        col("id").alias("rid"),
    )
    fact.repartition(32).write.mode("overwrite").parquet(f"{SKEW_STAGE}/fact")
    dim = spark.range(SKEW_KEYS).select(
        col("id").alias("k"), (col("id") % 7).alias("seg")
    )
    dim.repartition(4).write.mode("overwrite").parquet(f"{SKEW_STAGE}/dim")
    open(f"{SKEW_STAGE}/_done", "w").close()


def probe_skew(spark) -> None:
    from pyspark.sql.window import Window as W

    from hdb_resale_price_data_pipeline_spark.operators.skew import salted_sum_count

    stage_skew(spark)
    fact = spark.read.parquet(f"{SKEW_STAGE}/fact")
    dim = spark.read.parquet(f"{SKEW_STAGE}/dim")
    print(f"skew fact rows: {fact.count():,} (hot key = 80%)")

    def timed(label, make):
        make().count()  # warm: codegen/JIT/scan cache out of the number
        t0 = time.perf_counter()
        make().count()
        dt = time.perf_counter() - t0
        print(f"{label}: {dt:.2f}s")
        return dt

    timed(
        "agg plain groupBy (map-side partial absorbs the hot key)",
        lambda: fact.groupBy("k").agg(F.sum("v"), F.count(F.lit(1))),
    )
    timed(
        "agg salted_sum_count (same semantics; for non-collapsing state)",
        lambda: salted_sum_count(fact, ["k"], "v", n_salts=16, salt_source=col("rid")),
    )

    order = [col("v").desc(), col("rid")]
    topn = lambda: fact.withColumn(
        "rank", F.row_number().over(W.partitionBy("k").orderBy(*order))
    ).filter(col("rank") <= 3)
    assert "WindowGroupLimit" in topn()._jdf.queryExecution().executedPlan().toString(), (
        "expected Spark to plan a partial WindowGroupLimit (skew-proof top-N)"
    )
    timed("per-key top-3, plain window (WindowGroupLimit absorbs the hot key)", topn)

    # Skewed SMJ with PAYLOAD carried through the join (post-pruning
    # shuffle bytes are what skew detection sees): forbid broadcast so
    # the join shuffles on the hot key; lower the skew threshold so the
    # ~8M-row partition qualifies locally.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8m")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
    try:
        for flag in ("false", "true"):
            spark.conf.set("spark.sql.adaptive.skewJoin.enabled", flag)
            q = fact.join(dim, "k").groupBy("seg").agg(
                F.sum(col("v") * col("rid")).alias("s")
            )
            q.collect()  # warm
            t0 = time.perf_counter()
            q2 = fact.join(dim, "k").groupBy("seg").agg(
                F.sum(col("v") * col("rid")).alias("s")
            )
            q2.collect()
            split = "skew=true" in q2._jdf.queryExecution().executedPlan().toString()
            print(
                f"skewed join+payload, AQE skew-split={flag}: "
                f"{time.perf_counter() - t0:.2f}s (plan skew marker: {split})"
            )
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
        spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionFactor")
        spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
        spark.conf.unset("spark.sql.adaptive.skewJoin.enabled")


DOCS_STAGE = "/tmp/docs_scale"
DOC_COPIES = 16  # 5k docs → 80k
EMB_COPIES = 64  # 2k vecs → 128k
_ALPHA = "abcdefghijklmnopqrstuvwxyz"


def stage_docs_at(spark, dest: str, doc_copies: int, emb_copies: int) -> None:
    """Parameterized staging of rotated doc/embedding replicas (see
    ``stage_docs`` for why replicas are rotated, not verbatim)."""
    if os.path.exists(f"{dest}/_done"):
        return
    for table, key, copies in (
        ("documents", "doc_id", doc_copies),
        ("embeddings", "vec_id", emb_copies),
    ):
        base = spark.read.parquet(f"{SF_DIR}/{table}.parquet")
        out = base
        for i in range(1, copies):
            rep = base.withColumn(key, col(key) + F.lit(i * 10_000_000))
            if table == "documents":
                rot = i % 26
                rep = rep.withColumn(
                    "text",
                    F.translate(
                        "text",
                        _ALPHA + _ALPHA.upper(),
                        _ALPHA[rot:] + _ALPHA[:rot]
                        + (_ALPHA[rot:] + _ALPHA[:rot]).upper(),
                    ),
                )
            if table == "embeddings":
                off = i % 63 + 1
                rep = rep.withColumn(
                    "embedding",
                    F.expr(
                        f"concat(slice(embedding, {off} + 1, "
                        f"size(embedding) - {off}), slice(embedding, 1, {off}))"
                    ),
                )
            out = out.unionByName(rep)
        out.repartition(32).write.mode("overwrite").parquet(
            f"{dest}/{table}.parquet"
        )
    open(f"{dest}/_done", "w").close()


def stage_docs(spark) -> None:
    """Replicate the sf0.1 text/embedding tables (80k docs / 128k
    vectors), laid out like an sf dir so the registered query fns run
    on it unchanged.

    Document replicas are Caesar-rotated per copy, NOT verbatim: a
    first attempt with 256 identical-text copies made every LSH band
    bucket hold 256 exact duplicates — candidate pairs are quadratic in
    per-bucket density, so that's 5000 × C(256,2) ≈ 160M pairs and the
    probe died in GC, a correct answer to a degenerate question. The
    lesson is itself the point: near-dup cost scales with DUPLICATE
    DENSITY, not corpus size. Rotation keeps each copy's *internal*
    dup structure (rotation is a bijection on shingles) so candidate
    volume scales linearly with copies, like a real corpus."""
    if os.path.exists(f"{DOCS_STAGE}/_done"):
        return
    for table, key, copies in (
        ("documents", "doc_id", DOC_COPIES),
        ("embeddings", "vec_id", EMB_COPIES),
    ):
        base = spark.read.parquet(f"{SF_DIR}/{table}.parquet")
        out = base
        for i in range(1, copies):
            rep = base.withColumn(key, col(key) + F.lit(i * 10_000_000))
            if table == "documents":
                rot = i % 26
                rep = rep.withColumn(
                    "text",
                    F.translate(
                        "text",
                        _ALPHA + _ALPHA.upper(),
                        _ALPHA[rot:] + _ALPHA[:rot]
                        + (_ALPHA[rot:] + _ALPHA[:rot]).upper(),
                    ),
                )
            if table == "embeddings":
                # Same density lesson as the Caesar rotation: verbatim
                # vector replicas put `copies` exact duplicates in every
                # LSH bucket and pair expansion goes quadratic in copy
                # count (measured: 49s / 4.8M pairs at 16 copies).
                # Cyclically rotating the array per copy preserves the
                # norm and in-copy neighbor structure but decorrelates
                # across copies — candidate volume scales linearly.
                off = i % 63 + 1  # dim 64 → 63 distinct non-identity rotations
                rep = rep.withColumn(
                    "embedding",
                    F.expr(
                        f"concat(slice(embedding, {off} + 1, "
                        f"size(embedding) - {off}), slice(embedding, 1, {off}))"
                    ),
                )
            out = out.unionByName(rep)
        out.repartition(32).write.mode("overwrite").parquet(
            f"{DOCS_STAGE}/{table}.parquet"
        )
    open(f"{DOCS_STAGE}/_done", "w").close()


def probe_docs(spark) -> None:
    """LLM-pipeline operators at 16×/64× the bench corpus (80k docs /
    128k vectors): the check that the dedup/decontam/ANN plans hold an
    order of magnitude past where the bench measures them. Measured
    numbers: see the README scale-probe section (printed by this probe).
    """
    from hdb_resale_price_data_pipeline_spark.queries import local_queries

    stage_docs(spark)
    registry = local_queries()
    n_docs = spark.read.parquet(f"{DOCS_STAGE}/documents.parquet").count()
    n_vecs = spark.read.parquet(f"{DOCS_STAGE}/embeddings.parquet").count()
    print(f"staged: documents={n_docs:,} embeddings={n_vecs:,}")

    names = [
        "dedup_exact",
        "dedup_minhash_lsh",
        "dedup_simhash",
        "text_decontaminate",
        "text_domain_mix",
        "emb_cosine_topk",
        "emb_ann_lsh_topk",
        "emb_ivf_topk",
        "emb_kmeans_clusters",
        "emb_pq_topk",
        "emb_near_dup_lsh",
        "curation_report",
        "curation_increment",
    ]
    for name in names:
        fn = registry[name].fn
        fn(spark, DOCS_STAGE).count()  # warm: index build, codegen, scan cache
        t0 = time.perf_counter()
        rows = fn(spark, DOCS_STAGE).count()
        print(f"{name}: {time.perf_counter() - t0:.2f}s ({rows:,} rows)")


SCALING_COPIES = (1, 4, 16)  # 5k→80k docs, 2k→32k vectors (≈ sf1.6)

SCALING_QUERIES = [
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "dedup_incremental",
    "curation_report",
    "curation_increment",
    "emb_ivf_topk",
    "emb_pq_topk",
    "emb_ivfpq_topk",
    "emb_semdedup",
    "emb_near_dup_lsh",
    "text_c4_filter",
    "text_repeated_passages",
    "text_cut_passages",
    "emb_ivfadc_topk",
    "text_bpe_learn",
    "text_lm_perplexity",
    "text_bm25_topk",
    "text_dsir_weights",
    "text_quality_classifier",
    "text_bloom_decontaminate",
    "text_corpus_diff",
    "text_temperature_mix",
    "text_curriculum_shards",
    "text_url_curation",
    "emb_filtered_topk",
    # r5: the Bloom-gated streaming dedup gate (fixed-memory bitset +
    # Bloom-hit-only confirm joins) — the r4 corpus-broadcast scale fix
    "stream_dedup_gate",
    # r5: streaming assignment to the trained IVF index; WordPiece
    # trainer (vocab-sized iterations — corpus growth reaches it only
    # through the one corpus pass + vocab growth)
    "stream_emb_ingest",
    "text_wordpiece_learn",
    # r5: selection/graph over the trained index — the stratified
    # sample's window, MMR's shortlist collect, and the co-blocked
    # kNN-graph pair term are the scale-sensitive parts
    "emb_cluster_sample",
    "emb_mmr_diverse",
    # r6: greedy k-center coreset — a k-bounded driver loop of Arrow
    # passes; the probe shows each pass is map-linear
    "emb_kcenter_coreset",
    "emb_knn_graph",
    # r7 session 2: bounded multi-source BFS — three Pregel supersteps
    # over the blocked kNN edge list; per-hop cost is frontier-adjacent
    # edges, so the slope tracks the kNN-graph build it rides on
    "emb_bfs_reach",
    # r7 session 2 (cont.): label propagation — per-iteration vote agg
    # + WindowGroupLimit argmax over frontier-adjacent edges
    "emb_label_propagation",
    # r7 session 2 (cont.): PPJoin prefix filter — candidates bounded
    # by rare-token df², the exact-recall counterpart to MinHash
    "dedup_prefix_join",
    # r7 session 2 (cont.): Matryoshka recall — four TakeOrdered scans,
    # the prefix dims at 1/8..1/2 the flop/byte cost of the full scan
    "emb_matryoshka_recall",
    # r5: unigram trainer — EM passes are vocab-sized Arrow maps; the
    # corpus reaches it only through the one word-frequency pass
    "text_unigram_learn",
    # r5: SQ8 serving — deliberately index-free, so its slope is the
    # honest linear corpus-scan bound the trained indexes beat
    "emb_sq_topk",
    # r5 session 3: RRF fusion (two corpus-linear rankers + K-bounded
    # fuse), cluster-aware split (components + fingerprint pass),
    # PageRank (per-iteration edge join), JL projection (map-only)
    "text_hybrid_rrf",
    "dedup_leakage_split",
    "emb_pagerank",
    "emb_random_projection",
    # r5 session 3 (cont.): co-blocked pair mining, row-local masking,
    # 6-group bucket agg
    "emb_hard_negatives",
    "text_mlm_mask",
    "text_length_buckets",
    # r5 session 4: phrase scan (map-only), per-doc tf-idf tagging,
    # PMI collocations (two explode-agg corpus passes), vintage drift
    # over the shared LSH buckets
    "text_phrase_search",
    "text_keywords_tfidf",
    "text_pmi_bigrams",
    "emb_drift_report",
    # r5 session 4 (cont.): CMS cells are token-grain aggs of the one
    # explode pass — the scale-sensitive part is that pass
    "text_cms_heavy_hitters",
    # r5 session 4 (cont.): CDC chunking (row-local arrays + one
    # fingerprint shuffle), mutual-kNN (edge-bounded self-join)
    "text_cdc_chunks",
    "emb_mutual_knn",
    # r5 session 4 (cont.): weighted sampling (map-only + TakeOrdered)
    "text_weighted_sample",
    # r5 session 4 (cont.): Gram-partial dim correlation, JS drift,
    # vocab coverage, power-iteration PCA
    "emb_dim_corr",
    "text_js_divergence",
    "text_vocab_coverage",
    "emb_pca_project",
    # r5 session 5: T5 span corruption (shuffle-free map), triangle
    # census of the mutual k-NN graph (edge-grain joins)
    "text_span_corruption",
    "emb_knn_triangles",
    # r5 session 5 (cont.): centroid silhouette over the trained index,
    # Zipf slope fit
    "emb_silhouette",
    "text_zipf_slope",
    # r5 session 5 (cont.): content-digest dedup summary, containment
    # posting join
    "multimodal_exact_dups",
    "dedup_containment",
    # r5 session 5 (cont.): LSH MRR eval (Q x n brute truth + bucket
    # ranking), per-source scorecard
    "emb_ann_mrr",
    "text_source_scorecard",
    # r5 session 5 (cont.): KS length drift
    "text_length_ks",
    # r8: preference-pair construction (two windows sharing one
    # (lang, source) exchange + group-grain join), stratified split
    # (count + row_number windows over the same exchange), shot
    # boundaries (capped frame fan-out + sampled-frame-grain window),
    # contiguous compaction binning (|partitions|-row window)
    "text_preference_pairs",
    "text_stratified_split",
    "multimodal_shot_boundaries",
    "warehouse_compaction_plan",
    # r9 (r8 verdict item 3): the LSH recall/precision readout — truth
    # stays a bounded md5-ordered sample by construction, so the
    # scale-sensitive part is the production minhash_band_pairs
    # invocation it measures; the interesting probe readout is whether
    # the measured S-curve operating point HOLDS as the corpus grows
    "dedup_lsh_recall_eval",
    # r9: the banding-parameter sweep over the same bounded truth
    "dedup_lsh_band_sweep",
    # r9 (cont.): duplicated-span detection — the positional gram grid
    # is Σ tokens rows; gram-grain dup decision is one grouped
    # min!=max; expect ~linear in corpus size
    "dedup_span_dups",
]


def _noop(df) -> None:
    """Evaluate every column to a noop sink — count() would let the
    optimizer prune the projected work entirely (see bench.py)."""
    df.write.mode("overwrite").format("noop").save()


def probe_scaling(spark) -> None:
    """Wall-vs-rows scaling for the scale-sensitive dedup/ANN/curation
    queries: run each at 1×/4×/16× the sf0.1 corpus COLD (index caches
    cleared before every timed run), fit the log-log slope, and print a
    markdown table for BENCH_history.md. Slope ≈ 1 → linear in rows;
    a quadratic tail shows up as slope → 2 between the last two points.

    Protocol: one untimed suite pass at the smallest scale first (JIT /
    codegen / Arrow warmup shared by all cells), then per (query, scale)
    two cold runs, min reported (cold-vs-cold; min damps scheduler
    noise on this ±2× box)."""
    from hdb_resale_price_data_pipeline_spark.queries import local_queries

    registry = local_queries()
    # subset filter for probing just-added operators without re-running
    # the whole (expensive) sweep: SPARK_GRAFT_SCALING_ONLY=a,b,c
    only = os.environ.get("SPARK_GRAFT_SCALING_ONLY")
    if only:
        wanted = [q.strip() for q in only.split(",") if q.strip()]
        unknown = sorted(set(wanted) - set(SCALING_QUERIES))
        if unknown:
            raise SystemExit(
                f"SPARK_GRAFT_SCALING_ONLY names not in SCALING_QUERIES: {unknown}"
            )
        probe_list = [q for q in SCALING_QUERIES if q in wanted]
    else:
        probe_list = SCALING_QUERIES
    dirs: dict[int, str] = {}
    for c in SCALING_COPIES:
        if c == 1:
            dirs[c] = SF_DIR
            continue
        dest = f"/tmp/docs_scale_c{c}"
        stage_docs_at(spark, dest, doc_copies=c, emb_copies=c)
        dirs[c] = dest
    n_docs = {
        c: spark.read.parquet(f"{d}/documents.parquet").count()
        for c, d in dirs.items()
    }
    print(f"scales: {n_docs} docs (embeddings scale identically)")

    # shared warmup
    for name in probe_list:
        _noop(registry[name].fn(spark, dirs[1]))

    import math

    results: dict[str, dict[int, float]] = {}
    for name in probe_list:
        fn = registry[name].fn
        results[name] = {}
        for c in SCALING_COPIES:
            runs = []
            for _ in range(2):
                index_cache.clear()
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                _noop(fn(spark, dirs[c]))
                runs.append(time.perf_counter() - t0)
            results[name][c] = min(runs)

    print("\n| query | t@1x | t@4x | t@16x | slope(1→16) | slope(4→16) |")
    print("|---|---|---|---|---|---|")
    for name, r in results.items():
        s_all = math.log(r[16] / r[1]) / math.log(16)
        s_tail = math.log(r[16] / r[4]) / math.log(4)
        print(
            f"| {name} | {r[1]:.2f}s | {r[4]:.2f}s | {r[16]:.2f}s "
            f"| {s_all:.2f} | {s_tail:.2f} |"
        )


TPCH_STAGE = "/tmp/tpch_sf1"
TPCH_COPIES = 10  # sf0.1 → sf1: 600k → 6M lineitem rows
# One replica of the whole relational schema per copy: every fact AND
# its joinable dims get the same key offset, so copy i joins copy i —
# per-key fan-outs stay sf-realistic instead of multiplying into one
# shared dim. region/nation stay verbatim (they are fixed-size in TPC-H
# at every sf). events offsets only event_id: user/ts skew structure is
# preserved, so the hot keys events_salted_totals salts against grow
# 10× like a real traffic scale-up.
_TPCH_OFFSETS = {
    "lineitem": ("l_orderkey", "l_partkey", "l_suppkey"),
    "orders": ("o_orderkey", "o_custkey"),
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "events": ("event_id",),
    # r9: the catalog-driven profiling triad reads documents too
    "documents": ("doc_id",),
}
_TPCH_VERBATIM = ("region", "nation")

TPCH_QUERIES = [
    "pricing_summary",
    "region_nation_revenue",
    "avg_revenue_by_region_year",
    "shipping_priority_top10",
    "q9_product_profit",
    "q21_stuck_orders",
    "q18_large_orders",
    "events_salted_totals",
    "customer_windows",
    # r5 session 4: SCD2 dim merge, deterministic HLL, z-score anomaly
    # (events replicas repeat user_id — rows x10 at constant distinct,
    # exactly the regime a sketch must stay flat in)
    "warehouse_scd2_merge",
    "events_hll_users",
    "events_anomaly_days",
    "events_quantile_sketch",
    "orders_brand_affinity",
    # r5 session 5: RFM histogram quartiles, EWMA day-grain fold,
    # exact-Gini key-skew profile
    "customers_rfm_segments",
    "events_ewma_daily",
    "events_key_skew",
    # r5 session 5 (cont.): Markov transitions, purchase intervals,
    # multi-touch attribution
    "events_markov_transitions",
    "customers_purchase_intervals",
    "events_multitouch_attribution",
    # r5 session 5 (cont.): two-proportion A/B readout, decayed
    # leaderboard
    "events_ab_test",
    "events_decayed_leaderboard",
    # r5 session 5 (cont.): streaks, backlog timeline, brand recs
    "events_activity_streaks",
    "orders_backlog_monthly",
    "orders_brand_recommendation",
    # r5 session 5 (cont.): grouped exact percentiles, LTV cohorts,
    # DAU/WAU actives, seasonality index
    "events_value_percentiles",
    "customers_ltv_cohorts",
    "events_active_users",
    "orders_seasonality",
    # r5 session 5 (cont.): bitmap retention, negation pattern, rapid
    # repeats
    "events_retention_bitmap",
    "events_pattern_no_error",
    "orders_rapid_repeats",
    "supplier_hhi",
    "events_peak_concurrency",
    # r7: snapshot diff + MG heavy hitters + CDC apply (stream rows
    # measure steady-state replay, the stream_er_gate precedent)
    "dataset_diff",
    "events_heavy_hitters",
    "stream_cdc_apply",
    "dataset_drift_tv",
    "table_stats_profile",
    # r7 session 2: explicit Bloom runtime filter (replicated customers
    # grow the qualifying key set 10×), per-customer closed-form OLS
    # (customer-grain working set grows 10×), per-user calendar
    # densification (replicated events densify the fixed 30-day span)
    "orders_bloom_semi",
    "customers_trend_ols",
    "events_gap_fill",
    # r7 session 2 (cont.): MAD robust fences (type-grain medians),
    # two-phase skyline (map-local prune + frontier² anti-join),
    # FD-discovery profile (per-candidate two-column aggs)
    "events_mad_outliers",
    "part_skyline",
    "dq_fd_profile",
    # r7 session 2 (cont.): materialized-rollup merge — batch-grain agg
    # + state-grain full-outer; the corpus is never rescanned
    "events_rollup_increment",
    # r7 session 2 (cont.): frequency-vector join-size estimate — the
    # fact-fact join's cardinality from two key-grain counts
    "join_size_profile",
    # r8: NDV-pruned all-pairs FD discovery (part replicas keep the
    # NDV/rowcount ratios, so the same pairs prune/test at 10×)
    "dq_fd_discover",
    # r8 (cont.): FastSS deletion-neighborhood join (replicated names
    # densify variant buckets — the Σ bucket² regime the candidate
    # bound must absorb), HLL segment overlap (register-grain merge at
    # 10× raw rows), pseudonymization audit (user-grain shuffle)
    "er_fastss_join",
    "events_hll_overlap",
    "privacy_pseudonymize",
    # r8 (cont.): IND/FK discovery — range-stats prune + key-grain
    # anti-joins; replicas shift child AND parent key ranges together,
    # so the same candidates prune/test at 10×
    "dq_ind_discover",
    # r8 (cont.): composite-key discovery — pigeonhole prune from the
    # shared NDV scan, exact two-column distinct for survivors
    "dq_ucc_discover",
    # r8 (cont.): the composed profiling report (FD + IND + UCC in one
    # plan; statistics served from the per-session ANALYZE cache)
    "dq_profile_report",
    # r9: holdout FD-transfer validation — one scan funds both splits'
    # g3 for all candidates; replicas grow both splits proportionally
    "dq_fd_transfer",
    # r9 (cont.): order-dependency discovery — group-grain min/max
    # collapse then one cummax/cummin window per candidate; replicas
    # keep per-candidate NDVs, so window sizes grow with data while
    # the candidate set stays fixed
    "dq_od_discover",
    # r9 (cont.): correlation discovery — contingency cells collapse
    # map-side to <= CAP² rows per surviving pair; replicas keep NDVs,
    # so cell counts stay fixed while the one stack scan grows
    "dq_corr_discover",
    # r10 (verdict item 8): the state-partition derivation re-probed at
    # sf1 — event replicas repeat user_id (10× rows, constant users),
    # so the derived store count must grow toward the configured
    # ceiling while wall time stays flat-to-linear
    "stream_session_windows",
    "stream_user_dedup",
]


def stage_tpch(spark) -> None:
    # marker bumped r9: documents joined the staged set (profiling
    # catalog); a pre-r9 stage dir restages once
    if os.path.exists(f"{TPCH_STAGE}/_done_r9"):
        return
    for table, keys in _TPCH_OFFSETS.items():
        base = spark.read.parquet(f"{SF_DIR}/{table}.parquet")
        out = base
        for i in range(1, TPCH_COPIES):
            rep = base
            for key in keys:
                rep = rep.withColumn(key, col(key) + F.lit(i * 10_000_000))
            out = out.unionByName(rep)
        out.repartition(32).write.mode("overwrite").parquet(
            f"{TPCH_STAGE}/{table}.parquet"
        )
    for table in _TPCH_VERBATIM:
        spark.read.parquet(f"{SF_DIR}/{table}.parquet").write.mode(
            "overwrite"
        ).parquet(f"{TPCH_STAGE}/{table}.parquet")
    open(f"{TPCH_STAGE}/_done_r9", "w").close()


def probe_tpch(spark) -> None:
    """The relational/TPC-H family at sf1-equivalent volume (6M-row
    lineitem — the r4 verdict's unmeasured gap: the doc/embedding sweeps
    scaled to ≈sf1.6 but lineitem had only ever run at sf0.1). Times
    each query at 1× (sf0.1) and 10× under the noop sink and prints the
    log-log slope; ≈1 → linear, the textbook expectation for these
    scan-agg/broadcast-join/AQE-join shapes."""
    import math

    from hdb_resale_price_data_pipeline_spark.queries import local_queries

    registry = local_queries()
    only = os.environ.get("SPARK_GRAFT_SCALING_ONLY")
    probe_list = (
        [q for q in TPCH_QUERIES if q in only.split(",")] if only else TPCH_QUERIES
    )
    stage_tpch(spark)
    n1 = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()
    n10 = spark.read.parquet(f"{TPCH_STAGE}/lineitem.parquet").count()
    print(f"lineitem rows: 1x={n1:,} 10x={n10:,}")

    for name in probe_list:  # shared warmup (codegen/JIT/scan cache)
        _noop(registry[name].fn(spark, SF_DIR))

    print("\n| query | t@sf0.1 | t@sf1 | slope |")
    print("|---|---|---|---|")
    for name in probe_list:
        fn = registry[name].fn
        t: dict[str, float] = {}
        for label, d in (("1x", SF_DIR), ("10x", TPCH_STAGE)):
            runs = []
            for _ in range(2):
                # r9: index caches joined this probe (the profiling
                # discoverers persist their result frames) — a cold run
                # must price the BUILD, and clearCache() alone would
                # leave retained-but-unpersisted frames.
                index_cache.clear()
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                _noop(fn(spark, d))
                runs.append(time.perf_counter() - t0)
            t[label] = min(runs)
        slope = math.log(t["10x"] / t["1x"]) / math.log(10)
        print(f"| {name} | {t['1x']:.2f}s | {t['10x']:.2f}s | {slope:.2f} |")


def probe_layout(spark) -> None:
    """Layout probe at 16×: natural vs linear-sort vs z-order layouts of
    the replicated lineitem, judged by (a) fraction of row groups a 2-D
    box filter can skip from footer stats, (b) timed filtered scans."""
    from hdb_resale_price_data_pipeline_spark.sources.layout import (
        rowgroup_prune_fraction,
        write_hilbert_ordered,
        write_zordered,
    )

    stage(spark)
    li = spark.read.parquet(f"{STAGE}/lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"
    )
    lo_o, hi_o, lo_p, hi_p = li.agg(
        F.min("l_orderkey"), F.max("l_orderkey"), F.min("l_partkey"), F.max("l_partkey")
    ).first()
    box = {
        "l_orderkey": (lo_o + 0.45 * (hi_o - lo_o), lo_o + 0.55 * (hi_o - lo_o)),
        "l_partkey": (lo_p + 0.45 * (hi_p - lo_p), lo_p + 0.55 * (hi_p - lo_p)),
    }
    layouts = {
        "natural (hash)": f"{STAGE}/layout_natural",
        "linear sort l_orderkey": f"{STAGE}/layout_linear",
        "zorder(l_orderkey,l_partkey)": f"{STAGE}/layout_zorder",
        "hilbert(l_orderkey,l_partkey)": f"{STAGE}/layout_hilbert",
    }
    if not os.path.exists(f"{STAGE}/layout_done"):
        # scatter by key hash: deterministically unclustered baseline
        li.repartition(32, F.crc32(col("l_orderkey").cast("string"))).write.mode(
            "overwrite"
        ).parquet(layouts["natural (hash)"])
        (
            li.repartitionByRange(32, col("l_orderkey"))
            .sortWithinPartitions("l_orderkey")
            .write.mode("overwrite")
            .parquet(layouts["linear sort l_orderkey"])
        )
        write_zordered(li, layouts["zorder(l_orderkey,l_partkey)"], ["l_orderkey", "l_partkey"], n_files=32)
        write_hilbert_ordered(li, layouts["hilbert(l_orderkey,l_partkey)"], ["l_orderkey", "l_partkey"], n_files=32)
        open(f"{STAGE}/layout_done", "w").close()
    # The point of z-order is pruning on EVERY dimension: a linear sort
    # matches it on its own dimension and prunes NOTHING on the other.
    cases = {
        "dim1 only": {"l_orderkey": box["l_orderkey"]},
        "dim2 only": {"l_partkey": box["l_partkey"]},
        "2-D box": box,
    }
    for name, path in layouts.items():
        fracs = "  ".join(
            f"{c}: {rowgroup_prune_fraction(path, p):.0%}" for c, p in cases.items()
        )
        df = spark.read.parquet(path)
        pred = None
        for c, (lo, hi) in box.items():
            term = (col(c) >= lo) & (col(c) <= hi)
            pred = term if pred is None else (pred & term)
        q = df.filter(pred).agg(F.sum("l_extendedprice"))
        q.collect()  # warm
        t0 = time.perf_counter()
        q.collect()
        print(f"{name}: skippable row groups — {fracs}; 2-D scan {time.perf_counter() - t0:.2f}s")


def probe_pipeline(spark) -> None:
    """The flagship end-to-end DAG (bench.run_pipeline_e2e: CSV/JSON
    parse → 3 transforms → merge dedup → two day-partitioned loads) at
    sf0.1-equivalent vs sf1-equivalent raw volume (20k+2×10k →
    200k+2×100k raw rows) — the r5 verdict's remaining unprobed
    composite. Same protocol as probe_tpch: warmup, 2 cold runs per
    cell, min, log-log slope over the 10× step. The warehouse dir is
    cleared between runs so each run pays the full partitioned load."""
    import math
    import shutil

    from bench import run_pipeline_e2e

    for name in ("warm",):  # one warmup at the small scale
        run_pipeline_e2e(spark, 0.1)
    t: dict[str, float] = {}
    for label, sf in (("1x", 0.1), ("10x", 1.0)):
        runs = []
        for _ in range(2):
            shutil.rmtree("/tmp/bench_warehouse", ignore_errors=True)
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            n = run_pipeline_e2e(spark, sf)
            runs.append(time.perf_counter() - t0)
        t[label] = min(runs)
        print(f"# pipeline_run_all sf={sf}: {t[label]:.2f}s ({n:,} rows loaded)")
    slope = math.log(t["10x"] / t["1x"]) / math.log(10)
    print("\n| query | t@sf0.1 | t@sf1 | slope |")
    print("|---|---|---|---|")
    print(f"| pipeline_run_all | {t['1x']:.2f}s | {t['10x']:.2f}s | {slope:.2f} |")


ER_QUERIES = [
    "er_blocked_match",
    "er_blocking_recall",
    "er_snm_customers",
    "er_jw_topmatch",
    "er_golden_record",
    "er_incremental_resolve",
    "er_cluster_metrics",
    "er_review_queue",
    "er_fellegi_sunter",
    "stream_er_gate",
    "stream_er_gate_served",
    # record-level privacy measures ride the same staged roster
    "privacy_k_anonymity",
    "privacy_l_diversity",
    "privacy_generalize_ladder",
    "privacy_t_closeness",
]


def stage_er_at(spark, dest: str, copies: int, grow_vocab: bool = False) -> None:
    """Replicate the customer roster and part catalog for the ER probe.

    Customer replicas get FRESH serials (offset custkeys) with names
    REGENERATED from the new serial — blocking keys derive from the
    name digits, so a verbatim name copy would stack every replica into
    the same blocks (duplicate-density blowup, the stage_docs lesson)
    instead of growing the occupied serial range the way real rosters
    grow.

    Part replicas, default mode: names unchanged (fixed entity
    vocabulary, growing record count — the catalog-growth shape:
    golden-record work scales with records, clustering stays
    entity-sized). ``grow_vocab=True`` (r6 verdict item 4) instead
    mints a FRESH adjective×noun family per replica by suffixing the
    replica ordinal onto both tokens: the distinct-name vocabulary and
    the BLOCK COUNT grow linearly with the copies, while each family
    keeps the base grid's near-miss edit-distance structure (the same
    suffix lands on both sides of every in-family comparison, and the
    per-token blocking never pairs names across families)."""
    if os.path.exists(f"{dest}/_done"):
        return
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    out_c = cust
    for i in range(1, copies):
        out_c = out_c.unionByName(
            cust.withColumn("c_custkey", col("c_custkey") + F.lit(i * 10_000_000))
            .withColumn("c_name", F.format_string("Customer#%09d", col("c_custkey")))
        )
    out_c.repartition(32).write.mode("overwrite").parquet(f"{dest}/customer.parquet")
    part = spark.read.parquet(f"{SF_DIR}/part.parquet")
    out_p = part
    for i in range(1, copies):
        replica = part.withColumn(
            "p_partkey", col("p_partkey") + F.lit(i * 10_000_000)
        )
        if grow_vocab:
            replica = replica.withColumn(
                "p_name",
                F.concat(
                    F.split_part(col("p_name"), F.lit(" "), F.lit(1)),
                    F.lit(f"{i:02d} "),
                    F.split_part(col("p_name"), F.lit(" "), F.lit(2)),
                    F.lit(f"{i:02d}"),
                ),
            )
        out_p = out_p.unionByName(replica)
    out_p.repartition(32).write.mode("overwrite").parquet(f"{dest}/part.parquet")
    # orders replicate with custkeys offset IN LOCKSTEP with the roster
    # so the l-diversity sensitive join covers every replica.
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    out_o = orders
    for i in range(1, copies):
        out_o = out_o.unionByName(
            orders.withColumn("o_orderkey", col("o_orderkey") + F.lit(i * 100_000_000))
            .withColumn("o_custkey", col("o_custkey") + F.lit(i * 10_000_000))
        )
    out_o.repartition(32).write.mode("overwrite").parquet(f"{dest}/orders.parquet")
    open(f"{dest}/_done", "w").close()


def probe_er(spark, grow_vocab: bool = False) -> None:
    """1×/4×/16× cold scaling for the entity-resolution family (same
    protocol as probe_scaling: shared warmup, two cold runs per cell,
    min, log-log slopes). ``grow_vocab`` (``--grow``) stages part
    replicas with FRESH name families so the block count — not just the
    record count — grows with the scale (r6 verdict item 4: the fixed-
    vocabulary mode leaves part-grain slopes flat by construction)."""
    import math

    from hdb_resale_price_data_pipeline_spark.queries import local_queries

    registry = local_queries()
    only = os.environ.get("SPARK_GRAFT_ER_ONLY")
    if only:
        wanted = [q.strip() for q in only.split(",") if q.strip()]
        unknown = sorted(set(wanted) - set(ER_QUERIES))
        if unknown:
            raise SystemExit(f"SPARK_GRAFT_ER_ONLY names not in ER_QUERIES: {unknown}")
        probe_list = [q for q in ER_QUERIES if q in wanted]
    else:
        probe_list = ER_QUERIES
    dirs: dict[int, str] = {}
    for c in SCALING_COPIES:
        if c == 1:
            dirs[c] = SF_DIR
            continue
        dest = f"/tmp/er_scale_{'grow_' if grow_vocab else ''}c{c}"
        stage_er_at(spark, dest, copies=c, grow_vocab=grow_vocab)
        dirs[c] = dest
    n = {c: spark.read.parquet(f"{d}/customer.parquet").count() for c, d in dirs.items()}
    print(f"scales: {n} customers (parts/orders scale identically)")
    if grow_vocab:
        v = {
            c: spark.read.parquet(f"{d}/part.parquet")
            .select("p_name")
            .distinct()
            .count()
            for c, d in dirs.items()
        }
        print(f"growing part-name vocabulary: {v} distinct names")

    for name in probe_list:
        _noop(registry[name].fn(spark, dirs[1]))

    results: dict[str, dict[int, float]] = {}
    for name in probe_list:
        fn = registry[name].fn
        results[name] = {}
        for c in SCALING_COPIES:
            runs = []
            for _ in range(2):
                index_cache.clear()
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                _noop(fn(spark, dirs[c]))
                runs.append(time.perf_counter() - t0)
            results[name][c] = min(runs)

    print("\n| query | t@1x | t@4x | t@16x | slope(1→16) | slope(4→16) |")
    print("|---|---|---|---|---|---|")
    c0, c1, c2 = SCALING_COPIES
    for name, r in results.items():
        s_full = math.log(r[c2] / r[c0]) / math.log(c2 / c0)
        s_tail = math.log(r[c2] / r[c1]) / math.log(c2 / c1)
        print(
            f"| {name} | {r[c0]:.2f}s | {r[c1]:.2f}s | {r[c2]:.2f}s "
            f"| {s_full:.2f} | {s_tail:.2f} |"
        )


def probe_fastss(spark) -> None:
    """FastSS at growing DISTINCT-name scale with a candidate/output
    separation (r8 verdict item 6): the r8 10×-duplication probe
    conflated output growth with candidate work (slope 0.75 was the
    output's intrinsic id fan-out). This probe grows the real scaling
    axis — the ER staging regenerates customer names from fresh
    serials, so distinct names grow linearly with copies — and reports
    CANDIDATE pairs (variant-grain join output, pre-verify: the
    Σ variant-bucket² term the theorem bounds) separately from OUTPUT
    pairs at 1×/4×/16×. Expected: candidates/name ≈ constant (serial
    names have bounded edit-dense neighborhoods), i.e. candidate count
    slope ≈ 1 in distinct names — never quadratic."""
    import math

    from hdb_resale_price_data_pipeline_spark.queries import local_queries
    from hdb_resale_price_data_pipeline_spark.queries.er import (
        fastss_candidate_pairs,
    )

    registry = local_queries()
    dirs: dict[int, str] = {}
    for c in SCALING_COPIES:
        if c == 1:
            dirs[c] = SF_DIR
            continue
        dest = f"/tmp/er_scale_c{c}"
        stage_er_at(spark, dest, copies=c)
        dirs[c] = dest

    fn = registry["er_fastss_join"].fn
    _noop(fn(spark, dirs[1]))  # warmup (codegen/JIT/scan cache)
    print("\n| copies | distinct names | candidate pairs | output pairs "
          "| cand/name | t_cand | t_full |")
    print("|---|---|---|---|---|---|---|")
    rows = {}
    for c in SCALING_COPIES:
        cust = spark.read.parquet(f"{dirs[c]}/customer.parquet")
        dn = (
            cust.filter(col("c_custkey") % 3 == 0)
            .select(col("c_name").alias("name"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        n_names = dn.count()
        t0 = time.perf_counter()
        n_cand = fastss_candidate_pairs(dn).count()
        t_cand = time.perf_counter() - t0
        index_cache.clear()
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        _noop(fn(spark, dirs[c]))
        t_full = time.perf_counter() - t0
        n_out = fn(spark, dirs[c]).count()
        rows[c] = (n_names, n_cand, n_out)
        print(
            f"| {c}x | {n_names:,} | {n_cand:,} | {n_out:,} "
            f"| {n_cand / max(n_names, 1):.1f} | {t_cand:.2f}s "
            f"| {t_full:.2f}s |"
        )
    c0, c2 = SCALING_COPIES[0], SCALING_COPIES[-1]
    g = math.log(rows[c2][0] / rows[c0][0])
    print(
        f"slopes in DISTINCT NAMES ({rows[c0][0]:,}->{rows[c2][0]:,}): "
        f"candidates {math.log(rows[c2][1] / rows[c0][1]) / g:.2f}, "
        f"output {math.log(rows[c2][2] / rows[c0][2]) / g:.2f}"
    )


def main() -> None:
    spark = get_spark_session(app_name="scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    if "--fastss" in sys.argv:
        probe_fastss(spark)
        spark.stop()
        return
    if "--er" in sys.argv:
        probe_er(spark, grow_vocab="--grow" in sys.argv)
        spark.stop()
        return
    if "--pipeline" in sys.argv:
        probe_pipeline(spark)
        spark.stop()
        return
    if "--skew" in sys.argv:
        probe_skew(spark)
        spark.stop()
        return
    if "--layout" in sys.argv:
        probe_layout(spark)
        spark.stop()
        return
    if "--docs" in sys.argv:
        probe_docs(spark)
        spark.stop()
        return
    if "--scaling" in sys.argv:
        probe_scaling(spark)
        spark.stop()
        return
    if "--tpch" in sys.argv:
        probe_tpch(spark)
        spark.stop()
        return
    stage(spark)
    li = spark.read.parquet(f"{STAGE}/lineitem")
    orders = spark.read.parquet(f"{STAGE}/orders")
    print(f"rows: lineitem={li.count():,} orders={orders.count():,}")

    t0 = time.perf_counter()
    li.filter(col("l_shipdate") <= F.lit("1998-09-02")).groupBy(
        "l_returnflag", "l_linestatus"
    ).agg(F.sum("l_quantity"), F.avg("l_discount"), F.count(F.lit(1))).collect()
    print(f"scan-agg: {time.perf_counter() - t0:.2f}s")

    t0 = time.perf_counter()
    li.join(orders, col("l_orderkey") == col("o_orderkey")).groupBy("o_orderstatus").agg(
        F.round(F.sum(col("l_extendedprice") * (1 - col("l_discount"))), 2)
    ).collect()
    print(f"fact-fact join: {time.perf_counter() - t0:.2f}s")

    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    t0 = time.perf_counter()
    orders.withColumn("rn", F.row_number().over(w)).filter("rn<=3").count()
    print(f"window top-3/customer: {time.perf_counter() - t0:.2f}s")
    spark.stop()


if __name__ == "__main__":
    main()
