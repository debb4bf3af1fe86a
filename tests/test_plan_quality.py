"""Physical-plan quality gates (the 100 TB design contract).

These assert the *shape* of the plans, not timings: dims broadcast (the
fact side never shuffles for a small join), predicates reach the parquet
scan, projections prune columns, map pipelines stay shuffle-free, and
each aggregation shuffles exactly once with map-side partials. A
regression here is a scale bug even when sf0.1 timings look fine.
"""

from __future__ import annotations

import re

import pytest

from conftest import TEST_SF_DIR
from hdb_resale_price_data_pipeline_spark.queries import all_queries, local_queries

REGISTRY = all_queries()
LOCAL_REGISTRY = local_queries()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _shuffles(plan: str) -> int:
    """Count real (hash/range) exchanges; broadcast exchanges excluded —
    they move only the tiny dim."""
    return len(re.findall(r"Exchange (?:hash|range)partitioning", plan))


def test_flagship_broadcasts_all_dims(spark):
    plan = _plan(REGISTRY["avg_revenue_by_region_year"].fn(spark, TEST_SF_DIR))
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan
    assert _shuffles(plan) == 1  # only the final aggregation
    # map-side combine before the shuffle (the avg is computed as an
    # exact DECIMAL partial_sum + partial_count since the repr-round fix)
    assert "partial_sum" in plan


def test_pricing_summary_pushdown_and_pruning(spark):
    plan = _plan(REGISTRY["pricing_summary"].fn(spark, TEST_SF_DIR))
    assert "LessThanOrEqual(l_shipdate" in plan  # predicate reached the scan
    m = re.search(r"ReadSchema: struct<([^>]*)", plan)
    read_cols = m.group(1)
    assert "l_orderkey" not in read_cols and "l_partkey" not in read_cols
    assert _shuffles(plan) == 1
    assert "partial_sum" in plan


def test_incremental_curation_never_sort_merge_joins(spark):
    """curate_increment_report joins the corpus only against batch-sized
    sides — every join must plan as broadcast (a SortMergeJoin would
    mean the corpus is being shuffled for a batch-sized probe)."""
    plan = _plan(LOCAL_REGISTRY["curation_increment"].fn(spark, TEST_SF_DIR))
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 4


def test_timestamp_normalization_is_pushdown_transparent(spark):
    """The read-boundary NTZ→TIMESTAMP cast (sources/readers.py) must
    not cost scan pruning: Catalyst unwraps the cast out of comparisons
    (UnwrapCastInBinaryComparison), so a filter on the normalized column
    still reaches the parquet scan, and column pruning still holds. At
    100 TB this IS the feature — normalization that blocked pushdown
    would trade a correctness fix for a full-scan regression."""
    from hdb_resale_price_data_pipeline_spark.sources import read_table
    from pyspark.sql.functions import col

    ev = (
        read_table(spark, TEST_SF_DIR, "events")
        .filter(col("ts") >= "2024-01-02 00:00:00")
        .select("event_id")
    )
    plan = _plan(ev)
    scan = plan[plan.index("FileScan") :]
    assert re.search(r"DataFilters: \[[^\]]*\(ts#\d+ >=", scan), scan[:400]
    m = re.search(r"ReadSchema: struct<([^>]*)", scan)
    assert m and "props" not in m.group(1) and "value" not in m.group(1)


def test_window_queries_single_shuffle(spark):
    plan = _plan(LOCAL_REGISTRY["top_customers_per_nation"].fn(spark, TEST_SF_DIR))
    assert _shuffles(plan) == 1  # the window partitionBy only


def test_customer_windows_one_shuffle_per_partitioning(spark):
    """Two window specs with different partition keys: exactly one
    exchange each, never more (Spark must not re-shuffle per function
    within the same spec)."""
    plan = _plan(REGISTRY["customer_windows"].fn(spark, TEST_SF_DIR))
    assert _shuffles(plan) == 2


def test_sessionize_reuses_user_partitioning(spark):
    """window → groupBy(user, session) → groupBy(user): the later
    aggregations must reuse the window's hashpartitioning(user_id), not
    re-shuffle."""
    plan = _plan(REGISTRY["events_sessionize"].fn(spark, TEST_SF_DIR))
    assert _shuffles(plan) == 1


@pytest.mark.core
def test_scraped_pipelines_are_shuffle_free(spark, tmp_path):
    """The transformation jobs are map-only pipelines with broadcast
    joins (SURVEY.md §3.3) — zero fact-side shuffles. Historical J2
    joins the driver-built district grain, so it plans no dedupe
    shuffle either."""
    import datetime

    import fixtures
    from hdb_resale_price_data_pipeline_spark import seeds
    from hdb_resale_price_data_pipeline_spark.plans import (
        historical_pipeline,
        merge_dedup_pipeline,
        propnex_pipeline,
        srx_pipeline,
    )
    from hdb_resale_price_data_pipeline_spark.schemas import (
        RAW_PROPNEX_SCHEMA,
        RAW_SRX_SCHEMA,
    )
    from hdb_resale_price_data_pipeline_spark.sources.readers import read_historical_csv_dir

    raw_p = spark.createDataFrame(
        [tuple(r[f.name] for f in RAW_PROPNEX_SCHEMA.fields) for r in fixtures.PROPNEX_ROWS],
        RAW_PROPNEX_SCHEMA,
    )
    raw_s = spark.createDataFrame(
        [tuple(r[f.name] for f in RAW_SRX_SCHEMA.fields) for r in fixtures.SRX_ROWS],
        RAW_SRX_SCHEMA,
    )
    h = historical_pipeline(
        read_historical_csv_dir(spark, fixtures.write_historical_csvs(str(tmp_path))),
        seeds.town_district(spark),
        seeds.district_zone(spark),
        seeds.district_region(spark),
    )
    p = propnex_pipeline(raw_p, seeds.district_code(spark), seeds.district_region(spark), 2024)
    s = srx_pipeline(
        raw_s, seeds.district_code(spark), seeds.district_region(spark),
        seeds.agency(spark), 2024,
    )
    assert _shuffles(_plan(h)) == 0
    assert _shuffles(_plan(p)) == 0
    assert _shuffles(_plan(s)) == 0
    # merge+dedup: exactly the one window shuffle the reference has
    merged = merge_dedup_pipeline(p, s, datetime.date(2024, 11, 1))
    assert _shuffles(_plan(merged)) == 1


def _nodes(node):
    """Every node of a JVM plan tree (logical or physical), pre-order."""
    yield node
    kids = node.children()
    for i in range(kids.size()):
        yield from _nodes(kids.apply(i))


def _broadcast_leaves(df) -> list[str]:
    """Node names of the leaves under each BroadcastExchange."""
    root = df._jdf.queryExecution().executedPlan()
    if root.nodeName() == "AdaptiveSparkPlan":
        root = root.executedPlan()
    return [
        leaf.nodeName()
        for node in _nodes(root)
        if node.nodeName() == "BroadcastExchange"
        for leaf in _nodes(node)
        if leaf.children().isEmpty()
    ]


@pytest.mark.core
def test_seed_dimensions_broadcast_as_local_relations(spark, tmp_path):
    """Every seed dimension a reference pipeline broadcasts is a
    LocalTableScan, and no plan scans driver data through Python workers
    (``Scan ExistingRDD``, the plan of a Python-list createDataFrame,
    which runs a Python-worker job per broadcast). The raw inputs are
    read from files the way ``plans.runner.run_all`` reads them."""
    import datetime

    import fixtures
    from hdb_resale_price_data_pipeline_spark import seeds
    from hdb_resale_price_data_pipeline_spark.plans import (
        historical_pipeline,
        merge_dedup_pipeline,
        propnex_pipeline,
        srx_pipeline,
    )
    from hdb_resale_price_data_pipeline_spark.schemas import (
        RAW_PROPNEX_SCHEMA,
        RAW_SRX_SCHEMA,
    )
    from hdb_resale_price_data_pipeline_spark.sources.readers import (
        read_historical_csv_dir,
        read_listing_json,
    )

    propnex_json, srx_json = fixtures.write_listing_jsons(str(tmp_path))
    h = historical_pipeline(
        read_historical_csv_dir(spark, fixtures.write_historical_csvs(str(tmp_path))),
        seeds.town_district(spark),
        seeds.district_zone(spark),
        seeds.district_region(spark),
    )
    p = propnex_pipeline(
        read_listing_json(spark, propnex_json, RAW_PROPNEX_SCHEMA),
        seeds.district_code(spark), seeds.district_region(spark), 2024,
    )
    s = srx_pipeline(
        read_listing_json(spark, srx_json, RAW_SRX_SCHEMA),
        seeds.district_code(spark), seeds.district_region(spark),
        seeds.agency(spark), 2024,
    )
    merged = merge_dedup_pipeline(p, s, datetime.date(2024, 11, 1))
    for name, df, n_dims in (("historical", h, 3), ("propnex", p, 2), ("srx", s, 3), ("merge", merged, 5)):
        assert _broadcast_leaves(df) == ["LocalTableScan"] * n_dims, name
        assert "Scan ExistingRDD" not in _plan(df), name


def _projects(df) -> int:
    """Project nodes in the analyzed logical plan of ``df``."""
    plan = df._jdf.queryExecution().analyzed()
    return sum(node.nodeName() == "Project" for node in _nodes(plan))


@pytest.mark.core
def test_conform_steps_are_one_projection(spark, tmp_path):
    """Each daily conform step is one column mapping: it adds exactly one
    Project to its input's analyzed plan, whatever number of columns it
    cleans (a ``withColumn`` chain adds one Project per column, each
    re-analyzing the growing plan)."""
    import fixtures
    from hdb_resale_price_data_pipeline_spark.plans.historical import conform_historical
    from hdb_resale_price_data_pipeline_spark.plans.propnex import conform_propnex
    from hdb_resale_price_data_pipeline_spark.plans.srx import conform_srx
    from hdb_resale_price_data_pipeline_spark.schemas import (
        RAW_PROPNEX_SCHEMA,
        RAW_SRX_SCHEMA,
    )
    from hdb_resale_price_data_pipeline_spark.sources.readers import read_historical_csv_dir

    raw_h = read_historical_csv_dir(spark, fixtures.write_historical_csvs(str(tmp_path)))
    raw_p = spark.createDataFrame(
        [tuple(r[f.name] for f in RAW_PROPNEX_SCHEMA.fields) for r in fixtures.PROPNEX_ROWS],
        RAW_PROPNEX_SCHEMA,
    )
    raw_s = spark.createDataFrame(
        [tuple(r[f.name] for f in RAW_SRX_SCHEMA.fields) for r in fixtures.SRX_ROWS],
        RAW_SRX_SCHEMA,
    )
    for name, raw, out in (
        ("historical", raw_h, conform_historical(raw_h)),
        ("propnex", raw_p, conform_propnex(raw_p, 2024)),
        ("srx", raw_s, conform_srx(raw_s, 2024)),
    ):
        assert _projects(out) - _projects(raw) == 1, name


def test_topk_avoids_global_sort(spark):
    """LIMIT after ORDER BY must plan as TakeOrderedAndProject, not a
    full global sort."""
    plan = _plan(REGISTRY["emb_cosine_topk"].fn(spark, TEST_SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert _shuffles(plan) == 0  # broadcast query vector; no shuffle at all


def test_dedup_exact_partial_aggregates(spark):
    plan = _plan(REGISTRY["dedup_exact"].fn(spark, TEST_SF_DIR))
    assert "partial_min" in plan or "partial_count" in plan
    assert _shuffles(plan) == 1


def test_minhash_is_bucket_join_not_cross_join(spark):
    plan = _plan(REGISTRY["dedup_minhash_lsh"].fn(spark, TEST_SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_range_join_is_equi_not_nested_loop(spark):
    plan = _plan(REGISTRY["events_range_join"].fn(spark, TEST_SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_asof_join_single_shuffle(spark):
    """Union-sort as-of join: one hash exchange (the key window), no
    range/nested-loop join anywhere."""
    plan = _plan(REGISTRY["events_asof_attribution"].fn(spark, TEST_SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert _shuffles(plan) == 1


def test_salted_agg_two_small_shuffles(spark):
    # demoted to LOCAL in the r6 rotation (er_golden_record promoted)
    plan = _plan(LOCAL_REGISTRY["events_salted_totals"].fn(spark, TEST_SF_DIR))
    assert _shuffles(plan) == 2  # salted partial + final reduce
    assert "partial_sum" in plan


def test_runtime_bloom_filter_prunes_join_probe_side(spark):
    """A selective dim filter injects a runtime Bloom filter on the fact
    side (session.py enables the optimization; thresholds relaxed here
    because sf0.01 sits under the size gates a 100 TB table clears
    naturally). Values must be unchanged by the pruning."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import col

    li = spark.read.parquet(f"{TEST_SF_DIR}/lineitem.parquet")
    orders = spark.read.parquet(f"{TEST_SF_DIR}/orders.parquet")

    def q():
        return (
            li.join(
                orders.filter(col("o_orderpriority") == "1-URGENT"),
                col("l_orderkey") == col("o_orderkey"),
            )
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    baseline = {(r.o_orderstatus, r.n) for r in q().collect()}
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
    )
    try:
        bloomed = q()
        plan = bloomed._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom" in plan.lower()
        assert {(r.o_orderstatus, r.n) for r in bloomed.collect()} == baseline
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold")
        spark.conf.unset(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
        )


def test_incremental_dedup_never_shuffles_corpus(spark):
    """Both sides of the incremental check broadcast the batch-sized
    frame: the corpus contributes a scan (semi-join filter at the read)
    and zero hash exchanges beyond the batch's internal groupBy."""
    plan = _plan(LOCAL_REGISTRY["dedup_incremental"].fn(spark, TEST_SF_DIR))
    assert plan.count("BroadcastHashJoin") == 2  # semi + anti
    assert "SortMergeJoin" not in plan
    # 3 hash exchanges, ALL on the batch-sized side (survivor groupBy,
    # its column-pruned recompute for the broadcast build, collision
    # distinct) — each ships one 8-byte column of batch cardinality.
    # The corpus side contributes file scans only.
    assert _shuffles(plan) <= 3
    corpus_scans = plan.count("FileScan")
    assert corpus_scans >= 2  # batch scan + corpus scan, both unshuffled


def test_batch_topk_ships_only_topk_rows(spark):
    """Batch ANN: the query set is broadcast (corpus never shuffles for
    the join) and the per-query top-k must plan a partial
    WindowGroupLimit below the exchange, so each map task ships at most
    Q×k rows — the shuffle is independent of corpus size."""
    plan = _plan(LOCAL_REGISTRY["emb_batch_topk"].fn(spark, TEST_SF_DIR))
    assert "WindowGroupLimit" in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # tiny query set, cross form
    assert _shuffles(plan) == 1  # only the final per-query window


def test_domain_mixture_broadcasts_rate_table(spark):
    """The per-domain rate table must reach the corpus scan as a
    broadcast, and pass 1 must shuffle only the slim (domain, n_tok)
    projection — one hash exchange total (the window's single-partition
    exchange moves a domains-sized frame and is not a scale risk)."""
    plan = _plan(LOCAL_REGISTRY["text_domain_mix"].fn(spark, TEST_SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert _shuffles(plan) == 1
    assert "partial_sum" in plan


def test_decontamination_broadcasts_eval_grams(spark):
    """The eval/benchmark n-gram set must reach the training scan as a
    broadcast — shuffling the (huge) training corpus to join a (tiny)
    benchmark set is the classic decontamination scale bug."""
    plan = _plan(REGISTRY["text_decontaminate"].fn(spark, TEST_SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # exactly two exchanges: the eval-gram distinct (benchmark-sized,
    # tiny) and the per-doc aggregation over the training side — the
    # training corpus itself is never shuffled for the join
    assert _shuffles(plan) == 2
    assert "partial_count" in plan or "partial_sum" in plan


def test_ivf_increment_never_rescans_corpus_when_warm(spark):
    """Incremental IVF maintenance: once the corpus index is built, an
    increment reads the BATCH (partition-pruned residue filter pushed
    to the scan) plus the persisted corpus assignment — no corpus file
    scan, no sort-merge join, and only the two tiny aggregation
    exchanges plus the 8-row join."""
    from hdb_resale_price_data_pipeline_spark.queries.similarity import (
        _ivf_corpus_index,
    )

    from tools.plan_snapshot import _strip_cached_subtrees

    _ivf_corpus_index(spark, TEST_SF_DIR)[1].count()  # warm the index
    plan = _strip_cached_subtrees(
        _plan(LOCAL_REGISTRY["emb_ivf_increment"].fn(spark, TEST_SF_DIR))
    )
    assert "Join" not in plan  # tagged union + one agg, no join at all
    assert "InMemoryTableScan" in plan  # corpus side = cached assignment
    # exactly one real file scan: the batch (residue filter pushed to
    # the scan); the corpus is never re-read
    assert plan.count("FileScan") == 1
    assert _shuffles(plan) == 1  # the single K-row aggregation exchange
