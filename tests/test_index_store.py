"""Disk-persisted ANN index (operators/index_store.py): a cold session
must serve the SAME results as the session that trained, from a
partition-pruned on-disk inverted-file layout, without retraining."""

from __future__ import annotations

import shutil

from conftest import SMOKE_SF_DIR

from hdb_resale_price_data_pipeline_spark.operators.index_store import (
    index_data_dir,
    load_ann_index,
    partition_prune_check,
    probed_lists_scan,
    save_ann_index,
)

STORE = "/tmp/ann_index_store_test"


def _built_index(spark):
    from hdb_resale_price_data_pipeline_spark.queries.similarity import (
        _ivfpq_index,
    )

    return _ivfpq_index(spark, SMOKE_SF_DIR)


def _serve(spark, coarse, pq_cbs, encoded, q_vec, probe_ids, k=5):
    from pyspark.sql.functions import col

    from hdb_resale_price_data_pipeline_spark.operators.pq import pq_topk_refined

    return pq_topk_refined(
        probed_lists_scan(encoded, probe_ids).filter(col("vec_id") != 0),
        q_vec,
        pq_cbs,
        k=k,
        refine_factor=4,
    ).collect()


def test_cold_load_serves_identically_to_trained_session(spark):
    from hdb_resale_price_data_pipeline_spark.operators import index_cache
    from hdb_resale_price_data_pipeline_spark.queries.similarity import _probe_ids

    shutil.rmtree(STORE, ignore_errors=True)
    coarse, pq_cbs, encoded = _built_index(spark)
    q_vec = [
        float(v)
        for v in encoded.filter("vec_id = 0").select("embedding").first().embedding
    ]
    probe = _probe_ids(coarse, q_vec, 2)
    warm = _serve(spark, coarse, pq_cbs, encoded, q_vec, probe)

    save_ann_index(STORE, coarse, pq_cbs, encoded)

    # emulate a cold start: drop every in-session index and cached block
    index_cache.clear()  # ALL artifacts: clearCache() below strips
    # persistence from frames the cache still holds (plan-snapshot
    # determinism — see tools/plan_snapshot.warm_index_caches)
    spark.catalog.clearCache()

    l_coarse, l_pq, l_encoded = load_ann_index(spark, STORE)
    assert l_coarse == coarse
    assert l_pq == pq_cbs
    cold = _serve(spark, l_coarse, l_pq, l_encoded, q_vec, probe)
    assert [tuple(r) for r in cold] == [tuple(r) for r in warm]


def test_probe_filter_partition_prunes_the_lists_scan(spark):
    # relies on the index persisted by the previous test; rebuild if run alone
    import os

    if not os.path.exists(f"{STORE}/manifest.json"):
        coarse, pq_cbs, encoded = _built_index(spark)
        save_ann_index(STORE, coarse, pq_cbs, encoded)
    _, _, encoded = load_ann_index(spark, STORE)
    assert partition_prune_check(encoded, [0, 1]), (
        "ivf_cid probe filter must reach the scan as a PartitionFilter "
        "(the on-disk inverted-file contract)"
    )


def test_loader_refuses_incompatible_manifest(spark):
    import json
    import os

    import pytest

    if not os.path.exists(f"{STORE}/manifest.json"):
        coarse, pq_cbs, encoded = _built_index(spark)
        save_ann_index(STORE, coarse, pq_cbs, encoded)
    with open(f"{STORE}/manifest.json") as fh:
        manifest = json.load(fh)
    bad = dict(manifest, version=999)
    with open(f"{STORE}/manifest.json", "w") as fh:
        json.dump(bad, fh)
    try:
        with pytest.raises(ValueError, match="format version"):
            load_ann_index(spark, STORE)
    finally:
        with open(f"{STORE}/manifest.json", "w") as fh:
            json.dump(manifest, fh)


def test_env_store_roundtrip_via_query_path(spark, monkeypatch, tmp_path):
    """SPARK_GRAFT_ANN_STORE wiring in queries/similarity._ivfpq_index:
    session 1 trains AND persists; an emulated fresh session (caches
    cleared) must cold-LOAD and return the identical graded-query
    result, never retraining (the store path is the only build input
    left)."""
    from hdb_resale_price_data_pipeline_spark.queries import similarity as sim

    baseline = [tuple(r) for r in sim.q_ivfpq_topk(spark, SMOKE_SF_DIR).collect()]

    from hdb_resale_price_data_pipeline_spark.operators import index_cache

    monkeypatch.setenv("SPARK_GRAFT_ANN_STORE", str(tmp_path))
    index_cache.clear()
    spark.catalog.clearCache()
    trained = [tuple(r) for r in sim.q_ivfpq_topk(spark, SMOKE_SF_DIR).collect()]
    assert trained == baseline

    import os

    store_dir = sim._ann_store_path(SMOKE_SF_DIR)
    assert store_dir and os.path.exists(f"{store_dir}/manifest.json")
    index_cache.clear()
    spark.catalog.clearCache()
    cold = [tuple(r) for r in sim.q_ivfpq_topk(spark, SMOKE_SF_DIR).collect()]
    assert cold == baseline


def test_append_extends_only_touched_lists_and_serves_union(spark):
    """Index maintenance: appending a new batch (assigned + encoded
    with the STORED codebooks) must extend exactly the touched
    inverted-list partitions — untouched lists' files stay byte-
    identical — and a subsequent load serves over the union."""
    import glob
    import os

    from pyspark.sql import functions as F

    from hdb_resale_price_data_pipeline_spark.operators.index_store import (
        append_ann_index,
    )
    from hdb_resale_price_data_pipeline_spark.operators.ivf import (
        assign_to_codebook,
    )
    from hdb_resale_price_data_pipeline_spark.operators.pq import pq_encode

    store = "/tmp/ann_index_store_append"
    import shutil

    shutil.rmtree(store, ignore_errors=True)
    coarse, pq_cbs, encoded = _built_index(spark)
    save_ann_index(store, coarse, pq_cbs, encoded)
    n0 = spark.read.parquet(f"{index_data_dir(store)}/inverted_lists").count()

    l_coarse, l_pq, _ = load_ann_index(spark, store)
    # the "new batch": 5 existing vectors with shifted ids, re-assigned
    # and re-encoded through the SAME stored codebooks
    src = spark.read.parquet(f"{SMOKE_SF_DIR}/embeddings.parquet").limit(5)
    batch = src.withColumn("vec_id", F.col("vec_id") + 1_000_000)
    new_encoded = pq_encode(
        assign_to_codebook(batch, "embedding", l_coarse), "embedding", l_pq
    )
    touched = {r.ivf_cid for r in new_encoded.select("ivf_cid").distinct().collect()}
    untouched = [c for c, _ in l_coarse if c not in touched]

    def files_of(cid):
        return sorted(
            (p, os.path.getmtime(p), os.path.getsize(p))
            for p in glob.glob(
                f"{index_data_dir(store)}/inverted_lists/ivf_cid={cid}/*.parquet"
            )
        )

    before = {c: files_of(c) for c in untouched}
    append_ann_index(store, new_encoded)
    assert {c: files_of(c) for c in untouched} == before, (
        "append must not rewrite untouched lists"
    )

    _, _, reloaded = load_ann_index(spark, store)
    assert reloaded.count() == n0 + 5
    appended_ids = {
        r.vec_id for r in reloaded.filter(F.col("vec_id") >= 1_000_000).collect()
    }
    assert len(appended_ids) == 5


def test_streamed_appends_compact_without_changing_serving(spark):
    """The streaming-append lifecycle end to end: repeated small
    appends fragment the hot lists; compact_ann_index rewrites only
    those lists (partition-selective), file counts drop, and the
    reloaded index serves the identical row set."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from hdb_resale_price_data_pipeline_spark.operators.index_store import (
        append_ann_index,
        compact_ann_index,
    )
    from hdb_resale_price_data_pipeline_spark.operators.ivf import (
        assign_to_codebook,
    )
    from hdb_resale_price_data_pipeline_spark.operators.pq import pq_encode

    store = "/tmp/ann_index_store_compact"
    shutil.rmtree(store, ignore_errors=True)
    coarse, pq_cbs, encoded = _built_index(spark)
    save_ann_index(store, coarse, pq_cbs, encoded)

    src = spark.read.parquet(f"{SMOKE_SF_DIR}/embeddings.parquet").limit(20)
    for i in range(1, 7):  # six micro-batch appends → fragmented lists
        batch = src.withColumn("vec_id", F.col("vec_id") + i * 1_000_000)
        append_ann_index(
            store,
            pq_encode(
                assign_to_codebook(batch, "embedding", coarse), "embedding", pq_cbs
            ),
        )

    def n_files():
        return len(
            glob.glob(f"{index_data_dir(store)}/inverted_lists/ivf_cid=*/*.parquet")
        )

    _, _, before_df = load_ann_index(spark, store)
    before_rows = sorted(r.vec_id for r in before_df.select("vec_id").collect())
    files_before = n_files()

    stats = compact_ann_index(spark, store, max_files_per_list=2)
    assert stats["rewritten"] > 0, "fragmented lists must be rewritten"
    assert n_files() < files_before

    _, _, after_df = load_ann_index(spark, store)
    after_rows = sorted(r.vec_id for r in after_df.select("vec_id").collect())
    assert after_rows == before_rows


def test_stream_ingest_lifecycle_exactly_once_and_compacted_serving(spark):
    """r6 stretch: the full streaming lifecycle against the PERSISTED
    index — stream in via the foreachBatch sink (exactly-once two-phase
    publish), simulate a crash-replay of a batch (file set converges,
    no duplicate rows), compact, cold-serve: top-k is bit-identical to
    the pre-compaction serve."""
    import glob
    import shutil
    import uuid

    from pyspark.sql import functions as F

    from hdb_resale_price_data_pipeline_spark.operators.index_store import (
        append_ann_index_idempotent,
        compact_ann_index,
    )
    from hdb_resale_price_data_pipeline_spark.operators.ivf import (
        assign_to_codebook,
    )
    from hdb_resale_price_data_pipeline_spark.operators.pq import pq_encode
    from hdb_resale_price_data_pipeline_spark.queries.similarity import _probe_ids
    from hdb_resale_price_data_pipeline_spark.streaming import table_stream
    from hdb_resale_price_data_pipeline_spark.streaming.embeddings import (
        stream_append_to_ann_index,
    )

    store = "/tmp/ann_index_store_stream_lc"
    shutil.rmtree(store, ignore_errors=True)
    coarse, pq_cbs, encoded = _built_index(spark)
    save_ann_index(store, coarse, pq_cbs, encoded)
    n0 = spark.read.parquet(f"{index_data_dir(store)}/inverted_lists").count()

    # stream the corpus back in with shifted ids — multiple micro-batches
    vecs = table_stream(spark, SMOKE_SF_DIR, "embeddings").withColumn(
        "vec_id", F.col("vec_id") + 1_000_000
    )
    q = stream_append_to_ann_index(
        vecs, store, coarse, pq_cbs, f"/tmp/ckpt_{uuid.uuid4().hex[:8]}"
    )
    q.awaitTermination()
    _, _, served = load_ann_index(spark, store)
    n_stream = served.count()
    assert n_stream == 2 * n0, "every streamed vector appended exactly once"

    # crash-replay simulation: re-publish one batch id already published
    src = spark.read.parquet(f"{SMOKE_SF_DIR}/embeddings.parquet").limit(7)
    replayed = pq_encode(
        assign_to_codebook(
            src.withColumn("vec_id", F.col("vec_id") + 2_000_000),
            "embedding",
            coarse,
        ),
        "embedding",
        pq_cbs,
    )
    append_ann_index_idempotent(store, replayed, 777)
    append_ann_index_idempotent(store, replayed, 777)  # replay converges
    _, _, after_replay = load_ann_index(spark, store)
    assert after_replay.count() == n_stream + 7

    # serve BEFORE compaction, over the fragmented lists
    q_vec = [
        float(v)
        for v in encoded.filter("vec_id = 0").select("embedding").first().embedding
    ]
    probe = _probe_ids(coarse, q_vec, 2)
    before = _serve(spark, coarse, pq_cbs, after_replay, q_vec, probe)

    files_before = len(
        glob.glob(f"{index_data_dir(store)}/inverted_lists/ivf_cid=*/*.parquet")
    )
    stats = compact_ann_index(spark, store, max_files_per_list=2)
    assert stats["rewritten"] > 0
    assert (
        len(glob.glob(f"{index_data_dir(store)}/inverted_lists/ivf_cid=*/*.parquet"))
        < files_before
    )

    # cold-serve over the compacted layout: bit-identical top-k
    spark.catalog.clearCache()
    _, _, cold = load_ann_index(spark, store)
    after = _serve(spark, coarse, pq_cbs, cold, q_vec, probe)
    assert [tuple(r) for r in after] == [tuple(r) for r in before]


def test_resave_is_atomic_for_concurrent_readers(spark):
    """r5 advisory: a re-save must never overwrite files a concurrent
    reader may be scanning. Each save lands in a fresh versioned dir and
    the manifest flips LAST; the previous version survives one more save
    (grace window), then is garbage-collected."""
    import json
    import os
    import shutil

    store = "/tmp/ann_index_store_resave"
    shutil.rmtree(store, ignore_errors=True)
    coarse, pq_cbs, encoded = _built_index(spark)

    save_ann_index(store, coarse, pq_cbs, encoded)
    assert index_data_dir(store) == f"{store}/v1"
    # a reader resolves the v1 layout before the re-save
    _, _, reader_frame = load_ann_index(spark, store)
    v1_rows = sorted(r.vec_id for r in reader_frame.select("vec_id").collect())

    save_ann_index(store, coarse, pq_cbs, encoded)  # re-save → v2
    with open(f"{store}/manifest.json") as fh:
        assert json.load(fh)["data_dir"] == "v2"
    assert os.path.isdir(f"{store}/v1"), "grace window: previous version kept"
    # the pre-flip reader still scans v1's untouched files
    again = sorted(r.vec_id for r in reader_frame.select("vec_id").collect())
    assert again == v1_rows
    # new loads resolve v2 and serve the same content
    _, _, fresh = load_ann_index(spark, store)
    assert sorted(r.vec_id for r in fresh.select("vec_id").collect()) == v1_rows

    save_ann_index(store, coarse, pq_cbs, encoded)  # third save → v3
    assert index_data_dir(store) == f"{store}/v3"
    # r6 ADVICE guard: v1 (two saves behind) is NOT deleted immediately —
    # it gets a `_superseded` stamp and survives the grace window, so a
    # long-running lazy reader still two saves back keeps its files.
    assert os.path.isdir(f"{store}/v1"), "grace TTL: superseded version kept"
    assert os.path.isfile(f"{store}/v1/_superseded")
    again = sorted(r.vec_id for r in reader_frame.select("vec_id").collect())
    assert again == v1_rows, "reader two saves behind still serves"
    assert os.path.isdir(f"{store}/v2")

    # with the grace window elapsed (TTL=0), the next save collects v1+v2
    save_ann_index(store, coarse, pq_cbs, encoded, gc_grace_seconds=0.0)
    assert index_data_dir(store) == f"{store}/v4"
    assert not os.path.exists(f"{store}/v1"), "v1 GC'd past grace"
    assert not os.path.exists(f"{store}/v2"), "v2 GC'd past grace"
    assert os.path.isdir(f"{store}/v3"), "immediate predecessor always kept"


def test_store_path_keys_on_dataset_identity(spark, monkeypatch, tmp_path):
    """Review r5: two corpora sharing a basename (or one regenerated in
    place) must map to DIFFERENT store dirs — a stale hit would
    silently serve neighbors from the wrong corpus."""
    import shutil

    from hdb_resale_price_data_pipeline_spark.queries.similarity import (
        _ann_store_path,
    )

    monkeypatch.setenv("SPARK_GRAFT_ANN_STORE", str(tmp_path))
    p1 = _ann_store_path(SMOKE_SF_DIR)
    # same basename, different directory → different identity
    clone = tmp_path / "clone" / "sf0.001"
    clone.mkdir(parents=True)
    shutil.copy(f"{SMOKE_SF_DIR}/embeddings.parquet", clone / "embeddings.parquet")
    p2 = _ann_store_path(str(clone))
    assert p1 != p2
    # regenerating in place (mtime/size change) → different identity
    import os

    os.utime(clone / "embeddings.parquet", (1, 1))
    assert _ann_store_path(str(clone)) != p2
