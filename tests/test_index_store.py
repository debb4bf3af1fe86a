"""Disk-persisted ANN index (operators/index_store.py): a cold session
must serve the SAME results as the session that trained, from a
partition-pruned on-disk inverted-file layout, without retraining."""

from __future__ import annotations

import json
import re
import shutil

from conftest import SMOKE_SF_DIR
from pyspark.sql.functions import col

from hdb_resale_price_data_pipeline_spark.operators.index_store import (
    load_ann_index,
    save_ann_index,
)

STORE = "/tmp/ann_index_store_test"


def _probed(encoded, probe_ids):
    """The serving filter of queries/similarity: ``ivf_cid IN (...)``."""
    return encoded.filter(col("ivf_cid").isin(probe_ids))


def _data_dir(store: str) -> str:
    with open(f"{store}/manifest.json") as fh:
        return json.load(fh)["data_dir"]


def _built_index(spark):
    from hdb_resale_price_data_pipeline_spark.queries.similarity import (
        _ivfpq_index,
    )

    return _ivfpq_index(spark, SMOKE_SF_DIR)


def _serve(spark, coarse, pq_cbs, encoded, q_vec, probe_ids, k=5):
    from hdb_resale_price_data_pipeline_spark.operators.pq import pq_topk_refined

    return pq_topk_refined(
        _probed(encoded, probe_ids).filter(col("vec_id") != 0),
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
    plan = _probed(encoded, [0, 1])._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*ivf_cid", plan), (
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


def test_resave_is_atomic_for_concurrent_readers(spark):
    """r5 advisory: a re-save must never overwrite files a concurrent
    reader may be scanning. Each save lands in a fresh versioned dir and
    the manifest flips LAST; the previous version survives one more save
    (grace window), then is garbage-collected."""
    import os
    import shutil

    store = "/tmp/ann_index_store_resave"
    shutil.rmtree(store, ignore_errors=True)
    coarse, pq_cbs, encoded = _built_index(spark)

    save_ann_index(store, coarse, pq_cbs, encoded)
    assert _data_dir(store) == "v1"
    # a reader resolves the v1 layout before the re-save
    _, _, reader_frame = load_ann_index(spark, store)
    v1_rows = sorted(r.vec_id for r in reader_frame.select("vec_id").collect())

    save_ann_index(store, coarse, pq_cbs, encoded)  # re-save → v2
    assert _data_dir(store) == "v2"
    assert os.path.isdir(f"{store}/v1"), "grace window: previous version kept"
    # the pre-flip reader still scans v1's untouched files
    again = sorted(r.vec_id for r in reader_frame.select("vec_id").collect())
    assert again == v1_rows
    # new loads resolve v2 and serve the same content
    _, _, fresh = load_ann_index(spark, store)
    assert sorted(r.vec_id for r in fresh.select("vec_id").collect()) == v1_rows

    save_ann_index(store, coarse, pq_cbs, encoded)  # third save → v3
    assert _data_dir(store) == "v3"
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
    assert _data_dir(store) == "v4"
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
