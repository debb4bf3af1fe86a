"""IndexCache: bounded, LRU, and unpersists evicted frames (the round-2
watch-item — unbounded persisted-index dicts leak executor storage in a
long-lived session)."""

from __future__ import annotations

import pytest

from hdb_resale_price_data_pipeline_spark.operators.index_cache import IndexCache


def test_eviction_unpersists_lru_frame(spark):
    cache = IndexCache(max_entries=1)
    a = spark.range(10).persist()
    b = spark.range(20).persist()
    a.count(), b.count()
    cache.put("a", (a, 1))
    assert a.storageLevel.useMemory
    cache.put("b", (b, 2))  # evicts "a"
    assert len(cache) == 1 and cache.get("a") is None
    assert not a.storageLevel.useMemory, "evicted frame must be unpersisted"
    assert b.storageLevel.useMemory
    cache.clear()
    assert not b.storageLevel.useMemory


def test_replacement_unpersists_old_value(spark):
    cache = IndexCache(max_entries=4)
    # distinct plans — identical plans share one entry in Spark's cache
    # manager, so unpersisting one would drop both
    old = spark.range(5).persist()
    new = spark.range(6).persist()
    cache.put("k", (old,))
    cache.put("k", (new,))
    assert not old.storageLevel.useMemory
    assert new.storageLevel.useMemory
    cache.clear()


def test_lru_order_survives_get(spark):
    cache = IndexCache(max_entries=2)
    frames = {k: spark.range(3).persist() for k in "abc"}
    cache.put("a", (frames["a"],))
    cache.put("b", (frames["b"],))
    cache.get("a")  # touch: "b" becomes LRU
    cache.put("c", (frames["c"],))
    assert cache.get("a") is not None and cache.get("c") is not None
    assert cache.get("b") is None
    assert not frames["b"].storageLevel.useMemory
    cache.clear()


def test_similarity_caches_build_and_evict_across_datasets(spark):
    """Two sf_dirs through the real LSH index path with capacity 1: the
    first dataset's persisted bucket frame must be unpersisted when the
    second replaces it."""
    from hdb_resale_price_data_pipeline_spark.operators import index_cache
    from hdb_resale_price_data_pipeline_spark.queries import similarity as sim

    cache = index_cache.cache("similarity.lsh")
    saved_max = cache.max_entries
    cache.clear()
    cache.max_entries = 1
    try:
        first, _ = sim._lsh_index(spark, "/root/testdata/sf0.001")
        assert first.storageLevel.useMemory
        second, _ = sim._lsh_index(spark, "/root/testdata/sf0.01")
        assert second.storageLevel.useMemory
        assert not first.storageLevel.useMemory
    finally:
        cache.clear()
        cache.max_entries = saved_max

def test_broadcast_eviction_unpersists_not_destroys(spark):
    """ADVICE r4: a plan that captured an LRU-evicted broadcast must
    keep working (unpersist → executors lazily re-fetch); destroy() is
    reserved for clear()."""
    cache = IndexCache(max_entries=1)
    bc_a = spark.sparkContext.broadcast([1, 2, 3])
    bc_b = spark.sparkContext.broadcast([4, 5])
    cache.put("a", (bc_a,))
    cache.put("b", (bc_b,))  # evicts "a" → unpersist only
    assert bc_a.value == [1, 2, 3], "evicted broadcast must stay usable"
    cache.clear()  # teardown → destroy
    try:
        destroyed = False
        bc_b.value  # noqa: B018 — probing destroyed-ness
    except Exception:
        destroyed = True
    assert destroyed, "clear() must destroy broadcasts"
    bc_a.destroy()


def test_rewritten_sources_rebuild_cached_artifacts(spark, tmp_path):
    """A dataset rewritten in place within one session must never be
    served artifacts built from its old files: each cached family that
    read a rewritten table rebuilds and matches its DuckDB oracle over
    the new files (the old key carried no file fingerprint, and Spark's
    plan-matching CacheManager would hand the rebuild the old persisted
    data)."""
    import shutil

    import duckdb
    import pyarrow.parquet as pq

    from conftest import SMOKE_SF_DIR
    from test_correctness import _rows

    from hdb_resale_price_data_pipeline_spark.queries import local_queries

    sf_dir = str(tmp_path / "sf")
    shutil.copytree(SMOKE_SF_DIR, sf_dir)
    registry = local_queries()
    names = (
        "dedup_minhash_lsh",
        "stream_attribution_outer",
        "emb_ivf_topk",
        "text_bpe_learn",
    )
    for name in names:
        registry[name].fn(spark, sf_dir).collect()

    for table in ("documents", "events", "embeddings"):
        path = f"{sf_dir}/{table}.parquet"
        rows = pq.read_table(path)
        pq.write_table(rows.slice(0, rows.num_rows // 2), path)

    con = duckdb.connect()
    for path in sorted((tmp_path / "sf").glob("*.parquet")):
        con.execute(f"CREATE VIEW {path.stem} AS SELECT * FROM '{path}'")
    for name in names:
        got = registry[name].fn(spark, sf_dir).toPandas()
        want = con.execute(registry[name].oracle).fetchdf()
        cols = sorted(got.columns)
        assert sorted(want.columns) == cols, name
        assert _rows(got, cols) == _rows(want, cols), name
    con.close()


@pytest.mark.core
def test_rewritten_table_is_not_served_from_a_persisted_plan(spark, tmp_path):
    """A plain ``read_table`` query whose plan equals a persisted
    frame's plan must read a table rewritten in place, not the data
    Spark cached from the old file: the read's fingerprint check
    refreshes Spark's cached data over the rewritten path."""
    import shutil

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from conftest import SMOKE_SF_DIR

    from hdb_resale_price_data_pipeline_spark.sources import read_table

    sf_dir = str(tmp_path / "sf")
    shutil.copytree(SMOKE_SF_DIR, sf_dir)
    path = f"{sf_dir}/nation.parquet"

    def query():
        return read_table(spark, sf_dir, "nation").filter(F.col("n_regionkey") >= 0)

    persisted = query().persist()
    try:
        assert persisted.count() == 25
        pq.write_table(pq.read_table(path).slice(0, 5), path)
        assert query().count() == 5
    finally:
        persisted.unpersist()


@pytest.mark.core
def test_rewritten_table_schema_is_inferred_again(spark, tmp_path):
    """``read_table`` pins a table's schema per file fingerprint: a
    column added in place shows up on the next read, and a rewrite that
    breaks the table's contract raises on every read (a contract
    failure is never cached)."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from conftest import SMOKE_SF_DIR

    from hdb_resale_price_data_pipeline_spark.sources import read_table
    from hdb_resale_price_data_pipeline_spark.sources.readers import (
        SchemaContractError,
    )

    sf_dir = str(tmp_path / "sf")
    shutil.copytree(SMOKE_SF_DIR, sf_dir)
    path = f"{sf_dir}/nation.parquet"
    rows = pq.read_table(path)
    assert "n_extra" not in read_table(spark, sf_dir, "nation").columns

    pq.write_table(rows.append_column("n_extra", pa.array(["x"] * rows.num_rows)), path)
    got = read_table(spark, sf_dir, "nation").select("n_extra").collect()
    assert [r.n_extra for r in got] == ["x"] * rows.num_rows

    regionkey = rows.schema.get_field_index("n_regionkey")
    pq.write_table(
        rows.set_column(
            regionkey, "n_regionkey", rows["n_regionkey"].cast(pa.string())
        ),
        path,
    )
    for _ in range(2):
        with pytest.raises(SchemaContractError, match=r"nation\.n_regionkey: got string"):
            read_table(spark, sf_dir, "nation")


def test_clear_releases_every_family(spark, tmp_path):
    """``index_cache.clear()`` is complete by construction: after one
    artifact of every family is built — the query indexes and models,
    profiling statistics and results, the decontam bitset, the dedup
    gate state, ``embedding_dim`` and footer row counts — one call
    leaves the registry empty and destroys every cached broadcast."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest
    from pyspark import Broadcast

    from conftest import SMOKE_SF_DIR

    from hdb_resale_price_data_pipeline_spark.operators import index_cache
    from hdb_resale_price_data_pipeline_spark.queries import local_queries
    from hdb_resale_price_data_pipeline_spark.streaming.events import (
        _dir_parquet_rows,
    )

    registry = local_queries()
    for name in (
        "emb_ann_lsh_buckets",
        "emb_ivf_topk",
        "emb_kmeans_clusters",
        "emb_pq_topk",
        "emb_ivfpq_topk",
        "emb_ivfadc_topk",
        "emb_ivf_increment",
        "emb_pagerank",
        "emb_cosine_topk",
        "dedup_minhash_lsh",
        "stream_attribution_outer",
        "text_bpe_learn",
        "text_wordpiece_learn",
        "text_unigram_learn",
        "text_quality_classifier",
        "text_bloom_decontaminate",
        "stream_dedup_gate",
        "dq_profile_report",
    ):
        registry[name].fn(spark, SMOKE_SF_DIR).collect()
    pq.write_table(pa.table({"x": [1, 2]}), tmp_path / "part-0.parquet")
    assert _dir_parquet_rows(str(tmp_path)) == 2

    held = {tag for tag, c in index_cache.registry().items() if len(c)}
    families = {
        "similarity.lsh",
        "similarity.ivf",
        "similarity.ivf_kmeans",
        "similarity.pq",
        "similarity.ivfpq",
        "similarity.ivfadc",
        "similarity.ivf_corpus",
        "similarity.knn_edges",
        "similarity.embedding_dim",
        "dedup.minhash_pairs",
        "extensions.attribution",
        "text.bpe",
        "text.wordpiece",
        "text.unigram",
        "text.lr",
        "decontam.bloom",
        "streaming.dedup_gate",
        "streaming.footer_rows",
        "profiling.fd",
        "profiling.ind",
        "profiling.ucc",
        "profiling.od",
        "profiling.stats.orders",
        "sources.schema.orders",
    }
    assert families <= held, families - held
    broadcasts = [
        part
        for c in index_cache.registry().values()
        for value in c._data.values()
        for part in (value if isinstance(value, (tuple, list)) else (value,))
        if isinstance(part, Broadcast)
    ]
    assert len(broadcasts) >= 3  # the decontam bitset + two gate bitsets

    index_cache.clear()
    assert all(len(c) == 0 for c in index_cache.registry().values())
    for bc in broadcasts:
        with pytest.raises(Exception):
            bc.value  # noqa: B018 — probing destroyed-ness


def test_registry_is_thread_safe(tmp_path):
    """Concurrent lookups (profiling warms three tables' statistics at
    once) share one LRU per tag and keep each tag's bound: 32 threads
    on 4 tags with 8 distinct params each leave exactly 4 entries per
    tag."""
    import sys
    import threading

    from hdb_resale_price_data_pipeline_spark.operators import index_cache

    source = tmp_path / "part-0.parquet"
    source.write_bytes(b"x")
    stores, results = [], {}

    def worker(i: int) -> None:
        tag = f"stress.{i % 4}"
        stores.append(index_cache.cache(tag))
        results[i] = index_cache.artifact(None, tag, [str(source)], i, lambda: i)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(32)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
            assert not t.is_alive()
    finally:
        sys.setswitchinterval(old)
    assert results == {i: i for i in range(32)}
    assert len({id(s) for s in stores}) == 4
    assert all(len(index_cache.cache(f"stress.{k}")) == 4 for k in range(4))
    index_cache.clear("stress.")
    assert all(len(index_cache.cache(f"stress.{k}")) == 0 for k in range(4))


@pytest.mark.core
def test_stage_dir_keys_publishes_whole_and_survives_races(tmp_path, monkeypatch):
    """stage_dir names a directory by (kind, params, source fingerprint)
    and publishes a build with one rename: a failed build leaves
    nothing at the final path, and racing builds all see one
    complete directory."""
    import os
    import sys
    import tempfile
    import threading

    from hdb_resale_price_data_pipeline_spark.operators.index_cache import stage_dir

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "stages"))
    os.makedirs(tempfile.tempdir)
    source = tmp_path / "t.parquet"
    source.write_bytes(b"x")
    src = str(source)

    def write(*names):
        def build(d):
            for name in names:
                with open(os.path.join(d, name), "w") as f:
                    f.write(name)

        return build

    path = stage_dir("t", [src], 1)
    assert path == stage_dir("t", [src], 1)
    assert os.path.dirname(path) == tempfile.tempdir
    assert stage_dir("t", [src], 2) != path
    os.utime(src, ns=(0, os.stat(src).st_mtime_ns + 1))
    assert stage_dir("t", [src], 1) != path
    path = stage_dir("t", [src], 1)

    def failing(d):
        write("a")(d)
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        stage_dir("t", [src], 1, failing)
    assert not os.path.exists(path)
    assert stage_dir("t", [src], 1, write("b")) == path
    assert sorted(os.listdir(path)) == ["b"]
    assert os.listdir(tempfile.tempdir) == [os.path.basename(path)]

    names = [f"f{i}" for i in range(20)]
    results = {}

    def worker(i: int) -> None:
        results[i] = stage_dir("race", [src], (), write(*names))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
            assert not t.is_alive()
    finally:
        sys.setswitchinterval(old)
    assert len(results) == 8 and len(set(results.values())) == 1
    assert sorted(os.listdir(results[0])) == sorted(names)
    assert len(os.listdir(tempfile.tempdir)) == 2  # no losing copy left behind
