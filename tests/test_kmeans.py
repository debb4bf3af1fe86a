"""k-means invariants: deterministic, objective non-increasing, trained
codebook beats the sampled one."""

from __future__ import annotations

import numpy as np

from conftest import TEST_SF_DIR
from hdb_resale_price_data_pipeline_spark.operators.ivf import assign_to_codebook
from hdb_resale_price_data_pipeline_spark.operators.kmeans import kmeans_fit
from hdb_resale_price_data_pipeline_spark.sources import read_table


def _objective(vectors: np.ndarray, codebook) -> float:
    """The k-means objective: Σ over vectors of the squared distance to
    the nearest centroid."""
    cents = np.asarray([c for _, c in sorted(codebook)], dtype=np.float64)
    d2 = ((vectors[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    return float(d2.min(axis=1).sum())


def test_kmeans_deterministic_and_improving(spark):
    emb = read_table(spark, TEST_SF_DIR, "embeddings")
    cb0 = kmeans_fit(emb, "embedding", "vec_id", k=8, max_iter=0)  # sampled init
    cb5 = kmeans_fit(emb, "embedding", "vec_id", k=8, max_iter=5)
    cb5_again = kmeans_fit(emb, "embedding", "vec_id", k=8, max_iter=5)
    assert cb5 == cb5_again  # deterministic end to end

    vectors = np.asarray(
        [r.embedding for r in emb.select("embedding").collect()], dtype=np.float64
    )
    i0 = _objective(vectors, cb0)
    i5 = _objective(vectors, cb5)
    assert i5 <= i0  # Lloyd never increases the objective
    assert i5 < i0 * 0.999  # and actually moved on this data

    assigned = assign_to_codebook(emb, "embedding", cb5)
    counts = dict(
        (r.ivf_cid, r.n)
        for r in assigned.groupBy("ivf_cid").count().withColumnRenamed("count", "n").collect()
    )
    assert sum(counts.values()) == emb.count()
    assert len(counts) >= 2  # didn't collapse to one cluster


def test_kmeans_oracle_sf0001(spark):
    """Pin the unrolled-CTE Lloyd oracle (queries/similarity.py
    _kmeans_oracle) at a second scale factor next to the suite-wide
    sf0.01 run in test_correctness — the centroid-mean FP-divergence
    argument must hold across data shapes, not at one."""
    import duckdb

    from hdb_resale_price_data_pipeline_spark.queries.similarity import (
        _kmeans_oracle,
        q_kmeans_clusters,
    )

    sf_dir = "/root/testdata/sf0.001"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'"
    )
    srows = sorted(tuple(r) for r in q_kmeans_clusters(spark, sf_dir).collect())
    orows = sorted(tuple(r) for r in con.execute(_kmeans_oracle()).fetchall())
    assert len(srows) > 0 and srows == orows


def test_assignments_stable_across_input_partitionings(spark):
    """The driver's session parallelism is not ours: a different
    partition count regroups the (cid, pid) partial-sum folds, so
    centroid BITS may differ in the last ulps — but the ORACLE-relevant
    output (the assignment) must not flip. Pins the no-near-tie margin
    of this corpus across 32/7/3-partition fits, guarding the
    Lloyd-unroll oracles against driver-parallelism differences."""
    emb = read_table(spark, TEST_SF_DIR, "embeddings")

    def assignments(n_parts: int) -> dict[int, int]:
        cb = kmeans_fit(
            emb.repartition(n_parts), "embedding", "vec_id", k=8, max_iter=3
        )
        staged = emb.withColumn("_ed", emb.embedding.cast("array<double>"))
        return {
            r.vec_id: r.ivf_cid
            for r in assign_to_codebook(staged, "_ed", cb).collect()
        }

    base = assignments(32)
    for parts in (7, 3):
        assert assignments(parts) == base, f"assignment flipped at {parts} partitions"
