"""Mini-batchless Lloyd k-means over an embedding column — the trained
codebook for IVF (operators/ivf.py uses a sampled codebook; this is the
quality upgrade at real scale) and the canonical *iterative* dataflow
(SURVEY.md §7: non-SQL-expressible → rows-only driver check + invariant
tests).

Distributed shape per iteration: ONE shuffle-free job. The K centroids
travel in a ``mapInPandas`` closure (K×dim floats — broadcast-sized);
each partition computes argmin assignment AND per-cluster partial sums
in the same Arrow pass and emits at most K tiny rows
``(pid, cid, n, Σvec)``. The driver folds the K×P partials (P =
partitions — hundreds of floats, not data) in (cid, pid) order, so the
reduction is deterministic without imposing any shuffle on the data
path. Assignment + combine fused into one map is exactly the
map-side-combine treeAggregate shape MLlib uses — at 100 TB the data
never moves, only K×P partial rows do.

Deterministic: init = first K vectors by id, ties → lowest centroid id,
partition-ordered driver fold for the means.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import col

from .ivf import _sq_norm


def _partial_sums(staged: DataFrame, cents: list[list[float]], dim: int) -> DataFrame:
    """One fused assign+combine pass: per partition, argmin assignment
    (same dimension-ordered IEEE op sequence as
    ``ivf.assign_to_codebook`` — strict ``<`` so ties keep the lowest
    centroid id) and per-cluster (count, Σvec) partials."""
    k = len(cents)
    sq_norms = [_sq_norm(c) for c in cents]

    def gen(batches):
        import numpy as np

        acc_n = np.zeros(k, dtype="int64")
        acc_s = np.zeros((k, dim))
        pid = -1
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pid = int(pdf["_pid"].iloc[0])
            mat = np.stack(pdf["_ed"].to_numpy()).astype(np.float64, copy=False)
            n = mat.shape[0]
            best_d = np.full(n, np.inf)
            best_i = np.zeros(n, dtype="int64")
            for idx, (cent, sq) in enumerate(zip(cents, sq_norms)):
                acc = mat[:, 0] * cent[0]
                for j in range(1, dim):
                    acc = acc + mat[:, j] * cent[j]
                d = sq - 2.0 * acc
                take = d < best_d
                best_d = np.where(take, d, best_d)
                best_i = np.where(take, idx, best_i)
            for cid in range(k):
                m = best_i == cid
                c = int(m.sum())
                if c:
                    acc_n[cid] += c
                    acc_s[cid] += mat[m].sum(axis=0)
        if pid < 0:
            return  # empty partition: contribute nothing
        yield pd.DataFrame(
            {
                "pid": pid,
                "cid": range(k),
                "n": acc_n,
                "s": [acc_s[i].tolist() for i in range(k)],
            }
        )

    return staged.mapInPandas(gen, "pid int, cid int, n long, s array<double>")


def kmeans_fit(
    df: DataFrame,
    emb_col: str,
    id_col: str,
    k: int = 8,
    max_iter: int = 5,
) -> list[tuple[int, list[float]]]:
    """Lloyd iterations; returns the trained codebook [(cid, centroid)].

    Per-iteration driver traffic is exactly the K×P partial rows — the
    data never leaves the executors, and each iteration is a single
    shuffle-free Spark job.
    """
    from ..shipping import ensure_package_shipped

    ensure_package_shipped(df.sparkSession)
    # Iterative algorithm: persist the working set — every Lloyd
    # iteration re-reads it, and at 100 TB re-scanning the source per
    # iteration is the difference between k-means working and not.
    base = (
        df.select(col(id_col).alias("_id"), col(emb_col).cast("array<double>").alias("_ed"))
        .persist()
    )
    codebook = [
        (i, [float(v) for v in r._ed])
        for i, r in enumerate(base.orderBy("_id").limit(k).collect())
    ]
    dim = len(codebook[0][1])
    # _pid is evaluated in the same stage as the map, so it names the
    # executing partition; the persisted partitioning keeps it stable
    # across iterations and across repeated fits (determinism tests).
    staged = base.withColumn("_pid", F.spark_partition_id())
    for _ in range(max_iter):
        cents = [cent for _, cent in sorted(codebook)]
        rows = _partial_sums(staged, cents, dim).collect()
        folded: dict[int, tuple[int, list[float]]] = {}
        for r in sorted(rows, key=lambda r: (r.cid, r.pid)):
            n, s = folded.get(r.cid, (0, [0.0] * dim))
            folded[r.cid] = (n + int(r.n), [a + b for a, b in zip(s, r.s)])
        new_codebook = []
        for cid, old in codebook:
            n, s = folded.get(cid, (0, []))
            if n == 0:
                new_codebook.append((cid, old))  # empty cluster keeps its centroid
            else:
                new_codebook.append((cid, [v / n for v in s]))
        if all(
            a == b for (_, a), (_, b) in zip(codebook, new_codebook)
        ):
            codebook = new_codebook
            break
        codebook = new_codebook
    base.unpersist()
    return codebook
