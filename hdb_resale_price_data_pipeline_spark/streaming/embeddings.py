"""Streaming embedding ingest: arriving vectors routed into a TRAINED
IVF index at the ingest boundary.

The vector-side twin of streaming/documents.py: a production embedding
pipeline lands new vectors continuously, and each must be assigned to
its inverted list BEFORE it can be served — the assignment is the
index maintenance step (operators/ivf.assign_to_codebook is the same
Arrow pass the batch build uses, so stream and batch can never
disagree on a vector's list). Map-only: the trained codebook rides the
UDF closure (K×dim doubles), no state store, no watermark — append
emits every row and the batch-twin oracle (coarse-assignment CTE over
the Lloyd unroll) is exact. The vectors arrive through
``streaming/events.table_stream(spark, sf_dir, "embeddings")``.

The affinity to the assigned centroid is emitted quantized
(``floor(aff × grid)``) — the same integer-grid discipline as
``emb_outliers`` — so the ingest gate can ALSO threshold drift/garbage
vectors against per-cluster bounds without any cross-engine float
hazard.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import col


def stream_ivf_ingest(
    vecs: DataFrame,
    codebook: list[tuple[int, list[float]]],
    grid: int,
) -> DataFrame:
    """Assign each arriving vector to its trained inverted list and
    emit ``(vec_id, ivf_cid, qaff)`` — qaff is the centroid affinity on
    the integer grid. Two closure-codebook Arrow passes (assign, then
    affinity-to-assigned), zero shuffles, zero state."""
    from ..operators.ivf import affinity_to_assigned, assign_to_codebook

    assigned = assign_to_codebook(vecs, "embedding", codebook)
    scored = affinity_to_assigned(assigned, "embedding", "ivf_cid", codebook)
    return scored.select(
        "vec_id",
        "ivf_cid",
        F.floor(col("aff") * grid).cast("long").alias("qaff"),
    )
