"""Sequence packing: assign documents to fixed-capacity token windows.

The last mile of a training-data pipeline: documents are concatenated
(within a group, in a deterministic order) into one token stream and
the stream is cut into fixed-size sequences ("concat-then-chunk"
packing — each document lands in the sequence where it STARTS, at a
known offset). Downstream, a loader reads one sequence id and gets a
dense, capacity-sized batch.

Distributed shape: ONE shuffle (hash on the group key), a window
cumulative sum in id order — everything whole-stage codegen; no UDF,
no iteration. The cumulative sum over ``count`` tokens is exactly the
running offset of each document in its group's stream:

    start  = Σ tokens of earlier docs          (exclusive prefix sum)
    seq_id = start div capacity
    offset = start mod capacity

At 100 TB groups are the parallelism unit (shard/lang/source); a single
giant group would serialize its window — pre-split such groups with a
deterministic sub-key (e.g. ``hash(doc_id) % k`` folded into the group)
exactly like any other skewed-window treatment.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import col
from pyspark.sql.window import Window


def pack_sequences(
    df: DataFrame,
    group_col: str,
    id_col: str,
    n_tokens: Column,
    capacity: int,
) -> DataFrame:
    """Append packing coordinates per document.

    Output columns: ``group_col, id_col, n_tokens, seq_id, offset`` —
    ``seq_id`` is the capacity-sized window (per group) where the
    document starts, ``offset`` its position inside that window.
    Deterministic: id order is the stream order.
    """
    w = (
        Window.partitionBy(group_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("bigint")
    return (
        df.select(col(group_col), col(id_col), n_tokens.alias("n_tokens"))
        .withColumn("_start", start)
        .select(
            group_col,
            id_col,
            "n_tokens",
            F.expr(f"_start div {capacity}").alias("seq_id"),
            (col("_start") % capacity).alias("offset"),
        )
    )
