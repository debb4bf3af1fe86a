"""Streaming CDC apply: a change-data-capture log (upserts + deletes,
totally ordered by a sequence number) folded into a keyed state table —
the streaming twin of the batch snapshot diff (queries/relational.py
``dataset_diff``) and the SCD2 merge (operators/scd.py), and the
engine's version of the lakehouse MERGE-INTO loop (the pattern
Delta/Hudi/Iceberg formalize; the reference's warehouse loads are
append-only, dags/pipeline.py:231-247, so this is beyond-reference).

Design for 100 TB:

- **State is bucket-partitioned copy-on-write.** The table lives on
  disk partitioned by ``bucket = key % CDC_BUCKETS``; a micro-batch
  computes the buckets its keys hash to, reads ONLY those partitions
  (partition-pruned scan), merges, and rewrites ONLY those partitions
  (dynamic partition overwrite — the ``load_day_partitioned``
  discipline on a hash layout). Untouched buckets' files stay
  byte-identical; per-batch cost scales with the batch's key spread,
  never the table.
- **Last-write-wins by sequence number, which makes application
  ORDER-INDEPENDENT and replay a no-op.** Every state row carries
  ``last_seq``; a change applies iff its seq ≥ the stored seq, and
  DELETES ARE RETAINED AS TOMBSTONES (``deleted = true``, the
  Delta/Hudi discipline) rather than physically dropped — so a delete
  arriving BEFORE an out-of-order earlier upsert still wins (the
  stale upsert sees the tombstone's higher seq), and a checkpoint
  replay of a half-applied batch re-applies the same changes onto
  already-updated rows (seq equal → same values). Without tombstones,
  cross-batch delivery order would matter (an early-delivered delete
  would be a no-op on empty state and the late stale upsert would
  resurrect the row — the r7 review finding).
- **Tombstone GC is a compaction concern, not an apply concern:**
  rewrite a bucket dropping tombstones whose seq every consumer has
  passed; the apply loop never needs to.
- **Within-batch collapse first.** A batch may carry several changes
  for one key; only the max-seq change per key enters the merge (one
  batch-sized window), so the join is one row per (key, side).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import col

from ..operators.index_cache import stage_dir, table_paths
from ..operators.util import local_frame
from ..sources.readers import read_raw_table

CDC_BUCKETS = 8
CDC_SLICES = 3  # one staged landing file per change wave → 3 micro-batches
# State-table format version — folded into every state-root key (the r6
# ADVICE cache-key discipline): bumping it orphans state written by an
# older layout instead of mis-reading it with the new pinned schema
# (v2 added the `deleted` tombstone column; v1 state read under the v2
# schema would yield all-NULL deleted and an empty live view).
CDC_STATE_FORMAT = 2

_STATE_SCHEMA = (
    "o_orderkey bigint, price_cents bigint, last_seq int, "
    "deleted boolean, bucket int"
)


def synth_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic CDC log derived from the orders table (both
    engines construct the identical log — the oracle mirrors this
    construction in SQL). Change waves, keyed on ``o_orderkey % 4``:

    - every key:    seq 1 upsert at the cents grid;
    - ``% 4 == 1``: seq 2 upsert (+100) — the update path;
    - ``% 4 == 2``: seq 2 delete — the tombstone path;
    - ``% 4 == 3``: seq 2 upsert (+100), seq 3 upsert (+200) — the
      multi-update path (last write must win across waves).
    """
    base = (
        read_raw_table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            F.floor(col("o_totalprice") * 100 + F.lit(0.5))
            .cast("bigint")
            .alias("cents"),
        )
    )
    k = col("o_orderkey")

    def wave(seq: int, op: str, price, pred):
        return base.filter(pred).select(
            "o_orderkey",
            F.lit(seq).alias("seq"),
            F.lit(op).alias("op"),
            price.cast("bigint").alias("price_cents"),
        )

    return (
        wave(1, "upsert", col("cents"), F.lit(True))
        .unionByName(wave(2, "upsert", col("cents") + 100, k % 4 == 1))
        .unionByName(wave(2, "delete", F.lit(None), k % 4 == 2))
        .unionByName(wave(2, "upsert", col("cents") + 100, k % 4 == 3))
        .unionByName(wave(3, "upsert", col("cents") + 200, k % 4 == 3))
    )


def stage_changelog_dir(spark: SparkSession, sf_dir: str) -> str:
    """Stage the changelog as one landing file PER CHANGE WAVE, written
    in seq order (increasing mtimes → the file stream delivers waves as
    ordered micro-batches in the common case; the APPLY is
    order-independent by seq-LWW + tombstones, so an mtime tie on a
    coarse-granularity filesystem cannot corrupt the final state — the
    ordering here only makes the multi-batch demo legible). Keyed on
    the orders file with the wave/bucket parameters."""

    def build(stage: str) -> None:
        log = synth_changelog(spark, sf_dir)
        for seq in range(1, CDC_SLICES + 1):
            log.filter(col("seq") == seq).coalesce(1).write.mode(
                "append"
            ).parquet(stage)

    return stage_dir(
        "cdc_stream", table_paths(sf_dir, ["orders"]), (CDC_SLICES, CDC_BUCKETS), build
    )


def changelog_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The staged changelog as a file stream, one change wave per
    micro-batch, declared with the schema of the log it stages."""
    return (
        spark.readStream.schema(synth_changelog(spark, sf_dir).schema)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(stage_changelog_dir(spark, sf_dir))
    )


def read_cdc_state(
    spark: SparkSession, state_dir: str, include_tombstones: bool = False
) -> DataFrame:
    """Current state table (empty-typed frame before the first batch).
    Tombstones (retained deletes) are filtered by default — pass
    ``include_tombstones=True`` for the raw merge state. The partition
    column is pinned int — all-digit values, same inference hazard as
    the ER directory."""
    if not os.path.isdir(state_dir) or not any(
        e.startswith("bucket=") for e in os.listdir(state_dir)
    ):
        out = local_frame(spark, [], _STATE_SCHEMA)
    else:
        out = spark.read.schema(_STATE_SCHEMA).parquet(state_dir)
    return (
        out
        if include_tombstones
        else out.filter(~F.coalesce(col("deleted"), F.lit(False)))
    )


def stream_cdc_apply(
    changelog: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    buckets: int = CDC_BUCKETS,
):
    """Fold a CDC stream into the bucket-partitioned state table
    (module docstring). Returns the StreamingQuery."""

    def _apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        w = Window.partitionBy("o_orderkey").orderBy(
            col("seq").desc(), col("op")  # op tiebreak: deterministic
        )
        latest = (
            batch_df.withColumn("rn", F.row_number().over(w))
            .filter(col("rn") == 1)
            .select(
                "o_orderkey",
                "op",
                col("seq").alias("b_seq"),
                col("price_cents").alias("b_price"),
                F.pmod(col("o_orderkey"), F.lit(buckets))
                .cast("int")
                .alias("bucket"),
            )
        )
        touched = [int(r[0]) for r in latest.select("bucket").distinct().collect()]
        state = read_cdc_state(spark, state_dir, include_tombstones=True).filter(
            col("bucket").isin(touched)  # partition-pruned scan
        )
        # full-outer merge (no broadcast: BroadcastHashJoin can't build a
        # full-outer) — both sides are batch-bounded: the batch by
        # construction, the state by the bucket pruning above. Every row
        # survives the merge: a winning delete becomes/refreshes a
        # tombstone (module docstring), so a touched bucket is never
        # written empty — which also closes the dynamic-partition-
        # overwrite hazard (a partition absent from the output keeps its
        # old files) without an explicit clearing pass.
        apply_change = col("b_seq").isNotNull() & (
            col("last_seq").isNull() | (col("b_seq") >= col("last_seq"))
        )
        merged = state.join(latest, ["o_orderkey", "bucket"], "full_outer").select(
            "o_orderkey",
            F.when(apply_change & (col("op") == "delete"), F.lit(None))
            .when(apply_change, col("b_price"))
            .otherwise(col("price_cents"))
            .alias("price_cents"),
            F.when(apply_change, col("b_seq"))
            .otherwise(col("last_seq"))
            .alias("last_seq"),
            F.when(apply_change, col("op") == "delete")
            .otherwise(F.coalesce(col("deleted"), F.lit(False)))
            .alias("deleted"),
            "bucket",
        )
        (
            merged.repartition("bucket")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(state_dir)
        )

    return (
        changelog.writeStream.foreachBatch(_apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
