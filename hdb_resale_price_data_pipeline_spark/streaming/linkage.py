"""Streaming entity-resolution gate: arriving records are fuzzy-matched
against a known-entity directory BEFORE landing, and routed
known_exact / merge / new_entity — the identity-resolution twin of the
ingest dedup gate (streaming/documents.py).

Why ``foreachBatch``: the gate needs a per-record BEST match
(top-1 by edit distance with a deterministic tiebreak), and window
functions are illegal on an unbounded stream. Inside ``foreachBatch``
each micro-batch is a plain batch DataFrame, so the match is the same
blocked broadcast join + WindowGroupLimit the batch ER family uses —
per-batch batch semantics, streaming delivery. The records arrive
through ``streaming/events.table_stream(spark, sf_dir, "customer")``.

Exactly-once: each batch's verdicts land in a ``batch_id``-keyed
subdirectory written with ``mode("overwrite")`` — a checkpoint replay
of the same batch_id overwrites its own output instead of duplicating
(the two-phase stage-then-publish of
operators/index_store.publish_staged_partitions).

Two serving layouts, one semantics (the verdict/landing logic is
SHARED — ``_route_verdicts`` / ``_land_batch`` — so the gates cannot
drift apart):

- ``stream_er_gate``: the directory rides each batch join as a
  broadcast keyed by the block prefix — entity-directory-sized, NOT
  corpus-sized.
- ``stream_er_gate_served``: past broadcast size, the directory lives
  ON DISK partitioned by block key (the layout IS the blocking index);
  each batch scans only its blocks' partitions and the BATCH becomes
  the broadcast side. Bit-identical verdicts, asserted in
  tests/test_linkage.py.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import col
from pyspark.sql.types import StructType

# Sentinel block key for records whose block expression yields NULL or
# the empty string (names shorter than the block offset). Hive
# partitioning writes an empty-string partition value as
# __HIVE_DEFAULT_PARTITION__ and reads it back as NULL, so WITHOUT the
# sentinel the served gate would route such records differently from
# the broadcast gate (r6 ADVICE finding). Both layouts apply the same
# sentinel, so they stay bit-identical: empty/null-keyed records
# collapse into one well-formed block on both paths.
EMPTY_BLOCK_KEY = "__EMPTY_BK__"


def _safe_block(block_expr, cmp: F.Column) -> F.Column:
    return F.coalesce(
        F.nullif(block_expr(cmp), F.lit("")), F.lit(EMPTY_BLOCK_KEY)
    )


def _route_verdicts(best: DataFrame) -> DataFrame:
    """The ONE routing projection both gates share: ``best`` holds one
    row per arriving record with nullable (mid, lev) best-match cols."""
    return best.select(
        "id",
        col("mid").alias("best_match_id"),
        col("lev").alias("best_lev"),
        F.when(col("lev") == 0, "known_exact")
        .when(col("lev").isNotNull(), "merge")
        .otherwise("new_entity")
        .alias("route"),
    )


def _land_batch(verdicts: DataFrame, out_dir: str, batch_id: int) -> None:
    """batch_id-keyed overwrite → checkpoint replays converge."""
    verdicts.write.mode("overwrite").parquet(
        os.path.join(out_dir, f"batch_id={batch_id}")
    )


def stream_er_gate(
    arriving: DataFrame,
    directory: DataFrame,
    block_expr,
    out_dir: str,
    checkpoint_dir: str,
    id_col: str = "c_custkey",
    cmp_col: str = "c_name",
    max_lev: int = 1,
):
    """Route each arriving record against the known-entity directory:

    - ``known_exact`` — an identical directory string (re-crawl of a
      resolved entity),
    - ``merge``       — within ``max_lev`` edits of a directory entry
      (link to the existing entity),
    - ``new_entity``  — no in-block directory entry close enough.

    Emits one verdict row per arriving record:
    ``(id, best_match_id, best_lev, route)``. Best match is
    min-edit-distance with min-id tiebreak — deterministic, so the
    batch-twin DuckDB oracle is exact. Returns the StreamingQuery.
    """
    dir_keyed = directory.select(
        col(id_col).alias("mid"),
        col(cmp_col).alias("mname"),
        _safe_block(block_expr, col(cmp_col)).alias("_bk"),
    )

    def _gate_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        arr = batch_df.select(
            col(id_col).alias("id"),
            col(cmp_col).alias("aname"),
            _safe_block(block_expr, col(cmp_col)).alias("_bk"),
        )
        lev = F.levenshtein(col("aname"), col("mname"))
        joined = arr.join(
            F.broadcast(dir_keyed),
            (arr["_bk"] == dir_keyed["_bk"]) & (lev <= max_lev),
            "left",
        ).select("id", "mid", lev.alias("lev"))
        w = Window.partitionBy("id").orderBy(
            col("lev").asc_nulls_last(), col("mid").asc_nulls_last()
        )
        best = (
            joined.withColumn("rk", F.row_number().over(w))
            .filter(col("rk") == 1)
            .select("id", "mid", "lev")
        )
        _land_batch(_route_verdicts(best), out_dir, batch_id)

    return (
        arriving.writeStream.foreachBatch(_gate_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


_DIR_MANIFEST = "_er_directory_schema.json"


def write_er_directory(directory: DataFrame, path: str, block_expr,
                       id_col: str = "c_custkey", cmp_col: str = "c_name") -> None:
    """Persist the known-entity directory partitioned by its block key —
    the disk layout IS the blocking index (the index_store discipline:
    operators/index_store.py), so a gate batch only reads the block
    partitions its records hash to.

    A schema manifest is written beside the data and PINNED at read
    time: without it, Spark's partition-column type inference turns
    all-digit block keys (``bk=0000123``) into integers, silently
    collapsing distinct variable-width string keys onto one int value —
    the served gate would then match across block boundaries.

    Empty/NULL block keys are coalesced to ``EMPTY_BLOCK_KEY`` before
    ``partitionBy`` — an empty-string partition value round-trips as
    ``__HIVE_DEFAULT_PARTITION__`` → NULL, which would break the
    broadcast/served bit-identity for names shorter than the block
    offset."""
    keyed = directory.select(
        col(id_col).alias("mid"),
        col(cmp_col).alias("mname"),
        _safe_block(block_expr, col(cmp_col)).alias("bk"),
    )
    keyed.repartition("bk").write.mode("overwrite").partitionBy("bk").parquet(path)
    with open(os.path.join(path, _DIR_MANIFEST), "w") as f:
        f.write(keyed.schema.json())


def read_er_directory(spark: SparkSession, path: str) -> DataFrame:
    """Manifest-pinned directory scan (partition dtype inference OFF)."""
    with open(os.path.join(path, _DIR_MANIFEST)) as f:
        schema = StructType.fromJson(json.load(f))
    return spark.read.schema(schema).parquet(path)


def append_er_directory_idempotent(
    directory_path: str, new_entities: DataFrame, batch_id: int
) -> int:
    """EXACTLY-ONCE directory maintenance: land a batch's freshly-minted
    entities ``(mid, mname, bk)`` into the served directory's block
    partitions, keyed by the checkpoint's stable ``batch_id`` — a
    two-phase stage-then-publish
    (operators/index_store.publish_staged_partitions), so a checkpoint
    replay converges to the same file set instead of duplicating
    entities. New block keys create new partitions; the manifest-pinned
    read picks them up without re-registration."""
    from ..operators.index_store import publish_staged_partitions

    stage = os.path.join(directory_path, "_ingest", f"batch={int(batch_id)}")
    new_entities.write.mode("overwrite").partitionBy("bk").parquet(stage)
    published = publish_staged_partitions(
        stage, directory_path, "bk=", f"b{int(batch_id)}-"
    )
    import shutil

    shutil.rmtree(stage, ignore_errors=True)
    return published


def stream_er_gate_served(
    arriving: DataFrame,
    directory_path: str,
    block_expr,
    out_dir: str,
    checkpoint_dir: str,
    id_col: str = "c_custkey",
    cmp_col: str = "c_name",
    max_lev: int = 1,
    maintain_directory: bool = False,
):
    """The past-broadcast-size twin of ``stream_er_gate``: the directory
    lives ON DISK partitioned by block key, and each micro-batch

    1. collects its DISTINCT block keys (batch-bounded — one short
       string per arriving block),
    2. scans ONLY those directory partitions (partition pruning on the
       layout key; the 100 TB directory never fully loads),
    3. joins with the BATCH as the broadcast side (the batch is the
       small relation here — the exact inversion of the broadcast-
       directory variant),
    4. routes through the SAME ``_route_verdicts`` / ``_land_batch``
       helpers as the broadcast gate.

    Output is bit-identical to ``stream_er_gate`` on the same inputs
    (asserted in tests/test_linkage.py) — the serving layout is an
    execution choice, not a semantics change.

    ``maintain_directory=True`` additionally APPENDS each batch's
    ``new_entity`` verdicts to the served directory (idempotent
    batch-keyed publish — :func:`append_er_directory_idempotent`), so a
    re-arriving variant of an entity minted in an earlier batch routes
    to THAT entity id instead of minting a duplicate per batch. Because
    this gate READS the directory before publishing into it, each batch
    first erases its OWN batch-prefixed files (``prune_batch_partition_
    files``) — a checkpoint replay otherwise reads the crashed
    attempt's minted entities, matches records against themselves, and
    lands flipped verdicts (non-convergent replay). Two scope notes:
    records within ONE batch still don't see each other (both layouts
    share that contract — within-batch resolution is the batch ER
    pass's job), and verdicts become batch-ORDER-dependent, so the
    default stays off for the oracle-twinned gate queries; a rebuild
    (``write_er_directory``) resets the appended state."""

    def _gate_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if maintain_directory:
            from ..operators.index_store import prune_batch_partition_files

            prune_batch_partition_files(
                directory_path, "bk=", f"b{int(batch_id)}-"
            )
        spark = batch_df.sparkSession
        arr = batch_df.select(
            col(id_col).alias("id"),
            col(cmp_col).alias("aname"),
            _safe_block(block_expr, col(cmp_col)).alias("bk"),
        )
        bks = [r[0] for r in arr.select("bk").distinct().collect()]
        dir_pruned = read_er_directory(spark, directory_path).filter(
            col("bk").isin(bks)
        )
        lev = F.levenshtein(col("aname"), col("mname"))
        cand = dir_pruned.join(
            F.broadcast(arr),
            (dir_pruned["bk"] == arr["bk"]) & (lev <= max_lev),
            "inner",
        ).select("id", "mid", lev.alias("lev"))
        w = Window.partitionBy("id").orderBy(col("lev"), col("mid"))
        matched = (
            cand.withColumn("rk", F.row_number().over(w))
            .filter(col("rk") == 1)
            .select("id", "mid", "lev")
        )
        best = arr.select("id").join(matched, "id", "left")
        verdicts = _route_verdicts(best)
        _land_batch(verdicts, out_dir, batch_id)
        if maintain_directory:
            minted = (
                verdicts.filter(col("route") == "new_entity")
                .select("id")
                .join(arr, "id")
                .select(
                    col("id").alias("mid"),
                    col("aname").alias("mname"),
                    "bk",
                )
            )
            if not minted.isEmpty():
                append_er_directory_idempotent(directory_path, minted, batch_id)

    return (
        arriving.writeStream.foreachBatch(_gate_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
