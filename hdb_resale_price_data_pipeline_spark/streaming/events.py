"""Streaming analytics over the ``events`` table.

Design: file-source ``readStream`` with an explicit schema (streaming
requires one — inference is a batch luxury), watermarked event-time
windows, ``availableNow`` trigger + memory sink for deterministic
finite runs. On a cluster the same plans run unbounded against a
landing directory with checkpointing; nothing here is test-only
plumbing except the memory-sink helper.

Streaming requires a declared schema up front, and the producer's
physical ``ts`` flavor has drifted across testdata generations
(TIMESTAMP(NANOS) → µs TIMESTAMP_NTZ). Every stream source therefore
declares the schema the batch read boundary (sources/readers.py) infers
once per file fingerprint and checks against ``TABLE_CONTRACTS``, and
the events stream normalizes ``ts`` with the columns ``read_table``
applies (``_normalized_columns``) — TIMESTAMP, session TZ pinned to UTC. A
flavor the boundary cannot normalize raises its ``SchemaContractError``.
"""

from __future__ import annotations

import os
import uuid
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import col

from ..operators.index_cache import artifact, stage_dir
from ..sources.readers import _normalized_columns, _pinned_scan, read_raw_table

WATERMARK = "2 hours"


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream of the events table through the batch read
    boundary: the declared schema is the raw schema ``read_table`` pins
    (contract-checked, nanosAsLong/UTC pinned, no job once known) and
    ``ts`` gets the same normalizing columns, built from that schema
    in hand (no schema round trip), so the stream and ``read_table``
    see the same columns and event times."""
    src = os.path.abspath(f"{sf_dir}/events.parquet")
    schema = _pinned_scan(spark, sf_dir, "events")[1]
    # The file stream source requires a *directory* (its basePath): stage
    # a landing directory holding a symlink to the table — the exact
    # layout a real ingest (files appended to a landing dir) would have.
    stage = stage_dir(
        "events_stream", [src], (),
        lambda d: os.symlink(src, os.path.join(d, "events.parquet")),
    )
    raw = spark.readStream.schema(schema).format("parquet").load(stage)
    columns = _normalized_columns(schema, "events")
    return raw.withColumns(columns) if columns else raw


STREAM_SLICES = 4  # staged landing files → micro-batches


def table_stream(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """File-source stream of ``table``, staged as STREAM_SLICES landing
    files so the stream genuinely runs MULTIPLE micro-batches (one file
    per trigger) — a single landing file would collapse ingest into one
    batch and prove nothing about incremental arrival. The schema is
    pinned from the parquet footer, never assumed: ``read_raw_table``
    keeps the producer's types and, once the table's schema is known,
    runs no inference job."""
    src = os.path.abspath(f"{sf_dir}/{table}.parquet")
    batch = read_raw_table(spark, sf_dir, table)
    stage = stage_dir(
        f"{table}_stream", [src], STREAM_SLICES,
        lambda d: batch.repartition(STREAM_SLICES).write.mode("overwrite").parquet(d),
    )
    return (
        spark.readStream.schema(batch.schema)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(stage)
    )


def stream_hourly_tumbling(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour windows per event_type, watermarked."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window(col("ts"), "1 hour").alias("w"), col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            col("w.start").cast("string").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def stream_sliding_counts(events: DataFrame) -> DataFrame:
    """Sliding windows (1 hour, sliding every 15 min)."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window(col("ts"), "1 hour", "15 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(col("w.start").cast("string").alias("window_start"), "n_events")
    )


def stream_session_windows(events: DataFrame) -> DataFrame:
    """Native session windows (30-min gap) per user — the streaming twin
    of the batch sessionization query."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.session_window(col("ts"), "30 minutes").alias("w"), col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            col("w.start").cast("string").alias("session_start"),
            "user_id",
            "n_events",
        )
    )


def stream_user_dedup(events: DataFrame) -> DataFrame:
    """Watermarked streaming dedup: first event per (user_id,
    event_type) within the watermark horizon — the streaming analog of
    the reference's batch window dedup (merge_dedup.py:20-29)."""
    return (
        events.withWatermark("ts", WATERMARK)
        .dropDuplicates(["user_id", "event_type"])
        .select("event_id", "user_id", "event_type")
    )


def stream_static_enrich(events: DataFrame, nation: DataFrame) -> DataFrame:
    """Stream-static broadcast enrichment: each streaming event joins a
    STATIC dimension (the nation table, keyed by ``user_id % 25``) —
    the third join class Structured Streaming supports next to
    stream-stream and self-joins. The static side is re-read per
    microbatch (so a dim update between batches is picked up) and
    broadcast — the stream side is never shuffled and no state store is
    involved, which is what makes this the cheapest enrichment shape on
    an unbounded stream. Pure row enrichment (no agg, no watermark) ⇒
    append mode emits every joined row, so the result equals the batch
    twin exactly and carries its full value oracle."""
    dim = nation.select(
        col("n_nationkey").cast("int").alias("nk"), col("n_name")
    )
    return (
        events.withColumn("nk", (col("user_id") % 25).cast("int"))
        .join(F.broadcast(dim), "nk")
        .select("event_id", "user_id", col("n_name").alias("nation"))
    )


ATTRIBUTION_HORIZON_MIN = 30


# --- scale-adaptive state partitioning (r9 optimization round) ----------------
# A stateful streaming operator creates one state store per shuffle
# partition, and the partition count is frozen at the query's first
# batch — AQE is DISABLED inside streaming, so nothing coalesces the
# default down when the input is small. Measured at sf0.1 (≈200k events,
# 32 partitions): per-partition store open/commit overhead dominates —
# session windows 2.8–7.6s wall vs 1.4–1.8s at a size-derived count,
# identical results (state partitioning never changes aggregate/dedup
# semantics; the driver's bare 200-partition sessions already hash-match
# the 32-partition bench). So derive the count the way AQE would: rows
# from the parquet FOOTER (driver-side metadata, no data scan) divided
# by a target state-rows-per-partition, CLAMPED ABOVE by the session's
# configured spark.sql.shuffle.partitions. On a production cluster the
# configured value is large and the input is 100 TB, so the ceiling
# binds and behavior is unchanged; the derivation only ever *lowers*
# the count when the data provably fits in fewer stores.
STREAM_STATE_ROWS_PER_PARTITION = 65536


def _dir_parquet_rows(path: str, stop_at: int | None = None) -> int | None:
    """Total footer row count of a parquet file, or over a landing
    directory's parquet files (symlinks followed), cached in
    operators/index_cache on the path's fingerprint and ``stop_at``, so
    a rewritten source never reuses stale counts.

    Short-circuits once ``stop_at`` rows are proven: the caller only
    uses the count to check whether the partition ceiling binds, so at
    100 TB / O(1e5) files the driver must not read every footer to
    learn what the first few already decide — the returned partial sum
    is >= ``stop_at`` and the ceiling binds. Any metadata failure (a
    file deleted between glob and stat, a corrupt or partially-written
    footer in a landing dir receiving concurrent appends) returns None
    -> the caller skips scaling instead of failing the query."""

    def count() -> int | None:
        import glob

        import pyarrow.parquet as pq

        files = (
            [path]
            if os.path.isfile(path)
            else sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
        )
        if not files:
            return None
        rows = 0
        for f in files:
            rows += pq.read_metadata(f).num_rows
            if stop_at is not None and rows >= stop_at:
                break
        return rows

    try:
        return artifact(None, "streaming.footer_rows", [path], stop_at, count)
    except Exception:  # metadata racing a live landing dir — skip scaling
        return None


def derived_stream_partitions(n_rows: int, configured: int) -> int:
    """ceil(rows / target-rows-per-store), clamped to [1, configured]."""
    derived = max(1, -(-n_rows // STREAM_STATE_ROWS_PER_PARTITION))
    return min(configured, derived)


def run_stream_to_df(
    streaming_df: DataFrame,
    spark: SparkSession,
    mode: str = "append",
    sources: Iterable[str] = (),
) -> DataFrame:
    """Execute a finite streaming query to completion (availableNow
    trigger → memory sink) and return the result as a batch DataFrame.
    This is the driver-facing bridge: ``queries()`` callables must
    return DataFrames. ``mode="append"`` for watermarked windows (emit
    on finalization); ``mode="complete"`` for unwindowed running
    aggregates (e.g. sketch registers), where the last microbatch's
    full state is the result.

    The state-store partition count is derived from the row count of
    ``sources`` — the parquet files or landing directories the stream
    reads (see ``derived_stream_partitions``) — for the duration of the
    query and restored afterwards: the streaming twin of AQE
    coalescing, which streaming plans cannot use. Without ``sources``
    the configured count is kept. Python-stateful plans
    (applyInPandasWithState) pass none: their cost is per-GROUP Python
    work, which the partition count parallelizes — measured 4.4s at the
    configured 32 partitions vs 8.6s at the state-derived 4 (sf0.1).
    State-store overhead is the minor term there; compute wins."""
    name = f"stream_out_{uuid.uuid4().hex[:12]}"
    prior: str | None = None
    try:
        configured = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        configured = 0
    # NOTE: the set/restore below mutates a session-global conf and
    # assumes no concurrent query planning shares this SparkSession
    # (true for the bench, the driver, and the tests, which are all
    # sequential). ``prior`` is read from the live conf value above.
    rows = [
        _dir_parquet_rows(s, stop_at=configured * STREAM_STATE_ROWS_PER_PARTITION)
        for s in (sources if configured > 0 else ())
    ]
    if rows and None not in rows:
        target = derived_stream_partitions(sum(rows), configured)
        if target < configured:
            prior = str(configured)
            spark.conf.set("spark.sql.shuffle.partitions", str(target))
    try:
        query = (
            streaming_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
        return spark.table(name)
    finally:
        if prior is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prior)
        # On a classic session ``spark.table`` resolves the view at once
        # (the bound frame's plan holds the sink's data), so the view is
        # dropped, on success and on failure. A Spark Connect frame
        # resolves the name on the server at every run, so there the
        # view stays for the session.
        if getattr(spark, "_jvm", None) is not None:
            spark.catalog.dropTempView(name)


def stream_hll_registers(events: DataFrame) -> DataFrame:
    """Distinct-user HyperLogLog registers as a STREAMING aggregate —
    the sketch is the canonical answer to streaming COUNT(DISTINCT):
    exact streaming distinct needs state proportional to the key
    domain (unbounded at 100 TB), while the HLL register table is a
    FIXED types × 256 rows of state no matter how many events or users
    flow through, and max-merge makes every microbatch a partial
    aggregate. Run in complete mode (no watermark needed: state is
    bounded by construction, not by time eviction); the batch fold
    (queries/events.py hll_fold) turns the final registers into the
    estimate."""
    from ..queries.events import hll_registers

    return hll_registers(events)


def stream_daily_counts(events: DataFrame) -> DataFrame:
    """Per-(event_type, day) volume as a STREAMING aggregate — the state
    backing the streaming EWMA twin. Complete mode: state is one row
    per (type, day) pair (types × elapsed-days — slowly growing; a
    production deployment past ~years of days would switch to a
    watermarked append window and fold only closed days, same
    downstream recurrence). Counts are partial-aggregable, so every
    microbatch merges map-side."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import col

    return events.groupBy(
        col("event_type"),
        F.to_date(col("ts")).cast("string").alias("day"),
    ).agg(F.count(F.lit(1)).alias("n"))


CMS_USER_D = 4
CMS_USER_W = 256


def stream_cms_user_cells(events: DataFrame) -> DataFrame:
    """Count-Min sketch cells over user_id as a STREAMING aggregate —
    the fixed-memory answer to streaming heavy hitters: state is
    exactly d × w = {D} × {W} cells no matter how many events or users
    flow through (the HLL-registers argument, applied to frequency).
    The CMS update is a commutative + into cells, so every microbatch
    is a partial aggregate and per-occurrence streaming increments are
    bit-identical to batch count-then-sum. ONE posexplode over the d
    bucket expressions (a d-way union of projections would re-execute
    the source per arm)."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import col

    from ..functions import hashing as H

    buckets = F.array(
        *[
            F.expr(
                f"({H.string_hash('uid', *H.DEFAULT_SEEDS[d])[0]}) % {CMS_USER_W}"
            )
            for d in range(CMS_USER_D)
        ]
    )
    return (
        events.select(col("user_id").cast("string").alias("uid"))
        .select(F.posexplode(buckets).alias("d", "bucket"))
        .groupBy("d", "bucket")
        .agg(F.count(F.lit(1)).alias("cell"))
    )


def stream_view_purchase_outer(events: DataFrame) -> DataFrame:
    """LEFT-OUTER stream-stream join: every (view, attributing purchase)
    pair — plus, once the watermark PROVES no purchase can still arrive
    for a view (global watermark past view_ts + horizon), the unmatched
    view with a NULL right side. The second half is the semantics the
    inner join cannot express: "this exposure definitively did not
    convert", emitted incrementally from bounded state instead of by an
    end-of-day batch anti-join.

    Both sides are watermarked and the join condition carries a closed
    range on the two event-time columns, so state eviction (and with it
    outer emission) is guaranteed; unmatched rows for views still
    inside the horizon at end-of-stream are correctly withheld (they
    are not yet provably unconverted) — the batch twin encodes exactly
    that end-of-stream-watermark rule, making the result deterministic
    and value-oracled. Nullable join outputs are coalesced to -1
    sentinels: both engines then emit non-null BIGINTs (a NULL bigint
    surfaces as a float column in pandas and breaks dtype-sensitive
    hashing)."""
    views = (
        events.where(col("event_type") == "view")
        .select(
            col("event_id").alias("view_id"),
            col("user_id"),
            col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", WATERMARK)
    )
    purchases = (
        events.where(col("event_type") == "purchase")
        .select(
            col("event_id").alias("purchase_id"),
            col("user_id").alias("p_user_id"),
            col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", WATERMARK)
    )
    return views.join(
        purchases,
        F.expr(
            f"""
            user_id = p_user_id
            AND purchase_ts >= view_ts
            AND purchase_ts <= view_ts + interval {ATTRIBUTION_HORIZON_MIN} minutes
            """
        ),
        "leftOuter",
    ).select(
        "view_id",
        "user_id",
        F.coalesce(col("purchase_id"), F.lit(-1)).alias("purchase_key"),
        F.when(col("purchase_id").isNull(), 0)
        .otherwise(1)
        .cast("int")
        .alias("matched"),
        F.coalesce(
            F.unix_micros(col("purchase_ts")) - F.unix_micros(col("view_ts")),
            F.lit(-1),
        ).alias("micros_to_purchase"),
    )
