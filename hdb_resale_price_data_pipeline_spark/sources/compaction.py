"""Table compaction: rewrite a fragmented parquet table into
target-size files.

Long-running ingestion (streaming micro-batches, per-day incremental
loads, many small upstream tasks) fragments a table into thousands of
tiny files; at 100 TB the scan's task-scheduling and footer-reading
overhead then dominates the query. The fix is a periodic rewrite that
re-clusters rows into ~128 MB files.

Scale design — let AQE do the sizing, don't hand-compute file counts:

- ``hint("rebalance")`` + ``spark.sql.adaptive.advisoryPartitionSizeInBytes``
  makes the adaptive engine coalesce small shuffle partitions AND split
  large/skewed ones at runtime, from observed sizes — a driver-side
  ``repartition(ceil(bytes/target))`` would go wrong on skewed or
  badly-compressed inputs and cannot split a single hot partition.
- For partitioned tables, rebalancing ON the partition columns keeps
  one-file-per-partition when partitions are small but splits oversized
  partitions into several target-size files — the upgrade promised in
  ``load_day_partitioned`` ("salt in a second key at real scale"),
  without hand-tuning the salt.
- AQE's advisory applies to shuffle-stage (decompressed, row-format)
  bytes while the target is on-disk parquet; the ``inflation`` factor
  bridges the two. The default 2.0 suits snappy parquet of mixed
  text/numeric columns; pass a measured ratio for exotic data.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import SparkSession


@dataclass
class CompactionStats:
    in_files: int
    in_bytes: int
    out_files: int
    out_bytes: int


def _dir_stats(spark: SparkSession, path: str) -> tuple[int, int]:
    """(file_count, total_bytes) of a table directory via the Hadoop
    FileSystem API — works for any supported scheme (file/hdfs/s3a).
    Without a gateway (Spark Connect client) falls back to the scan's
    own file list plus driver-local stat — local paths only, which is
    what this maintenance utility is tested against."""
    if getattr(spark, "_jvm", None) is None:
        import os
        from urllib.parse import unquote, urlparse

        files = [
            unquote(urlparse(f).path) if "://" in f else f
            for f in spark.read.parquet(path).inputFiles()
        ]
        return len(files), sum(os.path.getsize(f) for f in files)
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    # Count AND sum data files only (skip _SUCCESS/.crc markers) so the
    # two code paths report the same bytes — getContentSummary would
    # fold marker files in and diverge from the gateway-free fallback.
    n, total = 0, 0
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        f = it.next()
        name = f.getPath().getName()
        if not name.startswith("_") and not name.startswith("."):
            n += 1
            total += f.getLen()
    return n, total


def _advisory_bytes(target_file_bytes: int, inflation: float) -> int:
    """AQE advisory partition size for an on-disk file target: the
    target scaled by ``inflation`` and never more, however small the
    target, or a table that should split lands in too few files."""
    return max(1, int(target_file_bytes * inflation))


def compact_parquet(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    target_file_bytes: int = 128 << 20,
    partition_cols: tuple[str, ...] = (),
    inflation: float = 2.0,
) -> CompactionStats:
    """Rewrite ``in_path`` into ``out_path`` targeting
    ``target_file_bytes`` per file. Returns before/after file stats."""
    in_files, in_bytes = _dir_stats(spark, in_path)
    df = spark.read.parquet(in_path)

    advisory = _advisory_bytes(target_file_bytes, inflation)
    prev = {
        "spark.sql.adaptive.enabled": spark.conf.get(
            "spark.sql.adaptive.enabled", "true"
        ),
        "spark.sql.adaptive.coalescePartitions.enabled": spark.conf.get(
            "spark.sql.adaptive.coalescePartitions.enabled", "true"
        ),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": spark.conf.get(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB"
        ),
        # Without this floor-drop, AQE refuses to create partitions
        # smaller than 1MB-default minPartitionSize, defeating small
        # targets (only relevant for test-scale targets; harmless at
        # production targets).
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": spark.conf.get(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize", "1MB"
        ),
    }
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", str(advisory)
        )
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            str(min(advisory, 1 << 20)),
        )
        balanced = (
            df.hint("rebalance", *partition_cols)
            if partition_cols
            else df.hint("rebalance")
        )
        writer = balanced.write.mode("overwrite")
        if partition_cols:
            writer = writer.partitionBy(*partition_cols)
        writer.parquet(out_path)
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)

    out_files, out_bytes = _dir_stats(spark, out_path)
    return CompactionStats(in_files, in_bytes, out_files, out_bytes)


def compact_partitions_inplace(
    spark: SparkSession,
    root: str,
    partition_col: str,
    max_files_per_partition: int = 1,
    target_file_bytes: int = 128 << 20,
    inflation: float = 2.0,
) -> dict:
    """Incremental in-place compaction for a hive-layout table: rewrite
    ONLY the partitions whose file count exceeds their byte-budget
    (``max(max_files_per_partition, ceil(bytes/target))``), each via
    dynamic partition overwrite.

    This is the steady-state maintenance shape for the append-forever
    warehouse (``load_day_partitioned``): yesterday's hot partition
    collects micro-batch debris, historical partitions are already
    compact — the rewrite reads a partition-pruned scan of the
    oversized partitions only and costs O(fragmented partitions), not
    O(table). Untouched partitions stay byte-identical for concurrent
    readers. The per-partition inventory rides the ``_metadata`` hidden
    column: no filesystem gateway, Spark-Connect safe, footer-sized
    reads, and the collect is catalog-sized (one row per partition),
    never data-sized.

    Crash safety: the oversized partitions are first MATERIALIZED to a
    temp sibling directory, and only that temp copy feeds the dynamic
    partition overwrite of ``root`` — the overwrite never reads the
    directory it is replacing, and if the process dies inside the
    overwrite's commit window the temp copy still holds every affected
    row (recover by re-running the overwrite from ``<root>/../<tmp>``,
    whose name is logged in the returned dict as ``staging``). The temp
    dir is removed only after the overwrite commits."""
    import math
    import uuid

    from pyspark.sql import functions as F
    from pyspark.sql.functions import col

    inv = (
        spark.read.parquet(root)
        .select(
            col(partition_col).alias("_part"),
            col("_metadata.file_path").alias("_file"),
            col("_metadata.file_size").alias("_size"),
        )
        .distinct()
        .groupBy("_part")
        .agg(F.count(F.lit(1)).alias("files"), F.sum("_size").alias("bytes"))
        .collect()
    )
    oversized = [
        r["_part"]
        for r in inv
        if r["files"]
        > max(
            max_files_per_partition,
            math.ceil(int(r["bytes"]) / target_file_bytes),
        )
    ]
    staging = None
    if oversized:
        staging = f"{root.rstrip('/')}__compact_{uuid.uuid4().hex[:8]}"
        advisory = _advisory_bytes(target_file_bytes, inflation)
        prev = {
            "spark.sql.sources.partitionOverwriteMode": spark.conf.get(
                "spark.sql.sources.partitionOverwriteMode", "static"
            ),
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": spark.conf.get(
                "spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB"
            ),
            "spark.sql.adaptive.coalescePartitions.minPartitionSize": spark.conf.get(
                "spark.sql.adaptive.coalescePartitions.minPartitionSize", "1MB"
            ),
        }
        try:
            spark.conf.set(
                "spark.sql.sources.partitionOverwriteMode", "dynamic"
            )
            spark.conf.set(
                "spark.sql.adaptive.advisoryPartitionSizeInBytes", str(advisory)
            )
            spark.conf.set(
                "spark.sql.adaptive.coalescePartitions.minPartitionSize",
                str(min(advisory, 1 << 20)),
            )
            # 1. materialize the affected rows OUTSIDE the table (the
            #    target layout is produced here, so the overwrite is a
            #    pure file move-in)
            (
                spark.read.parquet(root)
                .filter(col(partition_col).isin(oversized))
                .hint("rebalance", partition_col)
                .write.mode("overwrite")
                .partitionBy(partition_col)
                .parquet(staging)
            )
            # 2. dynamic-overwrite the table FROM the staged copy — the
            #    source of the rewrite survives any crash inside the
            #    commit window
            (
                spark.read.parquet(staging)
                .write.mode("overwrite")
                .partitionBy(partition_col)
                .parquet(root)
            )
        finally:
            for k, v in prev.items():
                spark.conf.set(k, v)
        # 3. success → drop the staged copy (local/posix path; on an
        #    object store, lifecycle-expire the staging prefix instead)
        import shutil

        shutil.rmtree(staging, ignore_errors=True)
    return {
        "partitions": len(inv),
        "rewritten": len(oversized),
        "files_before": sum(int(r["files"]) for r in inv),
        "staging": staging,
    }
