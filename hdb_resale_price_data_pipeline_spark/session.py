"""SparkSession factory.

The reference builds a bare session per job (``get_spark_session``,
historical_data_transformation.py:8-11). Ours centralizes one factory with
scale-oriented defaults:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  dynamic broadcast) — at 100 TB the static plan is never right.
- Arrow on — every Pandas-UDF boundary is Arrow-batched.
- ``spark.sql.shuffle.partitions`` set to ``local[N]``'s core count
  (``SPARK_GRAFT_CPUS``) unless the caller passes ``shuffle_partitions``;
  AQE then coalesces small shuffles at runtime.
- Runtime bloom-filter pushdown on; 128 MB scan splits; snappy parquet.
- The generated-code cache sized to the engine's working set
  (``CODEGEN_CACHE_ENTRIES``), so a warm query does not recompile its
  classes after other queries ran.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Classes Spark's generated-code cache holds (its default is 100). Census
# at sf0.01 (CodegenMetrics' compile counter, one local[4] session): the
# 252 registry queries compile ~3,700 classes cold, and a warm pass then
# compiles ~170 classes that are new on every run, which this
# covers too. The 19-query perfbench mix needs ~320, so at the default
# a warm pass recompiled ~250 of them (7-9 ms of Janino each, then
# interpreted until the JIT caught up). Holding the whole registry costs
# ~35 MB of metaspace and ~110 MB of live heap. A static conf: Spark
# reads it once per JVM.
CODEGEN_CACHE_ENTRIES = 4096


def get_spark_session(
    app_name: str = "hdb-resale-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` for the test /
    bench environment; on a cluster, leave it unset and let
    ``spark-submit`` supply it.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    n_shuffle = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- optimizer / runtime re-planning ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # runtime bloom-filter pushdown: a selective join side prunes the
        # big side's scan at row-group granularity (100 TB win)
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # --- shuffle sizing: local tests use core count; a cluster run
        # would raise initialPartitionNum and let AQE coalesce down ---
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        # --- Python boundary: always Arrow ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # --- scans: keep partitions sized for executor memory ---
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # driver testdata ships TIMESTAMP(NANOS) parquet; read as long + convert
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # deterministic timezone for date/timestamp semantics
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
