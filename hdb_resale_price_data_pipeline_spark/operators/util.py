"""Shared operator plumbing."""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    StructType,
    TimestampNTZType,
    TimestampType,
    _parse_datatype_string,
)


class ClosureValue:
    """Broadcast-shaped holder (``.value``) for sessions where
    ``SparkContext.broadcast`` is unavailable client-side (Spark
    Connect): the value rides each serialized task closure instead of
    the once-per-executor torrent broadcast. Fine for the bounded
    payloads this package ships (≤ a few hundred KiB bitsets /
    codebooks); a classic session always gets a real Broadcast."""

    __slots__ = ("value",)

    def __init__(self, value: Any) -> None:
        self.value = value

    # no-op lifecycle, so callers (IndexCache) can treat both alike
    def unpersist(self) -> None:  # pragma: no cover - trivial
        pass

    def destroy(self) -> None:  # pragma: no cover - trivial
        pass


def broadcast_value(spark, value: Any):
    """``sc.broadcast(value)`` on a classic session; a
    :class:`ClosureValue` under Spark Connect (no client-side
    SparkContext)."""
    try:
        sc = spark.sparkContext
    except Exception:  # Spark Connect client
        return ClosureValue(value)
    return sc.broadcast(value)


def local_frame(spark, rows: list[tuple], schema: StructType | str) -> DataFrame:
    """The package's one way to turn driver-side rows into a frame.

    ``rows`` are tuples in ``schema`` order; ``schema`` is a
    ``StructType`` or a DDL string. The rows are built into a
    ``pyarrow.Table`` column by column and handed over whole, so the
    frame is a ``LocalRelation`` (a ``LocalTableScan`` in the plan)
    with the schema's types and nullability, on a classic session and
    under Spark Connect alike.

    ``spark.createDataFrame`` on a Python list instead plans, on a
    classic session, a ``Scan ExistingRDD`` whose every execution
    unpickles the rows in Python workers: 0.5-1.7 s per scan of a
    7-81 row seed dimension on 4 cores, against 15-115 ms for the
    same rows as a local relation.

    Timestamp columns are refused: Arrow reads a naive ``datetime`` as
    UTC where the list path reads it as session-local time, so the two
    would disagree silently.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    for field in schema.fields:
        if isinstance(field.dataType, (TimestampType, TimestampNTZType)):
            raise TypeError(
                f"local_frame: timestamp column {field.name!r} is not supported "
                "(Arrow and the row path disagree on naive datetimes)"
            )
    arrow_schema = to_arrow_schema(schema)
    columns = [
        pa.array([row[i] for row in rows], type=arrow_field.type)
        for i, arrow_field in enumerate(arrow_schema)
    ]
    table = pa.Table.from_arrays(columns, schema=arrow_schema)
    return spark.createDataFrame(table, schema)


def widen(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition a narrow scan up to core count before expression-heavy
    per-row work (higher-order functions, vector math — the interpreted
    paths that don't get whole-stage codegen).

    Locally a single parquet file arrives as ONE input partition, so
    without this the 32-core box runs the hash/vector work single-
    threaded. On a cluster the scan is already wide (files × row-groups)
    and this is a no-op. The round-robin shuffle it inserts is tiny
    relative to the per-row work it parallelizes.
    """
    try:
        default_par = df.sparkSession.sparkContext.defaultParallelism
    except Exception:  # Spark Connect: no client-side context
        default_par = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
        )
    target = min_partitions or default_par
    if df.isStreaming:
        # A file-source micro-batch arrives as maxFilesPerTrigger
        # partitions (usually 1) — always narrow; neither inputFiles()
        # nor .rdd is available on a streaming frame to probe.
        return df.repartition(target)
    try:
        # cheap: source-file count (a derived frame reports its scans'
        # files). Fewer files than cores → the scan is narrow. The
        # testdata ships single-row-group files, which parquet cannot
        # split further, so file count IS the scan parallelism here.
        narrow = len(df.inputFiles()) < target
    except Exception:
        narrow = df.rdd.getNumPartitions() < target
    if narrow:
        return df.repartition(target)
    return df
