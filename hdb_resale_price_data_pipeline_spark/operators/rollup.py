"""Materialized time-rollups: pre-aggregated hourly tables that answer
coarser-grain queries without touching raw events.

The hypertable/continuous-aggregate pattern, Spark-native: maintain an
hourly aggregate table (one shuffle over the raw events, day-partition
loadable like any warehouse table), and answer daily/weekly/monthly
queries by RE-AGGREGATING the hourly rows — at 100 TB of events the
hourly table is ~10^4× smaller, so dashboard-grain queries never scan
raw data.

Correctness requirement — re-aggregation must be EXACT, not just
close: only algebraic aggregates survive a rollup (count → sum of
counts, sum → sum of sums, avg → sum/count; countDistinct does NOT —
it needs a sketch or the raw data, so the rollup schema deliberately
excludes it). Floating-point sums are NOT re-aggregable either: IEEE
addition is non-associative, so summing hourly subtotals gives a
different last-ulp than summing raw rows, and a value-hash comparison
catches exactly that. The rollup therefore carries ``value`` as
DECIMAL: decimal addition is exact and order-free, so
``daily-from-hourly ≡ daily-from-raw`` bit-for-bit — asserted by the
DuckDB oracle of ``events_daily_rollup``, which aggregates the RAW
table directly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import col

# events.value carries one decimal digit; 18,6 leaves headroom for sums
VALUE_DECIMAL = "decimal(18, 6)"


def build_hourly_rollup(events: DataFrame) -> DataFrame:
    """The maintained aggregate: one row per (hour, event_type)."""
    return events.groupBy(
        F.date_trunc("hour", col("ts")).alias("hour_start"),
        col("event_type"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(col("value").cast(VALUE_DECIMAL)).alias("sum_value"),
    )


def daily_from_hourly(rollup: DataFrame) -> DataFrame:
    """Daily grain answered from the hourly table: re-aggregate the
    algebraic pieces, derive avg at the end."""
    return (
        rollup.groupBy(
            F.date_trunc("day", col("hour_start")).cast("date").cast("string").alias("day"),
            col("event_type"),
        )
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_value").alias("sum_value"),
        )
        .select(
            "day",
            "event_type",
            "n_events",
            col("sum_value").cast("double").alias("total_value"),
            # repr-free floor rounding: the decimal-sum / count quotient
            # can land on exact 7th-decimal ties (see operators/dedup.py
            # jaccard_expr for the Spark-vs-DuckDB round() split)
            (
                F.floor(
                    col("sum_value").cast("double") / col("n_events").cast("double")
                    * 1000000
                    + F.lit(0.5)
                ).cast("double")
                / 1000000
            ).alias("avg_value"),
        )
    )
