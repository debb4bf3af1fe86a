"""Merge + dedup pipeline (SURVEY.md §3.3).

Reference: jobs/spark/merge_dedup.py:46-72. Union the two conformed
listing tables, drop rows missing any of the identity trio
(agent_id/location/price), keep the least-null row per
(location, price), stamp the transformation date, project onto
``schemas.LISTING_SCHEMA``.

This is the only job with a shuffle (the dedup window's partitionBy) —
exactly as in the reference. Deviations: deterministic tiebreaker
(url) on the survivor window; injected ``as_of`` date.
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import col

from ..operators.dedup import least_nulls_survivor
from ..schemas import LISTING_SCHEMA, project


def merge_dedup_pipeline(
    propnex: DataFrame,
    srx: DataFrame,
    as_of: datetime.date,
) -> DataFrame:
    df = propnex.unionByName(srx)
    df = df.filter(
        col("agent_id").isNotNull()
        & col("location").isNotNull()
        & col("price").isNotNull()
    )
    df = least_nulls_survivor(
        df, partition_cols=["location", "price"], tiebreakers=["url"]
    )
    df = df.withColumn("transformed_date", F.lit(as_of))
    return project(df, LISTING_SCHEMA)
