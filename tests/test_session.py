"""The session factory's generated-code cache holds a warm query's
classes while other queries compile theirs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bench import codegen_counter


@pytest.mark.core
def test_warm_query_keeps_its_generated_classes_past_100_others(spark):
    counter = codegen_counter(spark)

    def compiles() -> int:
        return counter()[0]

    def aggregation():
        df = spark.range(1000).groupBy((F.col("id") % 7).alias("k"))
        return df.agg(F.sum("id").alias("s"), F.max("id").alias("m")).collect()

    aggregation()
    aggregation()

    # Spark's default cache holds 100 classes; each filler compiles 2
    # distinct ones (the literal is baked into the generated code).
    start = compiles()
    for i in range(200):
        if compiles() - start > 100:
            break
        spark.range(1).select(F.col("id") + F.lit(i)).collect()
    assert compiles() - start > 100

    before = compiles()
    aggregation()
    assert compiles() - before == 0
