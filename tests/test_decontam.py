"""Bloom-filter decontamination invariants vs the exact report.

The Bloom variant may over-flag (bounded false positives) but must NEVER
under-flag: every document the exact n-gram join marks contaminated has
all its colliding grams' bits set in the bitset by construction.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from conftest import SMOKE_SF_DIR
from hdb_resale_price_data_pipeline_spark.operators.decontam import (
    bloom_contamination_report,
    contamination_report,
)
from hdb_resale_price_data_pipeline_spark.sources import read_table


def _reports(spark):
    docs = read_table(spark, SMOKE_SF_DIR, "documents")
    pred = F.col("doc_id") % 10 == 0
    exact = contamination_report(docs, eval_pred=pred, n=5)
    bloom = bloom_contamination_report(docs, eval_pred=pred, n=5)
    return exact, bloom


def test_bloom_no_false_negatives(spark):
    exact, bloom = _reports(spark)
    joined = exact.select("doc_id", "n_contaminated").join(
        bloom.select("doc_id", "n_flagged"), "doc_id"
    )
    # Per doc: every exactly-contaminated gram is also bloom-flagged.
    under = joined.filter(F.col("n_flagged") < F.col("n_contaminated")).count()
    assert under == 0


def test_bloom_false_positive_rate_bounded(spark):
    exact, bloom = _reports(spark)
    joined = (
        exact.select("doc_id", "n_shingles", "n_contaminated")
        .join(bloom.select("doc_id", "n_flagged"), "doc_id")
        .agg(
            F.sum("n_shingles").alias("grams"),
            F.sum(F.col("n_flagged") - F.col("n_contaminated")).alias("fp"),
        )
        .collect()[0]
    )
    # ~1M bits / K=3 over a tiny eval gram set → FP rate should be well
    # under 1% of probed grams; a generous ceiling still catches a
    # broken probe (which would flag everything).
    assert joined.fp / joined.grams < 0.01


def test_bloom_same_doc_set_as_exact(spark):
    exact, bloom = _reports(spark)
    assert exact.count() == bloom.count()
    assert (
        exact.select("doc_id").exceptAll(bloom.select("doc_id")).count() == 0
    )
