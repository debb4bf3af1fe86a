"""Composed curation pipeline (plans/curation.py): structural
invariants that hold at ANY scale factor (the exact per-stage values are
oracle-checked by test_correctness via the curation_report query)."""

from __future__ import annotations

import pytest

from conftest import TEST_SF_DIR
from hdb_resale_price_data_pipeline_spark.plans.curation import (
    curation_flags,
    curation_report,
)
from hdb_resale_price_data_pipeline_spark.sources import read_table


@pytest.fixture(scope="module")
def report(spark):
    docs = read_table(spark, TEST_SF_DIR, "documents")
    return {r.stage: r.n_docs for r in curation_report(docs).collect()}


def test_stage_counts_monotonically_non_increasing(report):
    chain = ["0_raw", "1_quality", "2_exact_dedup", "3_near_dup", "4_decontaminated"]
    counts = [report[s] for s in chain]
    assert counts == sorted(counts, reverse=True), report
    assert counts[-1] > 0, "curation must not drop the whole corpus"


def test_split_partitions_the_clean_set(report):
    splits = sum(report.get(s, 0) for s in ("5_train", "6_val", "7_test"))
    assert splits == report["4_decontaminated"]
    # 80/10/10 hash split: train strictly dominates on any non-trivial corpus
    assert report["5_train"] > report.get("6_val", 0)
    assert report["5_train"] > report.get("7_test", 0)


@pytest.fixture(scope="module")
def flags(spark):
    docs = read_table(spark, TEST_SF_DIR, "documents")
    cols = ["doc_id", "quality_pass", "exact_pass", "neardup_pass", "clean_pass"]
    return curation_flags(docs).select(*cols).collect()


def test_stages_are_subsets_by_doc_id(flags):
    ids = {
        stage: {r.doc_id for r in flags if r[f"{stage}_pass"]}
        for stage in ("quality", "exact", "neardup", "clean")
    }
    assert ids["exact"] <= ids["quality"]
    assert ids["neardup"] <= ids["exact"]
    assert ids["clean"] <= ids["neardup"]
    # survivors of near-dup are each component's canonical (min) member:
    # no surviving doc may be the non-min end of a dropped pair
    dropped = ids["exact"] - ids["neardup"]
    assert all(d > min(ids["exact"]) for d in dropped) if dropped else True


def test_eval_holdout_never_enters_the_corpus(flags):
    assert flags and all(r.doc_id % 10 != 0 for r in flags)


def test_increment_report_invariants(spark):
    from hdb_resale_price_data_pipeline_spark.plans.curation import (
        curate_increment_report,
    )

    docs = read_table(spark, TEST_SF_DIR, "documents")
    report = {r.stage: r.n_docs for r in curate_increment_report(docs).collect()}
    chain = ["0_batch", "1_quality", "2_exact_dedup", "3_near_dup", "4_decontaminated"]
    counts = [report[s] for s in chain]
    assert counts == sorted(counts, reverse=True), report
    assert counts[-1] > 0
    assert sum(report[s] for s in ("5_train", "6_val", "7_test")) == report[
        "4_decontaminated"
    ]


def test_increment_drops_corpus_near_dups(spark):
    """A batch doc that verbatim-duplicates a corpus doc must fall at
    the exact stage; a lightly-perturbed copy must fall at near-dup."""
    from pyspark.sql import Row

    from hdb_resale_price_data_pipeline_spark.plans.curation import (
        curate_increment_report,
    )

    base = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "into the deep green forest tonight while stars shine brightly"
    )
    rows = []
    # corpus docs (doc_id % 10 not in {0, 1})
    rows.append(Row(doc_id=2, text=base, lang="en", source="s", n_chars=len(base)))
    filler = "completely unrelated corpus text about spark query engines"
    rows.append(Row(doc_id=3, text=filler, lang="en", source="s", n_chars=len(filler)))
    # batch docs (doc_id % 10 == 1)
    rows.append(Row(doc_id=11, text=base, lang="en", source="s", n_chars=len(base)))  # exact dup
    near = base.replace("tonight", "today")
    rows.append(Row(doc_id=21, text=near, lang="en", source="s", n_chars=len(near)))  # near dup
    fresh = (
        "an entirely different document discussing distributed joins "
        "broadcast strategies and adaptive execution in modern engines"
    )
    rows.append(Row(doc_id=31, text=fresh, lang="en", source="s", n_chars=len(fresh)))
    docs = spark.createDataFrame(rows)
    report = {r.stage: r.n_docs for r in curate_increment_report(docs).collect()}
    assert report["0_batch"] == 3
    assert report["2_exact_dedup"] == 2, report  # doc 11 dropped as exact dup
    assert report["3_near_dup"] == 1, report  # doc 21 dropped as near dup
    assert report["4_decontaminated"] == 1  # doc 31 survives


def test_shared_pair_list_paths_equal_recompute(spark):
    """The verified_pairs fast paths (curation_flags AND
    curate_increment_report deriving near-dup drops from the session-
    cached all-docs pair list) must be VALUE-IDENTICAL to the
    re-banding paths at a second scale factor (sf0.01 is covered by the
    oracle suite): band keys are per-doc, so endpoint restriction ≡
    recomputation — this pins that argument against future param drift."""
    from hdb_resale_price_data_pipeline_spark.plans.curation import (
        curate_increment_report,
        curation_report,
    )
    from hdb_resale_price_data_pipeline_spark.queries.base import t
    from hdb_resale_price_data_pipeline_spark.queries.dedup import (
        verified_minhash_pairs,
    )

    sf_dir = "/root/testdata/sf0.001"
    docs = t(spark, sf_dir, "documents")
    vp = verified_minhash_pairs(spark, sf_dir)
    for fn in (curation_report, curate_increment_report):
        old = sorted(map(tuple, fn(docs).collect()))
        new = sorted(map(tuple, fn(docs, verified_pairs=vp).collect()))
        assert old == new and len(old) == 8, fn.__name__
