"""Sequence-packing invariants (the value-level oracle parity runs in
test_correctness.py via LOCAL_QUERIES['text_pack_sequences'])."""

from __future__ import annotations

from conftest import TEST_SF_DIR
from pyspark.sql import functions as F

from hdb_resale_price_data_pipeline_spark.operators.packing import pack_sequences
from hdb_resale_price_data_pipeline_spark.operators import text as T
from hdb_resale_price_data_pipeline_spark.sources import read_table

CAP = 128


def test_packing_invariants(spark):
    docs = read_table(spark, TEST_SF_DIR, "documents")
    packed = pack_sequences(docs, "lang", "doc_id", T.token_count("text"), CAP)
    rows = packed.collect()
    assert len(rows) == docs.count()
    assert all(0 <= r.offset < CAP for r in rows)
    assert all(r.seq_id >= 0 for r in rows)
    # stream order: per group, (seq_id*CAP + offset) is the exclusive
    # prefix sum of n_tokens in doc_id order — recompute in Python
    by_group: dict[str, list] = {}
    for r in rows:
        by_group.setdefault(r.lang, []).append(r)
    for g, rs in by_group.items():
        rs.sort(key=lambda r: r.doc_id)
        running = 0
        for r in rs:
            assert r.seq_id * CAP + r.offset == running, (g, r)
            running += r.n_tokens

    # per sequence: docs packed and the fill ratio of the last doc's end
    n_docs: dict[tuple, int] = {}
    end: dict[tuple, int] = {}
    for r in rows:
        key = (r.lang, r.seq_id)
        n_docs[key] = n_docs.get(key, 0) + 1
        end[key] = max(end.get(key, 0), r.offset + r.n_tokens)
    assert sum(n_docs.values()) == len(rows)
    assert all(0.0 < min(e / CAP, 1.0) <= 1.0 for e in end.values())
