"""PII redaction: known-answer tests on synthetic rows (the corpus
tables carry no PII — word-salad text — so the operator is verified
against hand-computed expectations plus a DuckDB twin run on the SAME
rows, proving the oracle-expressibility of the pattern chain)."""

from __future__ import annotations

import duckdb
import pandas as pd

from pyspark.sql import functions as F

from hdb_resale_price_data_pipeline_spark.operators.text import (
    pii_counts_on,
    redact_pii_col,
    redact_pii_duck,
)

ROWS = [
    (1, "contact me at jane.doe+spam@example.co.uk for details"),
    (2, "see https://example.com/a?b=c&d=e and http://x.io/path then call"),
    (3, "call +65 6123 4567 or (555) 123-4567 now"),
    (4, "no pii here at all"),
    (5, "mixed: https://a.b/c mail bob@site.org tel 555-867-5309 end"),
    (6, ""),
]

EXPECTED = {
    1: ("contact me at <EMAIL> for details", 0, 1, 0),
    2: ("see <URL> and <URL> then call", 2, 0, 0),
    3: ("call <PHONE> or <PHONE> now", 0, 0, 2),
    4: ("no pii here at all", 0, 0, 0),
    5: ("mixed: <URL> mail <EMAIL> tel <PHONE> end", 1, 1, 1),
    6: ("", 0, 0, 0),
}


def test_redaction_known_answers(spark):
    df = spark.createDataFrame(ROWS, "doc_id int, text string")
    got = {
        r.doc_id: (r.clean, r.n_url, r.n_email, r.n_phone)
        for r in df.select(
            "doc_id",
            redact_pii_col(F.col("text")).alias("clean"),
            *pii_counts_on(F.col("text")),
        ).collect()
    }
    assert got == EXPECTED


def test_redaction_matches_duckdb_twin(spark):
    df = spark.createDataFrame(ROWS, "doc_id int, text string")
    spark_out = {
        r.doc_id: r.clean
        for r in df.select(
            "doc_id", redact_pii_col(F.col("text")).alias("clean")
        ).collect()
    }
    con = duckdb.connect()
    con.register("pii_rows", pd.DataFrame(ROWS, columns=["doc_id", "text"]))
    duck_out = dict(
        con.execute(
            f"SELECT doc_id, {redact_pii_duck('text')} FROM pii_rows"
        ).fetchall()
    )
    assert spark_out == duck_out
