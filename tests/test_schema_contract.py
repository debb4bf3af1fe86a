"""Read-boundary timestamp-normalization + schema-contract tests.

Round 2 regression class: the driver regenerated ``events.parquet`` with
``ts`` as µs TIMESTAMP_NTZ while the engine assumed TIMESTAMP(NANOS)-
read-as-LONG — five queries died four call-sites away from the read. The
contract now is: whatever physical flavor a producer wrote (µs NTZ, LTZ,
INT64 epoch-nanos), ``read_table`` emits ONE internal type (TIMESTAMP,
session TZ UTC) and every flavor yields byte-identical query results;
anything it can't normalize fails AT THE BOUNDARY with a one-line
diagnosis.
"""

from __future__ import annotations

import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from hdb_resale_price_data_pipeline_spark.sources.readers import (
    TABLE_CONTRACTS,
    SchemaContractError,
    normalize_timestamps,
    read_table,
    validate_contract,
)

EPOCH_US = [
    1_700_000_000_000_000,
    1_700_000_123_456_789,
    1_700_003_600_000_000,
    1_700_007_199_999_999,
]


def _base_columns(n):
    return {
        "event_id": pa.array(range(1, n + 1), pa.int64()),
        "user_id": pa.array([7] * n, pa.int64()),
        "event_type": pa.array(["click"] * n, pa.string()),
        "value": pa.array([float(i) for i in range(n)], pa.float64()),
        "props": pa.array(['{"k": 1}'] * n, pa.string()),
    }


def _write_events(path, ts_array):
    cols = _base_columns(len(EPOCH_US))
    table = pa.table(
        {
            "event_id": cols["event_id"],
            "ts": ts_array,
            "user_id": cols["user_id"],
            "event_type": cols["event_type"],
            "value": cols["value"],
            "props": cols["props"],
        }
    )
    pq.write_table(table, path)


@pytest.fixture(scope="module")
def flavor_dirs(tmp_path_factory):
    """Three sf_dir layouts holding the SAME logical events data in three
    physical ts flavors."""
    root = tmp_path_factory.mktemp("ts_flavors")
    dirs = {}
    for flavor, ts_type in [
        ("ntz", pa.timestamp("us")),
        ("ltz", pa.timestamp("us", tz="UTC")),
        ("nanos", pa.timestamp("ns")),
    ]:
        d = root / flavor
        d.mkdir()
        if ts_type.unit == "ns":
            arr = pa.array([u * 1000 for u in EPOCH_US], ts_type)
        else:
            arr = pa.array(EPOCH_US, ts_type)
        _write_events(str(d / "events.parquet"), arr)
        dirs[flavor] = str(d)
    return dirs


def test_all_flavors_normalize_to_timestamp(spark, flavor_dirs):
    for flavor, d in flavor_dirs.items():
        df = read_table(spark, d, "events")
        assert df.schema["ts"].dataType.simpleString() == "timestamp", flavor


def test_all_flavors_yield_identical_us_arithmetic(spark, flavor_dirs):
    """The exact op class that died in round 2 (unix_micros µs math) must
    return identical values for every producer flavor."""
    results = {}
    for flavor, d in flavor_dirs.items():
        rows = (
            read_table(spark, d, "events")
            .select("event_id", F.unix_micros("ts").alias("us"))
            .orderBy("event_id")
            .collect()
        )
        results[flavor] = [(r.event_id, r.us) for r in rows]
    assert results["ntz"] == [(i + 1, u) for i, u in enumerate(EPOCH_US)]
    assert results["ntz"] == results["ltz"] == results["nanos"]


def test_all_flavors_yield_identical_sessionize(spark, flavor_dirs):
    from hdb_resale_price_data_pipeline_spark.queries.events import (
        q_events_sessionize,
    )

    outs = {
        flavor: sorted(map(tuple, q_events_sessionize(spark, d).collect()))
        for flavor, d in flavor_dirs.items()
    }
    assert outs["ntz"] == outs["ltz"] == outs["nanos"]
    assert len(outs["ntz"]) > 0


def test_streaming_runs_identically_on_every_flavor(spark, tmp_path_factory):
    """End-to-end streaming over each physical ts flavor: the watermarked
    tumbling-window query must emit the SAME non-empty finalized windows
    for µs-NTZ, LTZ, and nanos files (round 2's silent failure was the
    streaming reader mis-declaring the flavor and emitting 0 rows)."""
    from hdb_resale_price_data_pipeline_spark.streaming import (
        events_stream,
        run_stream_to_df,
        stream_hourly_tumbling,
    )

    root = tmp_path_factory.mktemp("stream_flavors")
    # 8 hours of events → with the 2-hour watermark, hours 0..5 finalize
    span_us = [1_700_000_000_000_000 + h * 3_600_000_000 for h in range(9)]
    outs = {}
    for flavor, ts_type in [
        ("ntz", pa.timestamp("us")),
        ("ltz", pa.timestamp("us", tz="UTC")),
        ("nanos", pa.timestamp("ns")),
    ]:
        d = root / flavor
        d.mkdir()
        scale = 1000 if ts_type.unit == "ns" else 1
        cols = _base_columns(len(span_us))
        table = pa.table(
            {
                "event_id": pa.array(range(len(span_us)), pa.int64()),
                "ts": pa.array([u * scale for u in span_us], ts_type),
                "user_id": cols["user_id"],
                "event_type": cols["event_type"],
                "value": pa.array([1.0] * len(span_us), pa.float64()),
                "props": cols["props"],
            }
        )
        pq.write_table(table, str(d / "events.parquet"))
        assert (
            events_stream(spark, str(d)).schema
            == read_table(spark, str(d), "events").schema
        ), flavor
        result = run_stream_to_df(
            stream_hourly_tumbling(events_stream(spark, str(d))), spark
        )
        outs[flavor] = sorted(map(tuple, result.collect()))
    assert len(outs["ntz"]) > 0, "no finalized windows emitted"
    assert outs["ntz"] == outs["ltz"] == outs["nanos"]


@pytest.mark.core
def test_warm_read_table_runs_no_job(spark, flavor_dirs):
    """Once a table's schema is pinned, ``read_table`` launches no Spark
    job (a schema-less scan runs one to read the footer), and the pinned
    scan returns the schema and rows of the inferred one: every sf0.001
    table, and ``events`` in each producer ts flavor. Each call is a
    fresh relation, with its own attribute ids."""
    from conftest import SMOKE_SF_DIR

    scheduler = spark.sparkContext._jsc.sc().dagScheduler()

    def output(df):
        return df._jdf.queryExecution().analyzed().output().toString()

    cases = [(SMOKE_SF_DIR, name) for name in TABLE_CONTRACTS]
    cases += [(d, "events") for d in flavor_dirs.values()]
    for sf_dir, name in cases:
        first = read_table(spark, sf_dir, name)
        before = scheduler.nextJobId()
        warm = read_table(spark, sf_dir, name)
        assert scheduler.nextJobId() == before, (sf_dir, name)
        assert output(warm) != output(first), (sf_dir, name)
        want = normalize_timestamps(
            spark.read.parquet(f"{sf_dir}/{name}.parquet"), name
        )
        assert warm.schema == want.schema, (sf_dir, name)
        assert sorted(warm.collect(), key=repr) == sorted(
            want.collect(), key=repr
        ), (sf_dir, name)


def test_unnormalizable_drift_fails_at_boundary_with_diagnosis(
    spark, tmp_path
):
    """A string ts can't be normalized — the reader must fail HERE with a
    one-line got/expected message, not let unix_micros explode later."""
    d = tmp_path / "bad"
    d.mkdir()
    _write_events(
        str(d / "events.parquet"),
        pa.array([str(u) for u in EPOCH_US], pa.string()),
    )
    with pytest.raises(SchemaContractError, match=r"events\.ts: got string, expected timestamp"):
        read_table(spark, str(d), "events")


@pytest.mark.core
def test_events_stream_fails_at_the_read_boundary(spark, tmp_path):
    """The events stream reads through the batch read boundary, so a
    string ``ts`` raises the boundary's one-line diagnosis too, and
    raises again on the next call: a contract failure is never cached."""
    from hdb_resale_price_data_pipeline_spark.streaming import events_stream

    _write_events(
        str(tmp_path / "events.parquet"),
        pa.array([str(u) for u in EPOCH_US], pa.string()),
    )
    for _ in range(2):
        with pytest.raises(
            SchemaContractError, match=r"events\.ts: got string, expected timestamp"
        ):
            events_stream(spark, str(tmp_path))


def test_missing_contract_column_is_diagnosed(spark, tmp_path):
    d = tmp_path / "missing"
    d.mkdir()
    cols = _base_columns(len(EPOCH_US))
    pq.write_table(pa.table(cols), str(d / "events.parquet"))  # no ts at all
    with pytest.raises(SchemaContractError, match=r"events\.ts: missing"):
        read_table(spark, str(d), "events")


def test_extra_columns_are_tolerated(spark, tmp_path):
    """A producer ADDING a field must not break every reader."""
    d = tmp_path / "extra"
    d.mkdir()
    cols = _base_columns(len(EPOCH_US))
    cols["ts"] = pa.array(EPOCH_US, pa.timestamp("us"))
    cols["new_field"] = pa.array(["x"] * len(EPOCH_US), pa.string())
    pq.write_table(pa.table(cols), str(d / "events.parquet"))
    df = read_table(spark, str(d), "events")
    assert df.count() == len(EPOCH_US)
    assert "new_field" in df.columns


def test_normalize_is_noop_on_conforming_frame(spark):
    df = spark.range(3).select(
        F.col("id"), F.current_timestamp().alias("ts")
    )
    # no NTZ, no long-as-timestamp → the exact same plan object comes back
    assert normalize_timestamps(df, "events") is df


def test_date_columns_normalized_across_tables(spark, flavor_dirs):
    """orders/lineitem date columns ride the same normalization (they
    ship as µs NTZ too) — validate on the real testdata."""
    from conftest import TEST_SF_DIR

    for table, col_name in [("orders", "o_orderdate"), ("lineitem", "l_shipdate")]:
        df = read_table(spark, TEST_SF_DIR, table)
        assert df.schema[col_name].dataType.simpleString() == "timestamp"
        validate_contract(df, table)


def test_bare_non_utc_session_is_renormalized_at_every_read_boundary(spark):
    """The r3 regression class from the OTHER direction: a session whose
    timezone was flipped to non-UTC between queries (a bare driver, a
    misbehaving co-tenant library) must still get UTC-pinned, value-
    identical results from BOTH read boundaries — read_table and the
    streaming source — because each re-pins the conf at the read."""
    from conftest import TEST_SF_DIR
    from hdb_resale_price_data_pipeline_spark.queries import local_queries

    R = local_queries()

    def vals(name):
        return sorted(
            tuple(str(v) for v in row)
            for row in R[name].fn(spark, TEST_SF_DIR).collect()
        )

    base_batch = vals("events_sessionize")
    base_stream = vals("stream_hourly_tumbling")
    try:
        spark.conf.set("spark.sql.session.timeZone", "Asia/Singapore")
        assert vals("events_sessionize") == base_batch
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"

        spark.conf.set("spark.sql.session.timeZone", "Asia/Singapore")
        assert vals("stream_hourly_tumbling") == base_stream
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
