"""Golden tests for the four reference-parity pipelines (SURVEY.md §5.2)."""

from __future__ import annotations

import datetime
import json

import pytest

import fixtures
from hdb_resale_price_data_pipeline_spark import seeds
from hdb_resale_price_data_pipeline_spark.plans import (
    historical_pipeline,
    merge_dedup_pipeline,
    propnex_pipeline,
    srx_pipeline,
)
from hdb_resale_price_data_pipeline_spark.schemas import (
    HISTORICAL_COLUMNS,
    HISTORICAL_SCHEMA,
    LISTING_COLUMNS,
    LISTING_SCHEMA,
    RAW_PROPNEX_SCHEMA,
    RAW_SRX_SCHEMA,
    SCRAPED_LISTING_SCHEMA,
)
from hdb_resale_price_data_pipeline_spark.sources.readers import read_historical_csv_dir

AS_OF = datetime.date(2024, 11, 1)


@pytest.fixture(scope="module")
def propnex_out(spark):
    raw = spark.createDataFrame(
        [tuple(r[f.name] for f in RAW_PROPNEX_SCHEMA.fields) for r in fixtures.PROPNEX_ROWS],
        RAW_PROPNEX_SCHEMA,
    )
    return propnex_pipeline(
        raw, seeds.district_code(spark), seeds.district_region(spark), AS_OF.year
    )


@pytest.fixture(scope="module")
def srx_out(spark):
    raw = spark.createDataFrame(
        [tuple(r[f.name] for f in RAW_SRX_SCHEMA.fields) for r in fixtures.SRX_ROWS],
        RAW_SRX_SCHEMA,
    )
    return srx_pipeline(
        raw,
        seeds.district_code(spark),
        seeds.district_region(spark),
        seeds.agency(spark),
        AS_OF.year,
    )


def _row(df, **filters):
    rows = df.collect()
    out = [r for r in rows if all(getattr(r, k) == v for k, v in filters.items())]
    assert len(out) == 1, f"expected 1 row for {filters}, got {len(out)}"
    return out[0]


@pytest.mark.core
def test_propnex_conform(propnex_out):
    assert sorted(propnex_out.columns) == sorted(c for c in LISTING_COLUMNS if c != "transformed_date")
    r = _row(propnex_out, url="https://www.propnex.com/listing/1")
    assert r.location == "123 Bedok North Road"  # Blk stripped, number uppered
    assert r.price == 550000 and r.price_psf == 549  # $,-stripped; price/area
    assert r.floor_area_sqm == 93  # regex from '(93 sqm)'
    assert r.general_location == "Bedok"
    assert r.district == 16 and r.zone == "East" and r.region == "OCR"
    assert r.furnish == "partial"
    assert r.floor == "high"
    assert r.facilities_num == 3
    assert r.agent_id == "R012345A" and r.agent_phone_num == 91234567
    assert r.agency == "PROPNEX REALTY PTE. LTD." and r.agency_id == "L3008022J"
    assert r.remaining_lease == 99 - (AS_OF.year - 1985)
    assert r.property_type is None and r.model is None  # NULL literals
    info = json.loads(r.additional_information)
    assert info["agent_email"] == "john.tan@propnex.com"
    assert "🏠" not in info["description"] and "\n" not in info["description"]


@pytest.mark.core
def test_propnex_numeric_location_falls_back_to_street(propnex_out):
    r = _row(propnex_out, url="https://www.propnex.com/listing/2")
    assert r.location == "Holland Road"  # 'Block 45' → numeric-only → street
    assert r.general_location is None  # '(D10)' line means town missing
    assert r.furnish == "full"
    assert r.district == 10 and r.region == "CCR"  # from postal sector 27
    # wait: sector '27' → district 10 per seeds; post_code 278123 → sector 27


@pytest.mark.core
def test_srx_conform(srx_out):
    assert sorted(srx_out.columns) == sorted(c for c in LISTING_COLUMNS if c != "transformed_date")
    r = _row(srx_out, url="https://www.srx.com.sg/listings/10")
    assert r.agent_id == "R123456A" and r.agency_id == "L3008022J"
    assert r.agency == "PROPNEX REALTY PTE. LTD."  # agency dim join
    assert r.agent_name == "Alice Wong"  # ★ stripped
    assert r.agent_phone_num == 91112222
    assert r.location == "8 Tampines Street 81"
    assert r.post_code == "520881" and r.district == 18 and r.zone == "East"
    assert r.bedrooms == 4  # '3+1'
    assert r.price == 480000 and r.price_psf == 480
    assert r.floor_area_sqm == 93 and r.total_floor_area == 1001
    assert r.property_type == "4 Rooms"
    assert r.floor == "middle"  # 'Mid' → 'middle'
    assert r.remaining_lease == 99 - (AS_OF.year - 1988)
    info = json.loads(r.additional_information)
    assert list(info.keys()) == [
        "facilities", "schools", "shopping_malls/markets", "train_stations", "description",
    ]
    assert info["schools"] == "Tampines Primary"


@pytest.mark.core
def test_srx_bedrooms_edge_cases(srx_out):
    assert _row(srx_out, url="https://www.srx.com.sg/listings/11").bedrooms == 1  # Studio
    assert _row(srx_out, url="https://www.srx.com.sg/listings/12").bedrooms is None  # junk
    assert _row(srx_out, url="https://www.srx.com.sg/listings/11").furnish == "unfurnished"


@pytest.mark.core
def test_srx_missing_licence_is_null(srx_out):
    r = _row(srx_out, url="https://www.srx.com.sg/listings/11")
    assert r.agency_id is None and r.agency is None  # regex miss → '' → NULL


@pytest.mark.core
def test_merge_dedup(spark, propnex_out, srx_out):
    merged = merge_dedup_pipeline(propnex_out, srx_out, AS_OF)
    assert merged.columns == LISTING_COLUMNS  # exact canonical order
    rows = merged.collect()
    urls = {r.url for r in rows}
    # null price (propnex/4) and null location (srx/12) filtered out
    assert "https://www.propnex.com/listing/4" not in urls
    assert "https://www.srx.com.sg/listings/12" not in urls
    # (location, price) duplicate resolved to the srx row (fewer nulls)
    assert "https://www.srx.com.sg/listings/10" in urls
    assert "https://www.propnex.com/listing/3" not in urls
    assert all(r.transformed_date == AS_OF for r in rows)
    assert len(rows) == 4  # 1,2 propnex + 10,11 srx


def test_merge_dedup_idempotent(spark, propnex_out, srx_out):
    merged = merge_dedup_pipeline(propnex_out, srx_out, AS_OF)
    again = merge_dedup_pipeline(merged, merged.limit(0), AS_OF)
    assert sorted(map(tuple, again.collect())) == sorted(map(tuple, merged.collect()))


@pytest.mark.core
def test_historical_pipeline(spark, tmp_path):
    csv_dir = fixtures.write_historical_csvs(str(tmp_path))
    raw = read_historical_csv_dir(spark, csv_dir)
    out = historical_pipeline(
        raw,
        seeds.town_district(spark),
        seeds.district_zone(spark),
        seeds.district_region(spark),
    )
    assert out.columns == HISTORICAL_COLUMNS
    rows = out.collect()
    assert len(rows) == 5  # both vintages folded

    r = next(r for r in rows if r.block == "123")
    assert r.date_of_sale == datetime.date(2017, 3, 1)
    assert r.year == 2017 and r.month == 3
    assert r.general_location == "Bedok" and r.district == 16
    assert r.zone == "East" and r.region == "OCR"
    assert r.property_type == "4 Rooms"  # 'Room' → 'Rooms'
    assert r.total_floor_area == 1001  # 93 sqm → sqft
    assert r.remaining_lease == 99 - (2017 - 1985)
    assert r.price == 550000

    kw = next(r for r in rows if r.block == "45")
    assert kw.general_location == "Kallang/Whampoa"  # '/w' → '/W' fix
    assert kw.district == 12

    mg = next(r for r in rows if r.block == "829")
    assert mg.property_type == "Multi-generation"  # 'Multi G' → 'Multi-g'

    v2 = next(r for r in rows if r.block == "302")
    assert v2.year == 2020 and v2.price == 650000  # second vintage parsed


@pytest.mark.core
def test_run_all_dag_end_to_end(spark, tmp_path):
    """run_all reproduces the reference DAG (dags/pipeline.py:282-288):
    propnex ∥ srx → merge_dedup → scraped table; historical independent.
    Golden path from raw fixtures to both warehouse tables, and a re-run
    for the same as_of day must be idempotent (K2 incremental load)."""
    from hdb_resale_price_data_pipeline_spark.plans.runner import run_all
    from hdb_resale_price_data_pipeline_spark.schemas import (
        HISTORICAL_COLUMNS as HCOLS,
    )

    csv_dir = fixtures.write_historical_csvs(str(tmp_path))
    propnex_json, srx_json = fixtures.write_listing_jsons(str(tmp_path))
    wh = str(tmp_path / "warehouse")

    out = run_all(spark, csv_dir, propnex_json, srx_json, wh, as_of=AS_OF)

    hist = spark.read.parquet(f"{wh}/historical_data")
    scraped = spark.read.parquet(f"{wh}/scraped_data")
    # partitionBy moves the key to the end; content must round-trip
    assert sorted(hist.columns) == sorted(HCOLS)
    assert sorted(scraped.columns) == sorted(LISTING_COLUMNS)
    assert hist.count() == out["historical"].count() == 5
    # merge survivors: propnex 1,2 + srx 10(dup winner),11; null price /
    # null location rows gated out; propnex 3 loses the dedup
    assert scraped.count() == out["scraped"].count() == 4
    urls = {r.url for r in scraped.collect()}
    assert "https://www.srx.com.sg/listings/10" in urls
    assert "https://www.propnex.com/listing/3" not in urls

    # same-day re-run (scheduler retry) must not duplicate any partition
    run_all(spark, csv_dir, propnex_json, srx_json, wh, as_of=AS_OF)
    assert spark.read.parquet(f"{wh}/historical_data").count() == 5
    assert spark.read.parquet(f"{wh}/scraped_data").count() == 4


def _name_types(schema):
    return [(f.name, f.dataType) for f in schema.fields]


@pytest.mark.core
def test_outputs_match_declared_schemas(spark, tmp_path, propnex_out, srx_out):
    """Each pipeline emits exactly its declared schema's (name, type)
    sequence — order included, nullability not compared."""
    historical = historical_pipeline(
        read_historical_csv_dir(spark, fixtures.write_historical_csvs(str(tmp_path))),
        seeds.town_district(spark),
        seeds.district_zone(spark),
        seeds.district_region(spark),
    )
    merged = merge_dedup_pipeline(propnex_out, srx_out, AS_OF)
    for name, df, schema in (
        ("historical", historical, HISTORICAL_SCHEMA),
        ("propnex", propnex_out, SCRAPED_LISTING_SCHEMA),
        ("srx", srx_out, SCRAPED_LISTING_SCHEMA),
        ("merged", merged, LISTING_SCHEMA),
    ):
        assert _name_types(df.schema) == _name_types(schema), name


def test_run_all_load_metrics(spark, tmp_path):
    """Observation-API load counters (plans/observe.py): computed inside
    the load jobs themselves, they must match what a separate scan of
    the written tables reports — rows, date range, zero key-nulls (the
    merge filter guarantees NOT NULL dedup keys)."""
    from pyspark.sql import functions as F

    from hdb_resale_price_data_pipeline_spark.plans.runner import run_all

    csv_dir = fixtures.write_historical_csvs(str(tmp_path))
    propnex_json, srx_json = fixtures.write_listing_jsons(str(tmp_path))
    wh = str(tmp_path / "warehouse")

    metrics: dict = {}
    run_all(
        spark, csv_dir, propnex_json, srx_json, wh, as_of=AS_OF, metrics_out=metrics
    )
    assert set(metrics) == {"historical", "scraped"}

    hist = spark.read.parquet(f"{wh}/historical_data")
    m = metrics["historical"]
    assert m["rows_loaded"] == hist.count() == 5
    lo, hi = hist.agg(
        F.min("date_of_sale").cast("string"), F.max("date_of_sale").cast("string")
    ).first()
    assert (m["min_date"], m["max_date"]) == (lo, hi)
    assert m["null_general_location"] == 0 and m["null_price"] == 0

    s = metrics["scraped"]
    assert s["rows_loaded"] == spark.read.parquet(f"{wh}/scraped_data").count() == 4
    assert s["null_agent_id"] == 0
    assert s["null_location"] == 0
    assert s["null_price"] == 0
    assert s["min_date"] == s["max_date"] == str(AS_OF)
