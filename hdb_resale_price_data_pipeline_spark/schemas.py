"""Explicit schemas for every source and sink.

The reference infers schemas at the edge (CSV header-only read,
historical_data_transformation.py:21; multiline-JSON inference,
propnex_transformation.py:110, srx_transformation.py:122) and fixes them
only at the BigQuery sink (dags/schemas.py:1-50). Inference on untrusted
scraped JSON is a schema-drift hazard (SURVEY.md §4), so this engine
declares ``StructType`` for everything.

Column contracts (names, types, order) mirror the reference exactly:

- ``LISTING_SCHEMA``    = dags/schemas.py:1-30  (28 cols, merged scraped)
- ``HISTORICAL_SCHEMA`` = dags/schemas.py:32-50 (17 cols, transactions)
- raw-source schemas    = FIXTURES.md §1-3 (scraper dict shapes,
  propnex_selenium.py:139-165 / srx_selenium.py:120-152 / data.gov.sg CSV)

Every pipeline under ``plans/`` ends in ``project(df, <its schema>)``, so
the output column names, order and types are stated here and nowhere
else.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    DateType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)


def _all_strings(names: list[str]) -> StructType:
    return StructType([StructField(n, StringType(), True) for n in names])


# --- raw sources (everything arrives as strings; see FIXTURES.md) --------

RAW_PROPNEX_SCHEMA = _all_strings(
    [
        "url",
        "location",
        "price",
        "price_psf",
        "street_town_district",
        "num_bedroom",
        "num_bathroom",
        "floor_area_sqft",
        "agent_name",
        "agent_id",
        "agent_email",
        "agent_phone_num",
        "listing_type",
        "property_group",
        "property_type",
        "district",
        "total_floor_area",
        "top",
        "furnishing",
        "tenure",
        "floor",
        "post_code",
        "street_name",
        "description",
        "facilities",
    ]
)

RAW_SRX_SCHEMA = _all_strings(
    [
        "url",
        "location",
        "floor_size_psf",
        "price",
        "num_bedroom",
        "num_bathroom",
        "description",
        "agent_name",
        "agent_id",
        "agent_phone_num",
        "address",
        "property_name",
        "property_type",
        "model",
        "bedrooms",
        "bathrooms",
        "furnish",
        "floor_level",
        "tenure",
        "developer",
        "built_year",
        "hdb_town",
        "asking",
        "size",
        "psf",
        "tenancy_status",
        "date_listed",
        "facilities",
        "train_stations",
        "schools",
        "shopping_mall/markets",
    ]
)

RAW_HISTORICAL_COLUMNS = [
    "month",
    "town",
    "flat_type",
    "block",
    "street_name",
    "storey_range",
    "floor_area_sqm",
    "flat_model",
    "lease_commence_date",
    "resale_price",
]


# --- dimension tables (SURVEY.md §1.4) ------------------------------------

TOWN_DISTRICT_SCHEMA = StructType(
    [
        StructField("general_location", StringType(), True),
        StructField("district", LongType(), True),
    ]
)

DISTRICT_CODE_SCHEMA = StructType(
    [
        StructField("district", IntegerType(), True),
        StructField("postal_sector", StringType(), False),
        StructField("zone", StringType(), True),
    ]
)

# district → zone: the district grain of DISTRICT_CODE_SCHEMA
DISTRICT_ZONE_SCHEMA = StructType(
    [DISTRICT_CODE_SCHEMA["district"], DISTRICT_CODE_SCHEMA["zone"]]
)

DISTRICT_REGION_SCHEMA = StructType(
    [
        StructField("district", IntegerType(), True),
        StructField("region", StringType(), True),
    ]
)

AGENCY_SCHEMA = StructType(
    [
        StructField("agency", StringType(), True),
        StructField("agency_id", StringType(), True),
    ]
)


# --- conformed sinks -------------------------------------------------------

# Merged scraped listings: 28 columns, order = merge_dedup.py:34-41,
# types = dags/schemas.py:1-30.
LISTING_COLUMNS = [
    "location",
    "price",
    "price_psf",
    "top",
    "remaining_lease",
    "bathrooms",
    "bedrooms",
    "total_floor_area",
    "property_type",
    "model",
    "floor",
    "general_location",
    "district",
    "zone",
    "region",
    "street_name",
    "post_code",
    "furnish",
    "floor_area_sqm",
    "facilities_num",
    "agent_id",
    "agent_name",
    "agent_phone_num",
    "agency",
    "agency_id",
    "url",
    "additional_information",
    "transformed_date",
]

_LISTING_INT_COLUMNS = {
    "price",
    "price_psf",
    "top",
    "remaining_lease",
    "bathrooms",
    "bedrooms",
    "total_floor_area",
    "district",
    "floor_area_sqm",
    "facilities_num",
    "agent_phone_num",
}

LISTING_SCHEMA = StructType(
    [
        StructField(
            name,
            DateType()
            if name == "transformed_date"
            else IntegerType()
            if name in _LISTING_INT_COLUMNS
            else StringType(),
            True,
        )
        for name in LISTING_COLUMNS
    ]
)

# One scraped source (propnex or srx) before the merge stamps its date.
SCRAPED_LISTING_SCHEMA = StructType(LISTING_SCHEMA.fields[:-1])

# Historical transactions: 17 columns, order =
# historical_data_transformation.py:71-77, types = dags/schemas.py:32-50.
HISTORICAL_COLUMNS = [
    "date_of_sale",
    "year",
    "month",
    "general_location",
    "block",
    "street_name",
    "price",
    "top",
    "remaining_lease",
    "storey_range",
    "total_floor_area",
    "floor_area_sqm",
    "model",
    "property_type",
    "district",
    "zone",
    "region",
]

_HISTORICAL_INT_COLUMNS = {
    "year",
    "month",
    "price",
    "top",
    "remaining_lease",
    "total_floor_area",
    "floor_area_sqm",
    "district",
}

HISTORICAL_SCHEMA = StructType(
    [
        StructField(
            name,
            DateType()
            if name == "date_of_sale"
            else IntegerType()
            if name in _HISTORICAL_INT_COLUMNS
            else StringType(),
            True,
        )
        for name in HISTORICAL_COLUMNS
    ]
)


def project(df: DataFrame, schema: StructType) -> DataFrame:
    """``df`` as exactly ``schema``'s columns, in order, cast to its types
    (nullability is left as computed): the same projection as
    ``df.select([col(f.name).cast(f.dataType) for f in schema.fields])``.

    Written as one ``selectExpr`` because that select's per-column
    ``col``/``cast`` calls each cross to the JVM on a classic session.
    On 4 cores, the four daily plans (``plans.runner.run_all``) took
    1.06 s to build that way against 0.80 s this way, median of 40
    interleaved builds in one session.
    """
    return df.selectExpr(
        *(
            f"CAST(`{f.name}` AS {f.dataType.simpleString()}) AS `{f.name}`"
            for f in schema.fields
        )
    )
