"""Historical-transactions pipeline (SURVEY.md §3.1).

Reference: jobs/spark/historical_data_transformation.py:82-126. Raw
data.gov.sg resale CSVs (10 conformed string columns) → cleaned,
dim-enriched table projected onto ``schemas.HISTORICAL_SCHEMA``
(17 columns; names, order and types come from there alone).

Deviations (documented, SURVEY.md §4):
- errors re-raise instead of ``sys.exit(1)`` swallowing them;
- J2 joins the 28-row ``seeds.district_zone`` instead of de-duplicating
  the 81-row ``district_code`` per run (same rows, computed on the
  driver), so no aggregate or shuffle is planned for it;
- the whole transform is one ``select`` composition — Catalyst collapses
  it to a single projection over the scan, so the job is a shuffle-free
  map pipeline with three broadcast joins (§3.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import col

from ..functions.dates import LEASE_YEARS, month_string_to_date
from ..operators.enrich import enrich
from ..schemas import HISTORICAL_SCHEMA, project

SQM_TO_SQFT = 3.28084 * 3.28084


def conform_historical(df: DataFrame) -> DataFrame:
    """Casing, renames, unit conversion, date derivations
    (historical_data_transformation.py:29-54)."""
    df = (
        df.withColumn("general_location", F.initcap(col("town")))
        .withColumn("street_name", F.initcap(col("street_name")))
        .withColumn("property_type", F.initcap(col("flat_type")))
        .withColumn("model", col("flat_model"))
        .withColumn("price", col("resale_price"))
        .withColumn("top", col("lease_commence_date"))
        # '4 Room' → '4 Rooms'; 'Multi Generation' → 'Multi-generation'
        .withColumn("property_type", F.regexp_replace(col("property_type"), "Room", "Rooms"))
        .withColumn("property_type", F.regexp_replace(col("property_type"), "Multi G", "Multi-g"))
        .withColumn(
            "total_floor_area", F.round(col("floor_area_sqm") * SQM_TO_SQFT).cast("int")
        )
        .withColumn("date_of_sale", month_string_to_date(col("month")))
        .withColumn("year", F.year("date_of_sale"))
        .withColumn("month", F.month("date_of_sale"))
        .withColumn(
            "remaining_lease", LEASE_YEARS - (col("year") - col("top")).cast("int")
        )
    )
    return df


def enrich_districts(
    df: DataFrame,
    town_district: DataFrame,
    district_zone: DataFrame,
    district_region: DataFrame,
) -> DataFrame:
    """Three broadcast left joins (J1-J3,
    historical_data_transformation.py:59-63,102-104): town→district on a
    case-normalized key, district→zone on the district-grain zone table
    (joining the 81-row sector table would fan out ×~3),
    district→region."""
    df = df.withColumn("general_location", F.lower("general_location"))
    df = enrich(
        df,
        town_district.withColumn("general_location", F.lower("general_location")),
        on="general_location",
    )
    df = (
        df.withColumn("general_location", F.initcap("general_location"))
        # initcap lower-cases the letter after '/' — restore 'Kallang/Whampoa'
        .withColumn("general_location", F.regexp_replace("general_location", r"/w", "/W"))
    )
    df = enrich(df, district_zone, on="district")
    df = enrich(df, district_region, on="district")
    return df


def historical_pipeline(
    raw: DataFrame,
    town_district: DataFrame,
    district_zone: DataFrame,
    district_region: DataFrame,
) -> DataFrame:
    """Full pipeline: conform → enrich → ``HISTORICAL_SCHEMA``."""
    df = conform_historical(raw)
    df = enrich_districts(df, town_district, district_zone, district_region)
    return project(df, HISTORICAL_SCHEMA)
