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
- the conform step is one column mapping (a single Project over the
  scan); it emits the lower-cased J1 key, and one step after J1 sets
  the display value. Catalyst collapses all three with the final
  projection, so the job is a shuffle-free map pipeline with three
  broadcast joins (§3.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import col

from ..functions.dates import month_string_to_date, remaining_lease
from ..operators.enrich import enrich
from ..schemas import HISTORICAL_SCHEMA, project

SQM_TO_SQFT = 3.28084 * 3.28084


def conform_historical(df: DataFrame) -> DataFrame:
    """Casing, renames, unit conversion, date derivations
    (historical_data_transformation.py:29-54) as one column mapping.
    ``general_location`` is the lower-cased J1 join key."""
    date_of_sale = month_string_to_date(col("month"))
    year = F.year(date_of_sale)
    # '4 Room' → '4 Rooms'; 'Multi Generation' → 'Multi-generation'
    property_type = F.regexp_replace(
        F.regexp_replace(F.initcap(col("flat_type")), "Room", "Rooms"), "Multi G", "Multi-g"
    )
    return df.withColumns(
        {
            # the lower-cased display value (initcap first keeps the key
            # exactly that for any input)
            "general_location": F.lower(F.initcap(col("town"))),
            "street_name": F.initcap(col("street_name")),
            "property_type": property_type,
            "model": col("flat_model"),
            "price": col("resale_price"),
            "top": col("lease_commence_date"),
            "total_floor_area": F.round(col("floor_area_sqm") * SQM_TO_SQFT).cast("int"),
            "date_of_sale": date_of_sale,
            "year": year,
            "month": F.month(date_of_sale),
            "remaining_lease": remaining_lease(col("lease_commence_date"), year),
        }
    )


def enrich_districts(
    df: DataFrame,
    town_district: DataFrame,
    district_zone: DataFrame,
    district_region: DataFrame,
) -> DataFrame:
    """Three broadcast left joins (J1-J3,
    historical_data_transformation.py:59-63,102-104): town→district on
    the lower-cased key ``conform_historical`` emits, district→zone on
    the district-grain zone table (joining the 81-row sector table would
    fan out ×~3), district→region."""
    df = enrich(
        df,
        town_district.withColumn("general_location", F.lower("general_location")),
        on="general_location",
    )
    # initcap lower-cases the letter after '/' — restore 'Kallang/Whampoa'
    df = df.withColumn(
        "general_location",
        F.regexp_replace(F.initcap("general_location"), r"/w", "/W"),
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
