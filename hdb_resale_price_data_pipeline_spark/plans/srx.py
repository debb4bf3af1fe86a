"""SRX-listings pipeline (SURVEY.md §3.2).

Reference: jobs/spark/srx_transformation.py:116-167. Raw scraped listing
JSON (31 string fields, FIXTURES.md §2) → conformed listing projected
onto ``schemas.SCRAPED_LISTING_SCHEMA`` (27 columns).

Deviations:
- injected ``as_of_year`` replaces the driver clock
  (srx_transformation.py:86);
- the bedrooms UDF (srx_transformation.py:68-83) runs as the native
  Column expression ``clean_bedrooms_expr`` (identical semantics incl.
  the stringify-then-cast NULL path), inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import col

from ..functions.bedrooms import clean_bedrooms_expr
from ..functions.cleaning import (
    facilities_count,
    furnishing_category,
    money_to_int,
    normalize_missing_strings,
    pack_additional_info,
    postal_sector,
    psf_to_int,
    strip_emoji_and_newlines,
    strip_non_ascii,
    title_case_location,
)
from ..functions.dates import LEASE_YEARS
from ..operators.enrich import enrich
from ..plans.historical import SQM_TO_SQFT
from ..schemas import SCRAPED_LISTING_SCHEMA, project


def conform_srx(df: DataFrame, as_of_year: int) -> DataFrame:
    df = (
        # 'CEA: R123456A / L3008022J' carries both licence numbers
        df.withColumn("agency_id", F.regexp_extract(col("agent_id"), r"(L\d{7}[A-Z])", 1))
        .withColumn("agent_id", F.regexp_extract(col("agent_id"), r"(R\d{6}[A-Z])", 1))
        .withColumn("agent_phone_num", F.split(col("agent_phone_num"), ":").getItem(1).cast("int"))
        .withColumn("agent_name", strip_non_ascii(col("agent_name")))
        .withColumn("post_code", F.regexp_extract(col("address"), r"\((\d+)\)", 1))
        .withColumn("location", F.split(col("address"), " \\(").getItem(0))
        .withColumn("location", title_case_location(col("location")))
        .withColumn("description", strip_emoji_and_newlines(col("description")))
        .withColumn("facilities_num", facilities_count(col("facilities")))
        .withColumn("furnish", furnishing_category(col("furnish"), "not furnished"))
        .withColumn("price", money_to_int(col("price")))
        .withColumn("price_psf", psf_to_int(col("psf")))
        .withColumn("floor_area_sqm", F.trim(F.split(col("size"), "sqm").getItem(0)).cast("int"))
        .withColumn("total_floor_area", F.round(col("floor_area_sqm") * SQM_TO_SQFT).cast("int"))
        .withColumn("property_type", F.trim(F.split(col("property_type"), "HDB").getItem(1)))
        .withColumn("floor", F.lower(col("floor_level")))
        .withColumn("floor", F.when(col("floor") == "mid", "middle").otherwise(col("floor")))
        .withColumn("top", col("built_year"))
        .withColumn("street_name", F.initcap(col("property_name")))
        .withColumn("general_location", col("hdb_town"))
        .withColumn("bedrooms", clean_bedrooms_expr(col("bedrooms")).cast("int"))
        .withColumn(
            "remaining_lease", LEASE_YEARS - (F.lit(as_of_year) - col("top")).cast("int")
        )
        .withColumn("postal_sector", postal_sector(col("post_code")))
        .withColumn(
            "additional_information",
            pack_additional_info(
                facilities=col("facilities"),
                schools=col("schools"),
                **{"shopping_malls/markets": col("shopping_mall/markets")},
                train_stations=col("train_stations"),
                description=col("description"),
            ),
        )
    )
    return df


def srx_pipeline(
    raw: DataFrame,
    district_code: DataFrame,
    district_region: DataFrame,
    agency: DataFrame,
    as_of_year: int,
) -> DataFrame:
    df = normalize_missing_strings(raw)
    df = conform_srx(df, as_of_year)
    # J6-J8 (srx_transformation.py:146-148)
    df = enrich(df, district_code, on="postal_sector")
    df = enrich(df, district_region, on="district")
    df = enrich(df, agency, on="agency_id")
    df = normalize_missing_strings(df)
    return project(df, SCRAPED_LISTING_SCHEMA)
