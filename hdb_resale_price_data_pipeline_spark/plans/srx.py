"""SRX-listings pipeline (SURVEY.md §3.2).

Reference: jobs/spark/srx_transformation.py:116-167. Raw scraped listing
JSON (31 string fields, FIXTURES.md §2) → conformed listing projected
onto ``schemas.SCRAPED_LISTING_SCHEMA`` (27 columns).

The conform step is one column mapping (a single Project over the raw
frame); the three broadcast joins (J6-J8) and the final projection
follow it.

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
from ..functions.dates import remaining_lease
from ..operators.enrich import enrich
from ..plans.historical import SQM_TO_SQFT
from ..schemas import SCRAPED_LISTING_SCHEMA, project


def conform_srx(df: DataFrame, as_of_year: int) -> DataFrame:
    """Per-column cleanups as one column mapping. Columns derived from a
    cleaned column compose its expression."""
    post_code = F.regexp_extract(col("address"), r"\((\d+)\)", 1)
    description = strip_emoji_and_newlines(col("description"))
    floor_area_sqm = F.trim(F.split(col("size"), "sqm").getItem(0)).cast("int")
    floor = F.lower(col("floor_level"))
    return df.withColumns(
        {
            # 'CEA: R123456A / L3008022J' carries both licence numbers
            "agency_id": F.regexp_extract(col("agent_id"), r"(L\d{7}[A-Z])", 1),
            "agent_id": F.regexp_extract(col("agent_id"), r"(R\d{6}[A-Z])", 1),
            "agent_phone_num": F.split(col("agent_phone_num"), ":").getItem(1).cast("int"),
            "agent_name": strip_non_ascii(col("agent_name")),
            "post_code": post_code,
            "location": title_case_location(F.split(col("address"), " \\(").getItem(0)),
            "description": description,
            "facilities_num": facilities_count(col("facilities")),
            "furnish": furnishing_category(col("furnish"), "not furnished"),
            "price": money_to_int(col("price")),
            "price_psf": psf_to_int(col("psf")),
            "floor_area_sqm": floor_area_sqm,
            "total_floor_area": F.round(floor_area_sqm * SQM_TO_SQFT).cast("int"),
            "property_type": F.trim(F.split(col("property_type"), "HDB").getItem(1)),
            "floor": F.when(floor == "mid", "middle").otherwise(floor),
            "top": col("built_year"),
            "street_name": F.initcap(col("property_name")),
            "general_location": col("hdb_town"),
            "bedrooms": clean_bedrooms_expr(col("bedrooms")).cast("int"),
            "remaining_lease": remaining_lease(col("built_year"), as_of_year),
            "postal_sector": postal_sector(post_code),
            "additional_information": pack_additional_info(
                facilities=col("facilities"),
                schools=col("schools"),
                **{"shopping_malls/markets": col("shopping_mall/markets")},
                train_stations=col("train_stations"),
                description=description,
            ),
        }
    )


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
