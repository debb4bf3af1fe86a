"""Propnex-listings pipeline (SURVEY.md §3.2).

Reference: jobs/spark/propnex_transformation.py:104-157. Raw scraped
listing JSON (25 string fields, FIXTURES.md §1) → conformed listing
projected onto ``schemas.SCRAPED_LISTING_SCHEMA`` (27 columns).

The conform step is one column mapping (a single Project over the raw
frame), the never-scraped ``property_type``/``model`` NULLs and the
``bedrooms``/``bathrooms`` copies included; the two broadcast joins
(J4-J5) and the final projection follow it.

Deviation: the driver-clock ``datetime.today().year`` baked into
remaining_lease (propnex_transformation.py:72) is replaced by an
injected ``as_of_year`` (SURVEY.md §4 hazard 2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import col

from ..functions.cleaning import (
    facilities_count,
    furnishing_category,
    money_to_int,
    normalize_missing_strings,
    pack_additional_info,
    postal_sector,
    strip_emoji_and_newlines,
    title_case_location,
)
from ..functions.dates import remaining_lease
from ..operators.enrich import enrich
from ..schemas import SCRAPED_LISTING_SCHEMA, project

PROPNEX_AGENCY = "PROPNEX REALTY PTE. LTD."
PROPNEX_AGENCY_ID = "L3008022J"


def conform_propnex(df: DataFrame, as_of_year: int) -> DataFrame:
    """Per-column cleanups (propnex_transformation.py:13-99) as one
    column mapping. Columns derived from a cleaned column compose its
    expression."""
    agent_email = F.lower(col("agent_email"))
    description = strip_emoji_and_newlines(col("description"))
    price = money_to_int(col("price"))
    # 'street\ntown (D16)' → town; a bare '(D16)' second line means the
    # town was missing → NULL
    town = F.split(F.split(col("street_town_district"), "\\n").getItem(1), " \\(").getItem(0)
    cased = title_case_location(col("location"))
    # a purely-numeric location (block number only) falls back to the
    # street name (propnex_transformation.py:53-54)
    location = F.when(
        F.trim(cased).rlike(r"^\d+$"), F.initcap(col("street_name"))
    ).otherwise(cased)
    # agency derived from the agent email domain (propnex has no
    # scraped agency column, propnex_transformation.py:65-69)
    agency = F.when(agent_email.contains("propnex.com"), PROPNEX_AGENCY).otherwise(None)
    return df.withColumns(
        {
            "agent_email": agent_email,
            "agent_id": F.substring_index(col("agent_id"), "#", -1),
            "agent_phone_num": F.substring_index(col("agent_phone_num"), " ", -1).cast("int"),
            "description": description,
            "floor_area_sqm": F.regexp_extract(col("floor_area_sqft"), r"\((\d+)\s*sqm\)", 1),
            "price": price,
            "price_psf": F.round(price / col("total_floor_area")).cast("int"),
            "furnish": furnishing_category(col("furnishing"), "unfurnished"),
            "general_location": F.when(town.startswith("(D"), None).otherwise(town),
            "facilities_num": facilities_count(col("facilities")),
            "location": location,
            "district": F.substring_index(col("district"), "D", -1).cast("int"),
            "floor": F.lower(F.split(col("floor"), " ").getItem(0)),
            "street_name": F.initcap(col("street_name")),
            "agency": agency,
            "agency_id": F.when(agency == PROPNEX_AGENCY, PROPNEX_AGENCY_ID).otherwise(None),
            "remaining_lease": remaining_lease(col("top"), as_of_year),
            "additional_information": pack_additional_info(
                agent_email=agent_email,
                facilities=col("facilities"),
                description=description,
            ),
            "postal_sector": postal_sector(col("post_code")),
            # propnex never scrapes these; the conformed layout carries them
            "property_type": F.lit(None).cast("string"),
            "model": F.lit(None).cast("string"),
            "bedrooms": col("num_bedroom"),
            "bathrooms": col("num_bathroom"),
        }
    )


def propnex_pipeline(
    raw: DataFrame,
    district_code: DataFrame,
    district_region: DataFrame,
    as_of_year: int,
) -> DataFrame:
    df = normalize_missing_strings(raw)
    df = conform_propnex(df, as_of_year)
    # postal-sector join overwrites the scraped district (J4-J5,
    # propnex_transformation.py:128-132)
    df = enrich(df.drop("district"), district_code, on="postal_sector")
    df = enrich(df, district_region, on="district")
    df = normalize_missing_strings(df)
    return project(df, SCRAPED_LISTING_SCHEMA)
