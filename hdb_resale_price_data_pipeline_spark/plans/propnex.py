"""Propnex-listings pipeline (SURVEY.md §3.2).

Reference: jobs/spark/propnex_transformation.py:104-157. Raw scraped
listing JSON (25 string fields, FIXTURES.md §1) → conformed listing
projected onto ``schemas.SCRAPED_LISTING_SCHEMA`` (27 columns).

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
from ..functions.dates import LEASE_YEARS
from ..operators.enrich import enrich
from ..schemas import SCRAPED_LISTING_SCHEMA, project

PROPNEX_AGENCY = "PROPNEX REALTY PTE. LTD."
PROPNEX_AGENCY_ID = "L3008022J"


def conform_propnex(df: DataFrame, as_of_year: int) -> DataFrame:
    """Per-column cleanups (propnex_transformation.py:13-99) as one
    chained map stage."""
    df = (
        df.withColumn("agent_email", F.lower(col("agent_email")))
        .withColumn("agent_id", F.substring_index(col("agent_id"), "#", -1))
        .withColumn(
            "agent_phone_num", F.substring_index(col("agent_phone_num"), " ", -1).cast("int")
        )
        .withColumn("description", strip_emoji_and_newlines(col("description")))
        .withColumn(
            "floor_area_sqm",
            F.regexp_extract(col("floor_area_sqft"), r"\((\d+)\s*sqm\)", 1),
        )
        .withColumn("price", money_to_int(col("price")))
        .withColumn("price_psf", F.round(col("price") / col("total_floor_area")).cast("int"))
        .withColumn("furnish", furnishing_category(col("furnishing"), "unfurnished"))
        # 'street\ntown (D16)' → town; a bare '(D16)' second line means the
        # town was missing → NULL
        .withColumn(
            "general_location",
            F.split(F.split(col("street_town_district"), "\\n").getItem(1), " \\(").getItem(0),
        )
        .withColumn(
            "general_location",
            F.when(col("general_location").startswith("(D"), None).otherwise(
                col("general_location")
            ),
        )
        .withColumn("facilities_num", facilities_count(col("facilities")))
        .withColumn("location", title_case_location(col("location")))
        # a purely-numeric location (block number only) falls back to the
        # street name (propnex_transformation.py:53-54)
        .withColumn(
            "location",
            F.when(F.trim(col("location")).rlike(r"^\d+$"), F.initcap(col("street_name")))
            .otherwise(col("location")),
        )
        .withColumn("district", F.substring_index(col("district"), "D", -1).cast("int"))
        .withColumn("floor", F.lower(F.split(col("floor"), " ").getItem(0)))
        .withColumn("street_name", F.initcap(col("street_name")))
        # agency derived from the agent email domain (propnex has no
        # scraped agency column, propnex_transformation.py:65-69)
        .withColumn(
            "agency",
            F.when(col("agent_email").contains("propnex.com"), PROPNEX_AGENCY).otherwise(None),
        )
        .withColumn(
            "agency_id",
            F.when(col("agency") == PROPNEX_AGENCY, PROPNEX_AGENCY_ID).otherwise(None),
        )
        .withColumn(
            "remaining_lease", LEASE_YEARS - (F.lit(as_of_year) - col("top")).cast("int")
        )
        .withColumn(
            "additional_information",
            pack_additional_info(
                agent_email=col("agent_email"),
                facilities=col("facilities"),
                description=col("description"),
            ),
        )
        .withColumn("postal_sector", postal_sector(col("post_code")))
    )
    return df


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
    # propnex never scrapes these; conformed layout still carries them
    df = df.withColumn("property_type", F.lit(None).cast("string")).withColumn(
        "model", F.lit(None).cast("string")
    )
    df = df.withColumn("bedrooms", col("num_bedroom")).withColumn(
        "bathrooms", col("num_bathroom")
    )
    df = normalize_missing_strings(df)
    return project(df, SCRAPED_LISTING_SCHEMA)
