"""Column-expression library (SURVEY.md §2.9-2.10).

Everything here returns pyspark ``Column`` expressions (JVM-side,
whole-stage-codegen friendly) — never row-at-a-time Python UDFs. The one
deliberate exception is ``bedrooms.clean_bedrooms_pandas_udf``, the
reference's UDF, kept as the parity reference of ``clean_bedrooms_expr``
(declared in tests/test_package_reach.py).
"""

from .cleaning import (
    facilities_count,
    furnishing_category,
    money_to_int,
    normalize_missing_strings,
    pack_additional_info,
    postal_sector,
    strip_block_prefix,
    strip_emoji_and_newlines,
    strip_non_ascii,
    title_case_location,
)
from .bedrooms import clean_bedrooms_expr, clean_bedrooms_pandas_udf
from .dates import month_string_to_date, remaining_lease

__all__ = [
    "facilities_count",
    "furnishing_category",
    "money_to_int",
    "normalize_missing_strings",
    "pack_additional_info",
    "postal_sector",
    "strip_block_prefix",
    "strip_emoji_and_newlines",
    "strip_non_ascii",
    "title_case_location",
    "clean_bedrooms_expr",
    "clean_bedrooms_pandas_udf",
    "month_string_to_date",
    "remaining_lease",
]
