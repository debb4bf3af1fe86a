"""String/regex/array cleaning expressions (SURVEY.md §2.9 X1-X10, Y1-Y2,
N1-N2).

Each function takes and returns ``Column`` so callers compose them inside
one column mapping: each daily plan's conform step is a single
``DataFrame.withColumns``, one Project that Catalyst's CollapseProject
folds with the plan's final projection, keeping the pipeline a
shuffle-free map stage.

Semantics mirror the reference exactly; citations point at the defining
lines in /root/reference.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Emoji + symbol blocks stripped from free-text descriptions
# (propnex_transformation.py:18, srx_transformation.py:33).
EMOJI_PATTERN = (
    "[\U0001f1e0-\U0001f1ff\U0001f300-\U0001f5ff\U0001f600-\U0001f64f"
    "\U0001f680-\U0001f6ff\U0001f700-\U0001f77f\U0001f780-\U0001f7ff"
    "\U0001f800-\U0001f8ff\U0001f900-\U0001f9ff\U0001fa70-\U0001faff"
    "\U00002700-\U000027bf]+"
)

# Scrapers emit the string 'None' or '' for missing values
# (FIXTURES.md; propnex_selenium.py:38,72).
MISSING_STRING_TOKENS = ["None", ""]


def normalize_missing_strings(df: DataFrame) -> DataFrame:
    """Map literal 'None'/'' strings in every string column to real NULLs
    (F6; propnex_transformation.py:113,138)."""
    return df.na.replace(MISSING_STRING_TOKENS, None)


def strip_emoji_and_newlines(c: Column) -> Column:
    """Free-text conform (X4; propnex_transformation.py:18-20)."""
    return F.trim(F.regexp_replace(F.regexp_replace(c, EMOJI_PATTERN, ""), "\n", " "))


def strip_non_ascii(c: Column) -> Column:
    """Agent-name conform (X4; srx_transformation.py:17)."""
    return F.trim(F.regexp_replace(c, r"[^\x00-\x7F]+", ""))


def money_to_int(c: Column) -> Column:
    """``'$550,000'`` → 550000 (X4; propnex_transformation.py:26,
    srx_transformation.py:48)."""
    return F.regexp_replace(c, r"[$,]", "").cast("int")


def psf_to_int(c: Column) -> Column:
    """``'$512 psf'`` → 512 (X5; srx_transformation.py:49)."""
    return F.regexp_replace(F.regexp_extract(c, r"\$?([\d,]+)\s*psf", 1), ",", "").cast("int")


def furnishing_category(c: Column, unfurnished_token: str) -> Column:
    """Map furnishing text to partial/full/unfurnished (F3;
    propnex_transformation.py:30-33 uses 'unfurnished' as the raw token,
    srx_transformation.py:42-45 uses 'not furnished')."""
    lowered = F.lower(c)
    return (
        F.when(lowered == "partially furnished", "partial")
        .when(lowered == "fully furnished", "full")
        .when(lowered == unfurnished_token, "unfurnished")
        .otherwise(c)
    )


def facilities_count(c: Column) -> Column:
    """Comma-separated facilities list → count (Y1; propnex_transformation.py:40-42)."""
    return F.when(c.isNull(), F.lit(None)).otherwise(F.size(F.split(c, ",")))


def strip_block_prefix(c: Column) -> Column:
    """Drop leading ``Blk``/``Block`` (X4; propnex_transformation.py:46)."""
    return F.regexp_replace(c, r"^(Blk\s+|Block\s+)", "")


def title_case_location(c: Column) -> Column:
    """Re-case a street address: initcap, strip Blk/Block, and re-upper
    the leading token when it starts with a digit (``123a Bedok`` →
    ``123A Bedok``) (propnex_transformation.py:44-54,
    srx_transformation.py:23-31).

    The reference materializes helper columns ``location_1``/``location_2``
    and drops them later; ours is a single composed expression.
    """
    cased = strip_block_prefix(F.initcap(c))
    tokens = F.split(cased, " ")
    head = tokens.getItem(0)
    tail = F.concat_ws(" ", F.slice(tokens, 2, F.size(tokens)))
    return F.concat_ws(
        " ",
        F.when(head.rlike(r"^\d"), F.upper(head)).otherwise(head),
        tail,
    )


def postal_sector(post_code: Column) -> Column:
    """First two digits of a Singapore postcode (X6;
    propnex_transformation.py:74-75)."""
    return F.substring(post_code, 1, 2)


def pack_additional_info(**fields: Column) -> Column:
    """Pack ragged extra fields into one JSON-string column, nulls
    defaulted to 'N/A' (N1/N2; propnex_transformation.py:80-90,
    srx_transformation.py:94-106)."""
    return F.to_json(
        F.struct(*[F.coalesce(c, F.lit("N/A")).alias(name) for name, c in fields.items()])
    )
