"""Date expressions (SURVEY.md §2.9 D1-D3).

The reference bakes the driver's wall clock into the plan
(``datetime.datetime.today()`` at propnex_transformation.py:72,
merge_dedup.py:32) — same input run on different days gives different
output (SURVEY.md §4 hazard 2). Ours threads an explicit ``as_of`` date
through every derivation; callers that genuinely want "now" pass
``datetime.date.today()`` at the edge.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

LEASE_YEARS = 99  # HDB leases are 99 years


def month_string_to_date(month: Column) -> Column:
    """``'2017-03'`` → DATE 2017-03-01 (D1;
    historical_data_transformation.py:48-49)."""
    return F.to_date(F.concat_ws("-", month, F.lit("01")), "yyyy-MM-dd")


def remaining_lease(top: Column, as_of_year: Column | int) -> Column:
    """99 − (year − top) (M2; historical_data_transformation.py:53-54,
    propnex_transformation.py:72): the one lease rule of the daily plans,
    with the sale year for historical rows and the injected
    ``as_of_year`` for propnex and srx listings."""
    year = F.lit(as_of_year) if isinstance(as_of_year, int) else as_of_year
    return LEASE_YEARS - (year - top).cast("int")

