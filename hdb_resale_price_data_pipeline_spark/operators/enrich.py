"""Dimension-enrichment join (SURVEY.md §2.5 J1-J8 genericized).

Every reference join is a broadcast left equi-join of a fact against a
tiny dimension via one shared helper (historical_data_transformation.py:
56-57). Ours keeps the explicit ``broadcast`` hint — at 100 TB the fact
side must never shuffle for a <10 KB dim. Callers shape the dim before
the join: a lower-cased key is a projection of the seed frame, and the
reference's one pre-join grain reduction (J2's
``.select('district', 'zone').distinct()``,
historical_data_transformation.py:103) is done on the driver instead
(``seeds.district_zone``), so no join plans an aggregate or a shuffle.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def enrich(fact: DataFrame, dim: DataFrame, on: str | Sequence[str] | Column) -> DataFrame:
    """Broadcast left join of ``fact`` against a small ``dim``."""
    return fact.join(F.broadcast(dim), on=on, how="left")
