"""Schema-pinned source readers (SURVEY.md §2.1)."""

from .readers import (
    read_historical_csv_dir,
    read_listing_json,
    read_raw_table,
    read_table,
)

__all__ = [
    "read_historical_csv_dir",
    "read_listing_json",
    "read_raw_table",
    "read_table",
]
