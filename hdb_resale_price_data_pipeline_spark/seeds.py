"""In-repo seed data for the five dimension tables.

The reference ships four of these as Spark-written parquet under
``/root/reference/data/`` (SURVEY.md §1.4); values transcribed in
FIXTURES.md §4. They are tiny (28/81/28/7 rows here) — always broadcast
in joins (historical_data_transformation.py:56-57). The fifth,
``district_zone`` (28 rows), is ``district_code`` at district grain:
the reference derives it per run with
``.select('district', 'zone').distinct()`` before its J2 join
(historical_data_transformation.py:103), a Spark aggregate with a
shuffle over a table whose answer the driver already holds, so here it
is built from ``_DISTRICT_SECTORS`` directly.

Each frame is an Arrow local relation (``operators.util.local_frame``),
so a broadcast of it reads rows the driver already holds. Built from
the Python lists through ``spark.createDataFrame`` instead, each of the
8 broadcast joins in one ``plans.runner.run_all`` planned a
``Scan ExistingRDD`` whose 4-task job unpickled the rows in Python
workers, 0.5-1.7 s a job on 4 cores (15-115 ms as a
``LocalTableScan``). On the daily-ETL benchmark (4 cores, 10 seeds)
the median ``run_all`` is 2.9 s this way against 5.0 s that way, the
saving falling inside the warehouse load action that runs the
broadcasts.
The frames are still rebuilt on each call; that costs milliseconds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .operators.util import local_frame
from .schemas import (
    AGENCY_SCHEMA,
    DISTRICT_CODE_SCHEMA,
    DISTRICT_REGION_SCHEMA,
    DISTRICT_ZONE_SCHEMA,
    TOWN_DISTRICT_SCHEMA,
)

# town → postal district (FIXTURES.md §4.1; reference data/town_district_table)
TOWN_DISTRICT_ROWS: list[tuple[str, int]] = [
    ("Geylang", 14),
    ("Jurong West", 22),
    ("Bukit Merah", 3),
    ("Bedok", 16),
    ("Woodlands", 25),
    ("Bukit Timah", 10),
    ("Queenstown", 3),
    ("Punggol", 19),
    ("Serangoon", 12),
    ("Clementi", 5),
    ("Marine Parade", 15),
    ("Sembawang", 27),
    ("Sengkang", 19),
    ("Kallang/Whampoa", 12),
    ("Ang Mo Kio", 20),
    ("Toa Payoh", 12),
    ("Tampines", 18),
    ("Central Area", 2),
    ("Jurong East", 22),
    ("Pasir Ris", 18),
    ("Yishun", 27),
    ("Bukit Batok", 23),
    ("Choa Chu Kang", 23),
    ("Bukit Panjang", 23),
    ("Hougang", 19),
    ("Bishan", 20),
    ("Lim Chu Kang", 24),
    ("Tengah", 24),
]

# district → market region (FIXTURES.md §4.2)
DISTRICT_REGION_ROWS: list[tuple[int, str]] = [
    (1, "CCR, RCR"),
    (2, "CCR, RCR"),
    (3, "RCR"),
    (4, "CCR, RCR"),
    (5, "RCR, OCR"),
    (6, "CCR, RCR"),
    (7, "CCR, RCR"),
    (8, "RCR"),
    (9, "CCR"),
    (10, "CCR"),
    (11, "CCR"),
    (12, "RCR"),
    (13, "RCR"),
    (14, "RCR, OCR"),
    (15, "RCR, OCR"),
    (16, "OCR"),
    (17, "OCR"),
    (18, "OCR"),
    (19, "OCR"),
    (20, "RCR, OCR"),
    (21, "OCR"),
    (22, "OCR"),
    (23, "OCR"),
    (24, "OCR"),
    (25, "OCR"),
    (26, "OCR"),
    (27, "OCR"),
    (28, "OCR"),
]

# district → postal sectors + zone (FIXTURES.md §4.3); expanded to one row
# per (district, sector).
_DISTRICT_SECTORS: list[tuple[int, list[str], str]] = [
    (1, ["01", "02", "03", "04", "05", "06"], "City"),
    (2, ["07", "08"], "City"),
    (3, ["14", "15", "16"], "South"),
    (4, ["09", "10"], "South"),
    (5, ["11", "12", "13"], "West"),
    (6, ["17"], "City"),
    (7, ["18", "19"], "City"),
    (8, ["20", "21"], "Central"),
    (9, ["22", "23"], "Central"),
    (10, ["24", "25", "26", "27"], "Central"),
    (11, ["28", "29", "30"], "Central"),
    (12, ["31", "32", "33"], "Central"),
    (13, ["34", "35", "36", "37"], "East"),
    (14, ["38", "39", "40", "41"], "East"),
    (15, ["42", "43", "44", "45"], "East"),
    (16, ["46", "47", "48"], "East"),
    (17, ["49", "50", "81"], "East"),
    (18, ["51", "52"], "East"),
    (19, ["53", "54", "55", "82"], "North"),
    (20, ["56", "57"], "North"),
    (21, ["58", "59"], "West"),
    (22, ["60", "61", "62", "63", "64"], "West"),
    (23, ["65", "66", "67", "68"], "West"),
    (24, ["69", "70", "71"], "West"),
    (25, ["72", "73"], "North"),
    (26, ["77", "78"], "North"),
    (27, ["75", "76"], "North"),
    (28, ["79", "80"], "North"),
]

DISTRICT_CODE_ROWS: list[tuple[int, str, str]] = [
    (district, sector, zone)
    for district, sectors, zone in _DISTRICT_SECTORS
    for sector in sectors
]

DISTRICT_ZONE_ROWS: list[tuple[int, str]] = [
    (district, zone) for district, _, zone in _DISTRICT_SECTORS
]

# CEA licence → agency (FIXTURES.md §4.4 gives representative rows; the
# full reference table has 57 — these cover the ids the fixtures emit).
AGENCY_ROWS: list[tuple[str, str]] = [
    ("PROPNEX REALTY PTE. LTD.", "L3008022J"),
    ("ORANGETEE & TIE PTE. LTD.", "L3009250K"),
    ("YES 21 PROPERTY AGENTS LLP", "L3010865E"),
    ("ZENITH REAL ESTATE SERVICES PTE. LTD.", "L3010572I"),
    ("ERA REALTY NETWORK PTE LTD", "L3002382K"),
    ("HUTTONS ASIA PTE. LTD.", "L3008899K"),
    ("SRI PTE. LTD.", "L3010738A"),
]


def town_district(spark: SparkSession) -> DataFrame:
    return local_frame(spark, TOWN_DISTRICT_ROWS, TOWN_DISTRICT_SCHEMA)


def district_region(spark: SparkSession) -> DataFrame:
    return local_frame(spark, DISTRICT_REGION_ROWS, DISTRICT_REGION_SCHEMA)


def district_code(spark: SparkSession) -> DataFrame:
    return local_frame(spark, DISTRICT_CODE_ROWS, DISTRICT_CODE_SCHEMA)


def district_zone(spark: SparkSession) -> DataFrame:
    return local_frame(spark, DISTRICT_ZONE_ROWS, DISTRICT_ZONE_SCHEMA)


def agency(spark: SparkSession) -> DataFrame:
    return local_frame(spark, AGENCY_ROWS, AGENCY_SCHEMA)

