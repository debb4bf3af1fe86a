"""The benchmark's workloads: closed loop, one client, one op at a time.

Each workload generates its inputs from the seed in ``setup``, runs op
``i`` in ``op`` (ops ``0 .. warmup_ops-1`` are the warm-up), and checks
the answers in ``check`` after the timed loop, outside every timed
region. ``check`` returns the ops whose answer was wrong, with a reason.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math
import os
import random
from contextlib import nullcontext

from datagen import write_historical, write_listing_days, write_tables

PACKAGE = "hdb_resale_price_data_pipeline_spark"


class EtlDaily:
    """One op = one ``plans.runner.run_all`` for the next ``as_of`` day:
    the historical CSV set plus that day's propnex and srx listings,
    loaded into two day-partitioned tables of one warehouse that
    persists across the run. Stresses ``sources.readers``, ``seeds``,
    ``plans`` and ``sources.warehouse``; bypasses ``queries``.

    The warm-up op and the first timed op both load day 0, so the row
    counts checked after the run also prove the daily load idempotent
    (every op re-loads the whole historical table as well)."""

    name = "etl_daily"
    HISTORICAL_ROWS = 2_000
    LISTINGS_PER_DAY = 1_000
    DISTINCT_DAYS = 8  # day d loads listing set d % 8 under its own date
    FIRST_DAY = datetime.date(2025, 6, 1)
    warmup_ops = 1
    warmup_threads = 1
    min_timed_ops = 2
    round_ops = 1

    def __init__(self, spark, workdir: str, seed: int, tracer=None) -> None:
        self.spark = spark
        self.workdir = workdir
        self.seed = seed
        self.warehouse = os.path.join(workdir, "warehouse")

    def setup(self) -> None:
        raw = os.path.join(self.workdir, "raw")
        self.csv_dir, self.historical_rows, self.historical_bytes = write_historical(
            raw, self.seed, self.HISTORICAL_ROWS
        )
        self.days = write_listing_days(
            os.path.join(raw, "listings"), self.seed, self.LISTINGS_PER_DAY, self.DISTINCT_DAYS
        )

    def _day(self, i: int) -> int:
        """Day loaded by op ``i``: day 0 twice, then one new day per op."""
        return max(0, i - self.warmup_ops)

    def _as_of(self, day: int) -> datetime.date:
        return self.FIRST_DAY + datetime.timedelta(days=day)

    def _input(self, day: int):
        return self.days[day % len(self.days)]

    def op(self, i: int) -> None:
        from hdb_resale_price_data_pipeline_spark.plans.runner import run_all

        day = self._day(i)
        run_all(
            self.spark,
            self.csv_dir,
            self._input(day).propnex_json,
            self._input(day).srx_json,
            self.warehouse,
            as_of=self._as_of(day),
        )

    def writes_since(self, i: int, since_epoch_s: float) -> dict[str, float]:
        """Warehouse files and bytes op ``i`` wrote, against the bytes of
        input it read (traced run only; walked after the op)."""
        files = size = 0
        for root, _, names in os.walk(self.warehouse):
            for n in names:
                if n.startswith("part-"):
                    st = os.stat(os.path.join(root, n))
                    if st.st_mtime >= since_epoch_s:
                        files += 1
                        size += st.st_size
        return {
            "files_written": files,
            "bytes_written": size,
            "bytes_read": self.historical_bytes + self._input(self._day(i)).input_bytes,
        }

    def check(self, ops: list[int]) -> dict[int, str]:
        scraped = self.spark.read.parquet(f"{self.warehouse}/scraped_data")
        per_day = {
            r["transformed_date"]: r["count"]
            for r in scraped.groupBy("transformed_date").count().collect()
        }
        historical = self.spark.read.parquet(f"{self.warehouse}/historical_data").count()
        bad: dict[int, str] = {}
        for i in ops:
            as_of = self._as_of(self._day(i))
            want = self._input(self._day(i)).expected_rows
            if per_day.get(as_of, 0) != want:
                bad[i] = f"scraped_data {as_of}: {per_day.get(as_of, 0)} rows, expected {want}"
            elif historical != self.historical_rows:
                bad[i] = f"historical_data: {historical} rows, expected {self.historical_rows}"
        loaded = {self._as_of(self._day(i)) for i in ops}
        if set(per_day) != loaded:
            bad.setdefault(ops[-1], f"scraped_data holds days {sorted(set(per_day) - loaded)} never loaded")
        return bad

    def install_tracing(self, tracer) -> None:
        from hdb_resale_price_data_pipeline_spark import seeds
        from hdb_resale_price_data_pipeline_spark.plans import runner

        for attr in ("read_historical_csv_dir", "read_listing_json"):
            tracer.wrap(runner, attr, "sources.readers")
        tracer.wrap(runner, "load_day_partitioned", "sources.warehouse.load")
        for attr in (
            "historical_pipeline",
            "propnex_pipeline",
            "srx_pipeline",
            "merge_dedup_pipeline",
        ):
            tracer.wrap(runner, attr, "plans.build")
        for attr in ("town_district", "district_code", "district_region", "agency"):
            tracer.wrap(seeds, attr, "seeds")

    def traced_extra(self, tracer) -> dict[str, str]:
        return {}


# --- query mix -----------------------------------------------------------------


def _canon(value) -> str:
    """One cell as a sortable string that both engines' results agree
    on: floats to 9 significant digits and kept distinct from integers,
    NULL and NaN as one marker."""
    import numpy as np
    import pandas as pd

    if value is None or value is pd.NaT or value is pd.NA:
        return "\x00NULL"
    if isinstance(value, (float, np.floating)):
        v = float(value)
        if math.isnan(v):
            return "\x00NULL"
        s = f"{v + 0.0:.9g}"
        return s if any(c in s for c in ".en") else s + ".0"
    if isinstance(value, decimal.Decimal):
        return _canon(float(value))
    if isinstance(value, (bytes, bytearray)):
        return value.hex()
    return str(value)


def result_digest(pdf) -> tuple[int, str]:
    """(row count, order-insensitive hash of columns and rows)."""
    cols = sorted(pdf.columns)
    rows = sorted(
        tuple(_canon(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    return len(rows), hashlib.sha256(repr((cols, rows)).encode()).hexdigest()


ORDER_SEED = 0  # the one interleaving every run times


class QueryMix:
    """One op = one query at sf0.01, its result fetched to the client
    (``toPandas``), taken round-robin from a fixed interleaving of the
    mix. The check hashes the result each query's last op fetched, so it
    verifies the timed executions themselves. Read-only: stresses
    ``queries.*``, ``sources.read_table`` and the ``IndexCache`` hit path
    of the three cached queries, whose artifacts the warm-up pass
    builds; bypasses ``plans`` and the warehouse.

    The seed draws the tables, not the order: a query's latency depends
    on the query before it, and with a seeded order the median of one
    pass moved by a third between seeds."""

    name = "query_mix"
    SCALE = 0.01
    UNCACHED = (
        "pricing_summary",
        "avg_revenue_by_region_year",
        "shipping_priority_top10",
        "segment_set_ops",
        "customer_windows",
        "dim_distinct_then_join",
        "join_size_profile",
        "q8_market_share",
        "q9_product_profit",
        "events_sessionize",
        "events_range_join",
        "events_hll_users",
        "events_json_props",
        "dedup_exact",
        "text_c4_filter",
        "emb_cosine_topk",
    )
    CACHED = ("dedup_minhash_lsh", "stream_attribution_outer", "text_bpe_learn")
    MODULES = ("relational", "events", "text", "similarity", "dedup", "extensions", "tpch_extra")
    DISCOVERERS = ("fd", "ind", "ucc", "od")
    warmup_ops = len(UNCACHED) + len(CACHED)  # one pass
    warmup_threads = 4  # the pass is JIT- and build-bound; overlap it
    min_timed_ops = round_ops = warmup_ops  # whole passes: every run times the same mix

    def __init__(self, spark, workdir: str, seed: int, tracer=None) -> None:
        self.spark = spark
        self.sf_dir = os.path.join(workdir, "tables")
        self.seed = seed
        self._span = tracer.span if tracer is not None else (lambda name: nullcontext())

    def setup(self) -> None:
        from hdb_resale_price_data_pipeline_spark.queries import local_queries

        write_tables(self.sf_dir, self.seed, self.SCALE)
        registry = local_queries()
        self.order = list(self.UNCACHED + self.CACHED)
        random.Random(ORDER_SEED).shuffle(self.order)
        self.specs = {n: registry[n] for n in self.order}
        self.results = {}

    def query_of(self, i: int) -> str:
        return self.order[i % len(self.order)]

    def op(self, i: int) -> None:
        spec = self.specs[self.query_of(i)]
        layer = "queries." + spec.fn.__module__.rsplit(".", 1)[1]
        with self._span(layer + ".plan"):
            df = spec.fn(self.spark, self.sf_dir)
        with self._span(layer + ".exec"):
            self.results[self.query_of(i)] = df.toPandas()

    def _duckdb(self):
        import duckdb

        from datagen import TABLES

        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        return con

    def check(self, ops: list[int]) -> dict[int, str]:
        """Each query's last fetched result against its DuckDB oracle."""
        con = self._duckdb()
        wrong = {}
        for name, spec in self.specs.items():
            if name not in self.results:
                wrong[name] = f"{name}: no op returned a result"
                continue
            got = result_digest(self.results[name])
            want = result_digest(con.execute(spec.oracle).fetchdf())
            if got != want:
                wrong[name] = f"{name}: {got[0]} rows vs oracle {want[0]}, digests differ"
        con.close()
        return {i: wrong[self.query_of(i)] for i in ops if self.query_of(i) in wrong}

    def install_tracing(self, tracer) -> None:
        from hdb_resale_price_data_pipeline_spark.operators.index_cache import IndexCache
        from hdb_resale_price_data_pipeline_spark.queries import profiling
        from hdb_resale_price_data_pipeline_spark.sources import read_table

        tracer.wrap_call_sites(read_table, "sources.readers", PACKAGE)
        tracer.count_calls(
            IndexCache, "get", lambda v: "index_cache.hits" if v is not None else "index_cache.misses"
        )
        tracer.count_calls(IndexCache, "put", lambda v: "index_cache.puts")
        for d in self.DISCOVERERS:
            tracer.wrap(profiling, f"q_dq_{d}_discover", f"queries.profiling.{d}")

    def traced_extra(self, tracer) -> dict[str, str]:
        """One cold build of ``dq_profile_report`` after the timed loop:
        the build path of the cache layer whose hit path the mix uses.
        Spans carry its time; returns a wrong-answer reason if the build
        differs from its DuckDB oracle."""
        from hdb_resale_price_data_pipeline_spark.queries import local_queries, profiling

        spec = local_queries()["dq_profile_report"]
        tracer.phase = "profile"
        profiling.clear_profile_caches()
        with tracer.span("queries.profiling.build"):
            pdf = spec.fn(self.spark, self.sf_dir).toPandas()
        tracer.phase = "check"
        con = self._duckdb()
        want = result_digest(con.execute(spec.oracle).fetchdf())
        con.close()
        if result_digest(pdf) != want:
            return {"dq_profile_report": "cold build differs from its oracle"}
        return {}


WORKLOADS = {w.name: w for w in (EtlDaily, QueryMix)}
