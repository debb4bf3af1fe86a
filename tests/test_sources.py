"""Source/sink tests: multi-vintage CSV folds, API fetch stub and the
day-partitioned warehouse load."""

from __future__ import annotations

import os

import pytest

from conftest import TEST_SF_DIR
from hdb_resale_price_data_pipeline_spark.sources import read_table
from hdb_resale_price_data_pipeline_spark.sources.api import (
    download_collection,
    list_dataset_ids,
)
from hdb_resale_price_data_pipeline_spark.sources.readers import (
    read_historical_csv_dir,
)
from hdb_resale_price_data_pipeline_spark.sources.warehouse import (
    load_day_partitioned,
)


def _write_reordered_vintages(d) -> str:
    """Two CSV vintages in directory ``d``, the second with REORDERED
    columns and an extra one."""
    d.mkdir(exist_ok=True)
    (d / "a.csv").write_text(
        "month,town,flat_type,block,street_name,storey_range,floor_area_sqm,flat_model,lease_commence_date,resale_price\n"
        "2017-03,BEDOK,4 ROOM,123,BEDOK NORTH ROAD,07 TO 09,93,New Generation,1985,550000\n"
    )
    (d / "b.csv").write_text(  # resale_price first, extra column at the end
        "resale_price,month,town,flat_type,block,street_name,storey_range,floor_area_sqm,flat_model,lease_commence_date,remaining_lease\n"
        "650000,2020-06,ANG MO KIO,5 ROOM,302,ANG MO KIO AVE 3,01 TO 03,110,Improved,1992,71 years\n"
    )
    return str(d)


@pytest.mark.core
def test_csv_fold_handles_reordered_vintage(spark, tmp_path):
    """A vintage with REORDERED columns must still conform by name."""
    df = read_historical_csv_dir(spark, _write_reordered_vintages(tmp_path))
    rows = {r.town: r for r in df.collect()}
    assert rows["BEDOK"].resale_price == "550000"
    assert rows["ANG MO KIO"].resale_price == "650000"  # by name, not position
    assert "remaining_lease" not in df.columns


def test_api_source_with_fake_fetcher(tmp_path):
    calls = []

    def fetch_json(url):
        calls.append(url)
        if "collections" in url:
            return {"data": {"collectionMetadata": {"childDatasets": ["d_1", "d_2"]}}}
        if "initiate-download" in url:
            return {"data": {"message": "initiated"}}
        return {"data": {"url": f"https://files.example/{url.split('/')[-2]}.csv"}}

    def fetch_bytes(url):
        return f"month,town\n2020-01,{url}".encode()

    paths = download_collection("189", str(tmp_path), fetch_json, fetch_bytes)
    assert [os.path.basename(p) for p in paths] == ["d_1.csv", "d_2.csv"]
    assert all(os.path.getsize(p) > 0 for p in paths)
    assert list_dataset_ids("189", fetch_json) == ["d_1", "d_2"]


def test_day_partitioned_load_is_incremental_and_idempotent(spark, tmp_path):
    """K2 append semantics (reference dags/pipeline.py:239-247): loading
    day 2 after day 1 keeps day 1; RE-loading day 2 (retry/backfill)
    replaces that partition only — no duplicates, day 1 untouched."""
    path = str(tmp_path / "wh")
    day1 = spark.createDataFrame([("2024-11-01", "a", 1), ("2024-11-01", "b", 2)], "d string, k string, v int")
    day2 = spark.createDataFrame([("2024-11-02", "c", 3)], "d string, k string, v int")
    load_day_partitioned(day1, path, "d")
    load_day_partitioned(day2, path, "d")
    assert spark.read.parquet(path).count() == 3

    day2_retry = spark.createDataFrame(
        [("2024-11-02", "c", 30), ("2024-11-02", "e", 31)], "d string, k string, v int"
    )
    load_day_partitioned(day2_retry, path, "d")
    got = sorted(
        tuple(r)
        for r in spark.read.parquet(path)
        .selectExpr("cast(d as string) d", "k", "v")  # partition col reads back date-typed
        .collect()
    )
    assert got == [
        ("2024-11-01", "a", 1),
        ("2024-11-01", "b", 2),
        ("2024-11-02", "c", 30),
        ("2024-11-02", "e", 31),
    ]


def test_sink_roundtrips(spark, tmp_path):
    """CSV/JSON/ORC sink → read round-trips preserve values (parquet is
    exercised everywhere else)."""
    src = (
        read_table(spark, TEST_SF_DIR, "nation")
        .selectExpr("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
    )
    want = [tuple(r) for r in src.collect()]

    csv_path = str(tmp_path / "nation_csv")
    src.write.mode("overwrite").option("header", True).csv(csv_path)
    got_csv = spark.read.option("header", True).option("inferSchema", True).csv(csv_path)
    assert sorted(tuple(r) for r in got_csv.collect()) == sorted(want)

    json_path = str(tmp_path / "nation_json")
    src.write.mode("overwrite").json(json_path)
    got_json = spark.read.json(json_path).select("n_nationkey", "n_name", "n_regionkey")
    assert sorted(tuple(r) for r in got_json.collect()) == sorted(want)

    orc_path = str(tmp_path / "nation_orc")
    src.write.mode("overwrite").orc(orc_path)
    got_orc = spark.read.orc(orc_path)
    assert sorted(tuple(r) for r in got_orc.collect()) == sorted(want)


class TestSparkConnectFallbacks:
    """The two py4j-gateway touchpoints must work when the gateway is
    absent (Spark Connect client): header peek via a pure-API one-row
    text read, package shipping via the artifact API."""

    class _NoGatewaySession:
        """Proxy that hides the classic-session JVM surface: attribute
        access mimics a Spark Connect client session (no ``_jvm``, no
        ``sparkContext``), everything else delegates."""

        def __init__(self, real, artifact_log):
            self._real = real
            self._artifact_log = artifact_log

        def addArtifacts(self, *paths, pyfile=False):
            self._artifact_log.append((paths, pyfile))

        def __getattr__(self, name):
            if name in ("_jvm", "_jsc", "sparkContext"):
                raise AttributeError(name)
            return getattr(self._real, name)

    def test_header_peek_without_gateway_matches_jvm_path(self, spark, tmp_path):
        import fixtures

        from hdb_resale_price_data_pipeline_spark.sources.readers import (
            _csv_headers,
        )

        def by_name(headers):
            return [
                (h, [os.path.basename(f) for f in files])
                for h, files in headers.items()
            ]

        for csv_dir in (
            fixtures.write_historical_csvs(str(tmp_path)),
            _write_reordered_vintages(tmp_path / "reordered"),
        ):
            jvm_cols = by_name(_csv_headers(spark, csv_dir))
            no_gw_cols = by_name(
                _csv_headers(self._NoGatewaySession(spark, []), csv_dir)
            )
            assert no_gw_cols == jvm_cols and len(jvm_cols) > 0

    def test_csv_pipeline_without_gateway(self, spark, tmp_path):
        import fixtures

        for csv_dir in (
            fixtures.write_historical_csvs(str(tmp_path)),
            _write_reordered_vintages(tmp_path / "reordered"),
        ):
            expected = read_historical_csv_dir(spark, csv_dir)
            got = read_historical_csv_dir(self._NoGatewaySession(spark, []), csv_dir)
            assert got.columns == expected.columns
            assert sorted(map(tuple, got.collect())) == sorted(
                map(tuple, expected.collect())
            )

    def test_shipping_uses_artifact_api_without_gateway(self, spark):
        from hdb_resale_price_data_pipeline_spark import shipping

        log = []
        proxy = self._NoGatewaySession(spark, log)
        shipping.ensure_package_shipped(proxy)
        assert len(log) == 1
        (paths, pyfile) = log[0]
        assert pyfile is True and paths[0].endswith(".zip")
        # idempotent per session object
        shipping.ensure_package_shipped(proxy)
        assert len(log) == 1


def test_warehouse_schema_evolution_mergeschema(spark, tmp_path):
    """A later daily load adds a column: a ``mergeSchema`` read must
    surface the union schema, with pre-evolution partitions NULL in the
    new column — and the new column must not be silently hidden (the
    default read samples one footer, so which vintage wins is
    nondeterministic; mergeSchema removes the ambiguity)."""
    import datetime

    from pyspark.sql import functions as F

    def read_merged(spark, path):
        return spark.read.option("mergeSchema", "true").parquet(path)

    path = str(tmp_path / "wh")
    d1, d2 = datetime.date(2025, 6, 1), datetime.date(2025, 6, 2)
    day1 = spark.createDataFrame([(1, "a", d1), (2, "b", d1)], "id long, v string, d date")
    load_day_partitioned(day1, path, "d")
    day2 = spark.createDataFrame(
        [(3, "c", 9.5, d2)], "id long, v string, score double, d date"
    )
    load_day_partitioned(day2, path, "d")

    got = read_merged(spark, path)
    assert set(got.columns) == {"id", "v", "score", "d"}
    rows = {r.id: r for r in got.collect()}
    assert len(rows) == 3
    assert rows[1].score is None and rows[2].score is None  # old vintage
    assert rows[3].score == 9.5
    # evolution is append-only here; the idempotent re-load of day 1
    # (no score column) must still not disturb day 2
    load_day_partitioned(day1, path, "d")
    assert read_merged(spark, path).filter(F.col("score").isNotNull()).count() == 1


def test_corrupt_file_fails_loudly_by_default(spark, tmp_path):
    """A truncated/garbage parquet part must fail the read ACTION with
    an error (silent row loss is the worst outcome for a training
    corpus); the documented escape hatch is ignoreCorruptFiles=true,
    which skips the bad file and keeps every intact row."""
    import pytest as _pytest

    path = str(tmp_path / "tbl")
    spark.range(100).withColumnRenamed("id", "doc_id").write.parquet(path)
    with open(f"{path}/part-corrupt-00099.snappy.parquet", "wb") as fh:
        fh.write(b"PAR1 this is not a real parquet footer")

    with _pytest.raises(Exception) as exc:
        spark.read.parquet(path).count()
    assert "parquet" in str(exc.value).lower() or "footer" in str(exc.value).lower()

    prev = spark.conf.get("spark.sql.files.ignoreCorruptFiles", "false")
    try:
        spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
        assert spark.read.parquet(path).count() == 100
    finally:
        spark.conf.set("spark.sql.files.ignoreCorruptFiles", prev)
