"""Source/sink tests: multi-vintage CSV folds, API fetch stub, bucketed
and partitioned warehouse layouts (with their plan-level payoffs)."""

from __future__ import annotations

import os
import re

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
    bucketed_join,
    load_day_partitioned,
    write_bucketed,
    write_partitioned,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


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


def test_partitioned_write_prunes_on_read(spark, tmp_path):
    ev = read_table(spark, TEST_SF_DIR, "events").selectExpr(
        "event_id", "event_type", "value"
    )
    path = str(tmp_path / "events_by_type")
    write_partitioned(ev, path, ["event_type"])
    back = spark.read.parquet(path).filter("event_type = 'click'")
    plan = _plan(back)
    assert re.search(r"PartitionFilters: \[.*event_type.*\]", plan)
    assert back.count() == ev.filter("event_type = 'click'").count()


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


def test_bucketed_join_avoids_shuffle(spark):
    """orders ⋈ lineitem bucketed on the key: no Exchange in the join."""
    import shutil

    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")
    # a previous session's managed-table dirs survive the in-memory
    # catalog; saveAsTable refuses to reuse the location
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("orders_b", "lineitem_b"):
        shutil.rmtree(os.path.join(warehouse, t), ignore_errors=True)
    orders = read_table(spark, TEST_SF_DIR, "orders").withColumnRenamed(
        "o_orderkey", "okey"
    )
    li = read_table(spark, TEST_SF_DIR, "lineitem").selectExpr(
        "l_orderkey AS okey", "l_extendedprice", "l_discount"
    )
    write_bucketed(orders, "orders_b", "okey", n_buckets=8)
    write_bucketed(li, "lineitem_b", "okey", n_buckets=8)
    joined = bucketed_join(spark, "orders_b", "lineitem_b", on="okey")
    plan = _plan(joined)
    assert "Exchange hashpartitioning" not in plan  # co-located, no shuffle
    assert joined.count() == li.count()


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


def test_compaction_hits_file_size_target(spark, tmp_path):
    """A fragmented table (64 tiny files) compacts to few near-target
    files; a smaller target yields proportionally more files; rows and
    values survive the rewrite."""
    from hdb_resale_price_data_pipeline_spark.sources.compaction import (
        compact_parquet,
    )

    frag = str(tmp_path / "fragmented")
    docs = read_table(spark, TEST_SF_DIR, "documents")
    docs.repartition(64).write.parquet(frag)

    big = compact_parquet(
        spark, frag, str(tmp_path / "big"), target_file_bytes=64 << 20
    )
    assert big.in_files == 64
    assert big.out_files <= 2  # whole table well under one 64MB target
    assert (
        spark.read.parquet(str(tmp_path / "big")).count() == docs.count()
    )

    small = compact_parquet(
        spark, frag, str(tmp_path / "small"),
        target_file_bytes=16 << 10, inflation=2.0,
    )
    assert big.out_files < small.out_files < 64

    got = spark.read.parquet(str(tmp_path / "small"))
    assert sorted(r.doc_id for r in got.select("doc_id").collect()) == sorted(
        r.doc_id for r in docs.select("doc_id").collect()
    )


def test_compaction_partitioned_defragments_each_partition(spark, tmp_path):
    """Partition-aware compaction: each lang directory collapses from
    task×partition slivers to a handful of files, partition pruning
    still works on the result."""
    from hdb_resale_price_data_pipeline_spark.sources.compaction import (
        compact_parquet,
    )

    frag = str(tmp_path / "frag_part")
    docs = read_table(spark, TEST_SF_DIR, "documents")
    # the classic failure: many upstream tasks each write into every
    # partition directory
    docs.repartition(16).write.partitionBy("lang").parquet(frag)

    stats = compact_parquet(
        spark, frag, str(tmp_path / "compact_part"),
        target_file_bytes=64 << 20, partition_cols=("lang",),
    )
    assert stats.in_files >= 40  # ~16 slivers x 5 langs
    n_langs = docs.select("lang").distinct().count()
    assert stats.out_files <= 2 * n_langs
    for d in (p for p in os.listdir(str(tmp_path / "compact_part")) if p.startswith("lang=")):
        files = [
            f for f in os.listdir(str(tmp_path / "compact_part") + "/" + d)
            if not f.startswith("_") and not f.startswith(".")
        ]
        assert 1 <= len(files) <= 2
    assert (
        spark.read.parquet(str(tmp_path / "compact_part")).count()
        == docs.count()
    )


def test_merge_upsert_touches_only_affected_partitions(spark, tmp_path):
    """Keyed MERGE: updates replace matching keys, inserts add new
    ones, untouched partitions keep their files byte-identical, and
    re-merging the same batch is a no-op (idempotent)."""
    import glob

    from hdb_resale_price_data_pipeline_spark.sources.merge import merge_upsert
    from hdb_resale_price_data_pipeline_spark.sources.warehouse import (
        load_day_partitioned,
    )

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(k, d, float(v)) for k, d, v in [
            (1, "2025-01-01", 10), (2, "2025-01-01", 20),
            (3, "2025-01-02", 30), (4, "2025-01-02", 40),
            (5, "2025-01-03", 50),
        ]],
        "k int, day string, v double",
    )
    load_day_partitioned(base, path, "day")
    day1_files = {
        f: os.path.getmtime(f) for f in glob.glob(f"{path}/day=2025-01-01/*.parquet")
    }

    updates = spark.createDataFrame(
        [(3, "2025-01-02", 31.0), (6, "2025-01-02", 60.0)],
        "k int, day string, v double",
    )
    merge_upsert(spark, path, updates, ["k"], "day")

    # partition values round-trip through directory names: the string
    # day comes back type-inferred as a date — normalize for comparison
    got = {
        (r.k, str(r.day)): r.v for r in spark.read.parquet(path).collect()
    }
    assert got[(3, "2025-01-02")] == 31.0      # updated
    assert got[(6, "2025-01-02")] == 60.0      # inserted
    assert got[(4, "2025-01-02")] == 40.0      # untouched row in affected day
    assert len(got) == 6                       # no duplicates
    # day-1 partition was never rewritten
    assert {
        f: os.path.getmtime(f) for f in glob.glob(f"{path}/day=2025-01-01/*.parquet")
    } == day1_files

    merge_upsert(spark, path, updates, ["k"], "day")  # idempotent
    again = {
        (r.k, str(r.day)): r.v for r in spark.read.parquet(path).collect()
    }
    assert again == got


def test_export_shards_are_deterministic_and_bounded(spark, tmp_path):
    """Export: every row lands exactly once, shards stay near the row
    target, the manifest agrees with the files, re-export replays the
    IDENTICAL global permutation, and the order decorrelates from the
    source order (it's a shuffle, not a copy)."""
    from hdb_resale_price_data_pipeline_spark.sources.export import (
        export_shuffled_shards,
    )

    docs = read_table(spark, TEST_SF_DIR, "documents")
    n = docs.count()
    out1, out2 = str(tmp_path / "e1"), str(tmp_path / "e2")
    m1 = export_shuffled_shards(docs, out1, rows_per_shard=100)
    m2 = export_shuffled_shards(docs, out2, rows_per_shard=100)

    assert m1["total_rows"] == n
    assert sum(s["rows"] for s in m1["shards"]) == n
    assert m1["n_shards"] == (n + 99) // 100
    # range partitioner samples, so allow slack — but no degenerate shards
    assert all(20 <= s["rows"] <= 200 for s in m1["shards"])

    def order(path):
        import pyarrow.dataset as ds

        ids = []
        for frag in sorted(
            ds.dataset(path, format="parquet").get_fragments(),
            key=lambda f: f.path,
        ):
            ids.extend(frag.to_table(columns=["doc_id"])["doc_id"].to_pylist())
        return ids

    o1, o2 = order(out1), order(out2)
    assert o1 == o2                      # reproducible permutation
    assert sorted(o1) == sorted(r.doc_id for r in docs.select("doc_id").collect())
    assert o1 != sorted(o1)              # actually shuffled


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


def test_inplace_compaction_touches_only_oversized_partitions(spark, tmp_path):
    """The steady-state maintenance shape: one hot partition fragments,
    in-place compaction rewrites ONLY it (untouched partition files
    keep their paths), values survive, and a re-run is a no-op."""
    from hdb_resale_price_data_pipeline_spark.sources.compaction import (
        compact_partitions_inplace,
    )

    root = str(tmp_path / "warehouse")
    docs = read_table(spark, TEST_SF_DIR, "documents")
    # historical partitions: compact (1 file each)
    docs.filter("lang <> 'en'").repartition(1).write.partitionBy("lang").parquet(root)
    # hot partition: micro-batch debris (16 slivers)
    docs.filter("lang = 'en'").repartition(16).write.mode("append").partitionBy(
        "lang"
    ).parquet(root)

    def files_by_part():
        out = {}
        for d in os.listdir(root):
            if d.startswith("lang="):
                out[d] = sorted(
                    f
                    for f in os.listdir(os.path.join(root, d))
                    if not f.startswith(("_", "."))
                )
        return out

    before = files_by_part()
    assert len(before["lang=en"]) == 16

    stats = compact_partitions_inplace(spark, root, "lang")
    assert stats["rewritten"] == 1
    after = files_by_part()
    assert len(after["lang=en"]) == 1
    for part, files in before.items():  # untouched partitions keep their files
        if part != "lang=en":
            assert after[part] == files

    got = spark.read.parquet(root)
    assert got.count() == docs.count()
    assert sorted(r.doc_id for r in got.select("doc_id").collect()) == sorted(
        r.doc_id for r in docs.select("doc_id").collect()
    )

    again = compact_partitions_inplace(spark, root, "lang")
    assert again["rewritten"] == 0  # steady state: nothing to do


def test_warehouse_schema_evolution_mergeschema(spark, tmp_path):
    """A later daily load adds a column: read_warehouse must surface
    the union schema, with pre-evolution partitions NULL in the new
    column — and the new column must not be silently hidden (the
    default read samples one footer, so which vintage wins is
    nondeterministic; mergeSchema removes the ambiguity)."""
    import datetime

    from pyspark.sql import functions as F

    from hdb_resale_price_data_pipeline_spark.sources.warehouse import (
        load_day_partitioned,
        read_warehouse,
    )

    path = str(tmp_path / "wh")
    d1, d2 = datetime.date(2025, 6, 1), datetime.date(2025, 6, 2)
    day1 = spark.createDataFrame([(1, "a", d1), (2, "b", d1)], "id long, v string, d date")
    load_day_partitioned(day1, path, "d")
    day2 = spark.createDataFrame(
        [(3, "c", 9.5, d2)], "id long, v string, score double, d date"
    )
    load_day_partitioned(day2, path, "d")

    got = read_warehouse(spark, path)
    assert set(got.columns) == {"id", "v", "score", "d"}
    rows = {r.id: r for r in got.collect()}
    assert len(rows) == 3
    assert rows[1].score is None and rows[2].score is None  # old vintage
    assert rows[3].score == 9.5
    # evolution is append-only here; the idempotent re-load of day 1
    # (no score column) must still not disturb day 2
    load_day_partitioned(day1, path, "d")
    assert read_warehouse(spark, path).filter(F.col("score").isNotNull()).count() == 1


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


class TestQuarantineReaders:
    """r5: PERMISSIVE + corrupt-record-column split — every input
    record is either parsed or quarantined with its raw text, never
    silently nulled or dropped."""

    def _schema(self):
        from pyspark.sql.types import (
            IntegerType,
            StringType,
            StructField,
            StructType,
        )

        return StructType(
            [
                StructField("town", StringType(), True),
                StructField("price", IntegerType(), True),
            ]
        )

    def test_csv_quarantine_splits_bad_rows(self, spark, tmp_path):
        from hdb_resale_price_data_pipeline_spark.sources.quarantine import (
            read_csv_quarantined,
        )

        p = tmp_path / "in.csv"
        p.write_text(
            "town,price\n"
            "BEDOK,500000\n"
            'YISHUN,"not a number"\n'  # type-cast failure → quarantine
            "CLEMENTI,610000\n"
            '"BROKEN QUOTE,123\n'  # structural failure → quarantine
        )
        good, bad = read_csv_quarantined(spark, str(p), self._schema())
        assert {(r.town, r.price) for r in good.collect()} == {
            ("BEDOK", 500000),
            ("CLEMENTI", 610000),
        }
        bad_rows = bad.collect()
        assert len(bad_rows) == 2
        assert all(r.raw_record for r in bad_rows)
        raws = " ".join(r.raw_record for r in bad_rows)
        assert "not a number" in raws and "BROKEN QUOTE" in raws

    def test_json_quarantine_record_level(self, spark, tmp_path):
        from hdb_resale_price_data_pipeline_spark.sources.quarantine import (
            read_json_quarantined,
        )

        p = tmp_path / "in.jsonl"
        p.write_text(
            '{"town": "BEDOK", "price": 500000}\n'
            '{"town": "YISHUN", "price": }\n'  # malformed JSON line
            '{"town": "CLEMENTI", "price": 610000}\n'
        )
        good, bad = read_json_quarantined(spark, str(p), self._schema())
        assert good.count() == 2
        bad_rows = bad.collect()
        assert len(bad_rows) == 1
        assert '"price": }' in bad_rows[0].raw_record

    def test_json_quarantine_file_level_for_multiline(self, spark, tmp_path):
        from hdb_resale_price_data_pipeline_spark.sources.quarantine import (
            read_json_quarantined,
        )

        ok = tmp_path / "ok.json"
        ok.write_text('[{"town": "BEDOK", "price": 1}, {"town": "YISHUN", "price": 2}]')
        broken = tmp_path / "broken.json"
        broken.write_text('[{"town": "CLEMENTI", "price": 3}, {"town":')  # truncated
        good, bad = read_json_quarantined(
            spark, str(tmp_path), self._schema(), multiline=True
        )
        assert good.count() == 2  # the intact file's two records
        bad_rows = bad.collect()
        assert len(bad_rows) == 1  # ONE quarantine row per malformed file
        assert bad_rows[0].raw_record.startswith('[{"town": "CLEMENTI"')

    def test_schema_already_owning_corrupt_col_is_rejected(self, spark):
        import pytest
        from pyspark.sql.types import StringType, StructField, StructType

        from hdb_resale_price_data_pipeline_spark.sources.quarantine import (
            read_csv_quarantined,
        )

        s = StructType([StructField("_corrupt_record", StringType(), True)])
        with pytest.raises(ValueError, match="_corrupt_record"):
            read_csv_quarantined(spark, "/tmp/nope", s)
