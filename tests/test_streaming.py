"""Streaming extension tests: the streaming plans must agree with their
batch twins where windows are finalized (watermark semantics)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from conftest import TEST_SF_DIR, SMOKE_SF_DIR
from hdb_resale_price_data_pipeline_spark.queries.events import q_events_hourly
from hdb_resale_price_data_pipeline_spark.sources import read_table
from hdb_resale_price_data_pipeline_spark.streaming import (
    events_stream,
    run_stream_to_df,
    stream_hourly_tumbling,
    stream_session_windows,
    stream_user_dedup,
)

# The events table's logical schema, as hand-built test streams write it.
EVENTS_DDL = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)


def test_stream_hourly_matches_batch_on_finalized_windows(spark):
    stream_out = run_stream_to_df(
        stream_hourly_tumbling(events_stream(spark, TEST_SF_DIR)), spark
    ).collect()
    batch = {
        (r.hour_start, r.event_type): (r.n_events, r.total_value)
        for r in q_events_hourly(spark, TEST_SF_DIR).collect()
    }
    assert len(stream_out) > 0
    for r in stream_out:
        key = (r.window_start, r.event_type)
        assert key in batch, f"stream window {key} missing from batch"
        assert (r.n_events, r.total_value) == batch[key]
    # EXACT cardinality: append mode must emit precisely the windows the
    # final watermark (max ts − 2 h) finalized — a zero-row or
    # half-emitted run can never read as "pass" again (round-2 failure
    # class). Boundary windows (end == watermark) may legitimately land
    # either side, so bound both ways.
    import datetime

    max_ts = read_table(spark, TEST_SF_DIR, "events").agg(F.max("ts")).first()[0]
    wm = max_ts - datetime.timedelta(hours=2)
    finalized_strict = sum(
        1
        for (hour_start, _t) in batch
        if datetime.datetime.fromisoformat(hour_start) + datetime.timedelta(hours=1) < wm
    )
    finalized_lenient = sum(
        1
        for (hour_start, _t) in batch
        if datetime.datetime.fromisoformat(hour_start) + datetime.timedelta(hours=1) <= wm
    )
    assert finalized_strict <= len(stream_out) <= finalized_lenient or (
        finalized_strict == finalized_lenient == len(stream_out)
    ), (len(stream_out), finalized_strict, finalized_lenient)


def test_stream_runs_leave_no_sink_view(spark):
    """On a classic session ``run_stream_to_df`` drops the memory
    sink's session-wide temp view before it returns; the frame it
    returns still reads the sink's rows. Under the Connect sweep the
    package takes its Connect path, which keeps the view (a Connect
    frame resolves the name at every run), so each run leaves one."""

    def sink_views():
        return {
            t.name
            for t in spark.catalog.listTables()
            if t.name.startswith("stream_out_")
        }

    before = sink_views()
    outs = [
        run_stream_to_df(
            stream_hourly_tumbling(events_stream(spark, TEST_SF_DIR)), spark
        )
        for _ in range(2)
    ]
    kept = 2 if os.environ.get("SPARK_GRAFT_CONNECT_SWEEP") else 0
    assert len(sink_views() - before) == kept
    first, second = (sorted(map(tuple, out.collect())) for out in outs)
    assert len(first) > 0
    assert first == second


def test_stream_static_join_matches_batch(spark):
    """Stream-static broadcast enrichment must equal the batch join
    row-for-row (no watermark, no agg ⇒ nothing can be held back)."""
    from hdb_resale_price_data_pipeline_spark.streaming.events import (
        stream_static_enrich,
    )

    nation = read_table(spark, TEST_SF_DIR, "nation")
    got = run_stream_to_df(
        stream_static_enrich(events_stream(spark, TEST_SF_DIR), nation), spark
    )
    ev = read_table(spark, TEST_SF_DIR, "events")
    want = (
        ev.withColumn("nk", (F.col("user_id") % 25).cast("int"))
        .join(
            nation.select(
                F.col("n_nationkey").cast("int").alias("nk"), "n_name"
            ),
            "nk",
        )
        .select("event_id", "user_id", F.col("n_name").alias("nation"))
    )
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_stream_dedup_matches_batch_distinct(spark):
    out = run_stream_to_df(stream_user_dedup(events_stream(spark, TEST_SF_DIR)), spark)
    batch_distinct = (
        read_table(spark, TEST_SF_DIR, "events")
        .select("user_id", "event_type")
        .distinct()
        .count()
    )
    assert out.count() == batch_distinct
    assert out.select("user_id", "event_type").distinct().count() == batch_distinct


def test_stream_sessions_emit_finalized(spark):
    out = run_stream_to_df(stream_session_windows(events_stream(spark, TEST_SF_DIR)), spark)
    rows = out.collect()
    assert len(rows) > 0
    per_user = out.groupBy("user_id").agg(F.sum("n_events").alias("n")).collect()
    total_events = read_table(spark, TEST_SF_DIR, "events").count()
    assert sum(r.n for r in per_user) <= total_events


def test_custom_stateful_sessionizer_across_batches(spark):
    """applyInPandasWithState sessionizer: state must carry the open
    session across the two microbatches; emitted sessions must equal the
    batch-computed closed sessions (every session except each user's
    last)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from hdb_resale_price_data_pipeline_spark.streaming.stateful import (
        SESSION_GAP_US,
        split_events_stream,
        stateful_sessions,
    )

    out = run_stream_to_df(
        stateful_sessions(split_events_stream(spark, TEST_SF_DIR)), spark
    )
    got = {
        (r.user_id, r.session_start_us): (r.session_end_us, r.n_events)
        for r in out.collect()
    }

    # batch expectation: standard lag/gap sessionization, drop each
    # user's final (still-open) session
    ev = read_table(spark, TEST_SF_DIR, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sessions = (
        ev.withColumn("us", F.unix_micros("ts"))
        .withColumn("prev", F.lag("us").over(w))
        .withColumn(
            "new_s",
            F.when(F.col("prev").isNull() | (F.col("us") - F.col("prev") > SESSION_GAP_US), 1).otherwise(0),
        )
        .withColumn("sid", F.sum("new_s").over(w))
        .groupBy("user_id", "sid")
        .agg(
            F.min("us").alias("start_us"),
            F.max("us").alias("end_us"),
            F.count(F.lit(1)).alias("n"),
            F.max("sid").alias("_sid"),
        )
    )
    last_sid = sessions.groupBy("user_id").agg(F.max("sid").alias("last_sid"))
    closed = sessions.join(last_sid, "user_id").filter(F.col("sid") != F.col("last_sid"))
    want = {
        (r.user_id, r.start_us): (r.end_us, r.n) for r in closed.collect()
    }
    assert len(got) > 0
    assert got == want


def test_watermark_finalized_windows_emit_exactly_once(spark, tmp_path):
    """Watermark guarantee (the real one): a window finalized by the
    watermark is emitted exactly once in append mode, and a late event
    targeting it must NOT cause a second emission or a changed count.
    (Spark does NOT guarantee dropping of late rows into never-evicted
    window slots — observed on 4.1: such rows still aggregate — so the
    assertion is on finalized-window immutability, which IS guaranteed.)
    """
    import glob
    import os
    import shutil

    from pyspark.sql import Row

    from hdb_resale_price_data_pipeline_spark.streaming import (
        run_stream_to_df,
        stream_hourly_tumbling,
    )

    stage = str(tmp_path / "late_src")
    os.makedirs(stage)

    def write_batch(i, rows):
        tmp = str(tmp_path / f"_w{i}")
        spark.createDataFrame(rows, EVENTS_DDL).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        dest = os.path.join(stage, f"b{i}.parquet")
        shutil.move(glob.glob(f"{tmp}/part-*.parquet")[0], dest)
        os.utime(dest, (1_700_000_000 + i * 100,) * 2)

    import datetime

    def ev(eid, hhmm, etype="click", value=1.0):
        h, m = divmod(hhmm, 100)
        return Row(
            event_id=eid,
            ts=datetime.datetime(2024, 1, 1, h, m),
            user_id=1,
            event_type=etype,
            value=value,
            props="{}",
        )

    # batch 1: events in hour 00 and hour 06 → watermark advances to
    # 04:00 at batch end
    write_batch(0, [ev(1, 00), ev(2, 30), ev(3, 600)])
    # batch 2 (all on-time): processing under watermark 04:00 finalizes
    # and emits window [00:00, 01:00) with its 2 on-time events
    write_batch(1, [ev(6, 630)])
    # batch 3: a LATE event into the already-evicted hour-00 window —
    # its state is gone and watermark is past; must not re-emit
    write_batch(2, [ev(4, 15), ev(5, 700)])

    raw = (
        spark.readStream.schema(EVENTS_DDL)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(stage)
    )
    out = run_stream_to_df(stream_hourly_tumbling(raw), spark).collect()
    rows_00 = [r for r in out if r.window_start == "2024-01-01 00:00:00"]
    # exactly one emission, with exactly the on-time count — the late
    # event_id=4 neither re-emits nor mutates the finalized window
    assert len(rows_00) == 1 and rows_00[0].n_events == 2
    # trailing windows (06:00, 07:00) are still open at end-of-stream
    # (watermark 05:00 < their ends) — append mode holds them
    assert all(r.window_start < "2024-01-01 06:00:00" for r in out)


class TestStreamOracles:
    """Pin the availableNow emission arithmetic the registered stream
    oracles encode (queries/extensions.py) at a SECOND scale factor —
    sf0.001 next to the suite-wide sf0.01 — so the wm_ms floor-division
    formula and the strict-vs-inclusive gap semantics can't silently
    hold at one data shape only."""

    SF_DIR = "/root/testdata/sf0.001"

    @staticmethod
    def _duck(sf_dir):
        import duckdb

        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'"
        )
        return con

    def _check(self, spark, name):
        # local_queries = graded + LOCAL registries: rotation moves
        # entries between the two, and this pin must survive that.
        from hdb_resale_price_data_pipeline_spark.queries import local_queries

        spec = local_queries()[name]
        sdf = spec.fn(spark, self.SF_DIR).toPandas()
        ddf = self._duck(self.SF_DIR).execute(spec.oracle).fetchdf()
        cols = sorted(sdf.columns)
        assert cols == sorted(ddf.columns)
        srows = sorted(map(str, sdf[cols].itertuples(index=False, name=None)))
        drows = sorted(map(str, ddf[cols].itertuples(index=False, name=None)))
        assert len(srows) > 0 and srows == drows, (
            f"{name}@sf0.001: {len(srows)} vs {len(drows)}"
        )

    def test_tumbling_oracle_sf0001(self, spark):
        self._check(spark, "stream_hourly_tumbling")

    def test_session_oracle_sf0001(self, spark):
        self._check(spark, "stream_session_windows")

    def test_dedup_oracle_sf0001(self, spark):
        self._check(spark, "stream_user_dedup")

    def test_stateful_oracle_sf0001(self, spark):
        self._check(spark, "stream_stateful_sessions")


def test_doc_quality_gate_streams_in_micro_batches(spark):
    """Streaming corpus ingest (streaming/documents.py): the staged
    landing dir yields one micro-batch per file, and the gate's output
    equals the batch twin row-for-row."""
    import uuid

    from hdb_resale_price_data_pipeline_spark.operators import text as T
    from hdb_resale_price_data_pipeline_spark.sources import read_table
    from hdb_resale_price_data_pipeline_spark.streaming.documents import (
        stream_quality_gate,
    )
    from hdb_resale_price_data_pipeline_spark.streaming.events import (
        STREAM_SLICES,
        table_stream,
    )
    from pyspark.sql import functions as F

    gated = stream_quality_gate(table_stream(spark, TEST_SF_DIR, "documents"))
    name = f"doc_gate_{uuid.uuid4().hex[:8]}"
    q = (
        gated.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n_batches = sum(
        1 for p in q.recentProgress if p["numInputRows"] > 0
    )
    assert n_batches == STREAM_SLICES, "one micro-batch per landing file"

    got = {
        (r.doc_id, r.quality, r.gate, r.lang_pred)
        for r in spark.table(name).collect()
    }
    docs = read_table(spark, TEST_SF_DIR, "documents")
    score = T.quality_score("text")
    want = {
        (r.doc_id, r.quality, r.gate, r.lang_pred)
        for r in docs.select(
            "doc_id",
            score.alias("quality"),
            F.when(score >= 0.6, "keep")
            .when(score >= 0.4, "review")
            .otherwise("drop")
            .alias("gate"),
            T.lang_id("text").alias("lang_pred"),
        ).collect()
    }
    assert got == want


def test_stream_dedup_gate_flags_corpus_collisions(spark):
    """Stream-static dedup gate (streaming/documents.py): every arriving
    doc that IS in the static corpus slice must flag drop_exact; docs
    sharing only a short prefix with a corpus doc go review_neardup; the
    rest ingest. Runs as a real availableNow stream across micro-batches."""
    import uuid

    from hdb_resale_price_data_pipeline_spark.sources import read_table
    from hdb_resale_price_data_pipeline_spark.streaming.documents import (
        stream_dedup_gate,
    )
    from hdb_resale_price_data_pipeline_spark.streaming.events import (
        STREAM_SLICES,
        table_stream,
    )
    from pyspark.sql import functions as F

    corpus = read_table(spark, TEST_SF_DIR, "documents").filter(
        F.col("doc_id") % 3 == 0
    )
    gated = stream_dedup_gate(table_stream(spark, TEST_SF_DIR, "documents"), corpus)
    name = f"dedup_gate_{uuid.uuid4().hex[:8]}"
    q = (
        gated.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n_batches = sum(1 for p in q.recentProgress if p["numInputRows"] > 0)
    assert n_batches == STREAM_SLICES

    rows = spark.table(name).collect()
    by_id = {r.doc_id: r for r in rows}
    n_docs = read_table(spark, TEST_SF_DIR, "documents").count()
    assert len(rows) == n_docs  # append emits every arriving doc exactly once
    # every corpus-slice doc collides with itself -> drop_exact
    for doc_id, r in by_id.items():
        if doc_id % 3 == 0:
            assert r.gate == "drop_exact", doc_id
            assert r.is_exact_dup == 1 and r.is_prefix_dup == 1
    # all three routes actually occur on this corpus
    gates = {r.gate for r in rows}
    assert gates == {"drop_exact", "review_neardup", "ingest"}


def test_stream_user_dedup_suppresses_duplicates_past_the_watermark(
    spark, tmp_path
):
    """Plain ``dropDuplicates`` keeps every key's state for the life of
    the query: a duplicate arriving in later batches, long after the
    watermark passed the key's first event, is still suppressed."""
    import datetime
    import glob
    import os
    import shutil

    from pyspark.sql import Row

    from hdb_resale_price_data_pipeline_spark.streaming import (
        run_stream_to_df,
        stream_user_dedup,
    )

    stage = str(tmp_path / "dwm_src")
    os.makedirs(stage)

    def write_batch(i, rows):
        tmp = str(tmp_path / f"_w{i}")
        spark.createDataFrame(rows, EVENTS_DDL).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        dest = os.path.join(stage, f"b{i}.parquet")
        shutil.move(glob.glob(f"{tmp}/part-*.parquet")[0], dest)
        os.utime(dest, (1_700_000_000 + i * 100,) * 2)

    def ev(eid, hh, mm, user):
        return Row(
            event_id=eid,
            ts=datetime.datetime(2024, 1, 1, hh, mm),
            user_id=user,
            event_type="click",
            value=1.0,
            props="{}",
        )

    # b0: first A (user 1) at 00:00
    write_batch(0, [ev(1, 0, 0, 1), ev(2, 0, 0, 2)])
    # b1: user 3 at 06:00 → watermark advances to 04:00, past A's 00:00
    # plus the 2h horizon
    write_batch(1, [ev(4, 6, 0, 3)])
    # b2, b3: A again at 06:30 and 07:00
    write_batch(2, [ev(5, 6, 30, 1)])
    write_batch(3, [ev(6, 7, 0, 1)])

    def staged_stream():
        return (
            spark.readStream.schema(EVENTS_DDL)
            .format("parquet")
            .option("maxFilesPerTrigger", "1")
            .load(stage)
        )

    unbounded = run_stream_to_df(stream_user_dedup(staged_stream()), spark).collect()
    assert sorted(r.event_id for r in unbounded) == [1, 2, 4]


def test_stream_emb_ingest_matches_batch_assignment(spark):
    """Streaming embedding ingest (streaming/embeddings.py): arriving
    vectors must land in exactly the inverted list the BATCH index
    build assigns them to (same Arrow assignment pass → identity, not
    approximation), across real micro-batches."""
    import uuid

    from hdb_resale_price_data_pipeline_spark.queries.similarity import (
        OUTLIER_GRID,
        _ivf_kmeans_index,
    )
    from hdb_resale_price_data_pipeline_spark.streaming.embeddings import (
        stream_ivf_ingest,
    )
    from hdb_resale_price_data_pipeline_spark.streaming.events import (
        STREAM_SLICES,
        table_stream,
    )

    codebook, assigned = _ivf_kmeans_index(spark, TEST_SF_DIR)
    want = {r.vec_id: r.ivf_cid for r in assigned.select("vec_id", "ivf_cid").collect()}

    stream = stream_ivf_ingest(
        table_stream(spark, TEST_SF_DIR, "embeddings"), codebook, OUTLIER_GRID
    )
    name = f"emb_ingest_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n_batches = sum(1 for p in q.recentProgress if p["numInputRows"] > 0)
    assert n_batches == STREAM_SLICES

    rows = spark.table(name).collect()
    assert len(rows) == len(want)  # every vector ingested exactly once
    assert {r.vec_id: r.ivf_cid for r in rows} == want
    assert all(r.qaff is not None for r in rows)


def test_stream_lr_gate_scores_match_batch_classifier(spark):
    """Model-based streaming gate: per-doc quantized probabilities must
    equal the batch classifier's exactly (same trained weights, same
    integer arithmetic), and the bands must route all three ways."""
    from hdb_resale_price_data_pipeline_spark.queries.extensions import (
        LR_GATE_KEEP_Q,
        LR_GATE_REVIEW_Q,
        q_stream_lr_gate,
    )
    from hdb_resale_price_data_pipeline_spark.queries.text import (
        q_text_quality_classifier,
    )

    gated = {r.doc_id: r for r in q_stream_lr_gate(spark, TEST_SF_DIR).collect()}
    batch = {
        r.doc_id: r.prob_q
        for r in q_text_quality_classifier(spark, TEST_SF_DIR).collect()
    }
    assert set(gated) == set(batch)
    assert all(gated[d].prob_q == q for d, q in batch.items())
    routes = {r.gate for r in gated.values()}
    assert routes == {"keep", "review", "drop"}
    for r in gated.values():
        want = (
            "keep"
            if r.prob_q >= LR_GATE_KEEP_Q
            else "review" if r.prob_q >= LR_GATE_REVIEW_Q else "drop"
        )
        assert r.gate == want


def test_stream_dedup_gate_survives_null_text_corpus_docs(spark):
    """Review r5: a NULL-text corpus doc yields a NULL fingerprint; the
    Bloom build must drop it (a NULL can never match an arriving doc —
    the join semantics of the gate it replaced) instead of crashing on
    a NULL bitset row."""
    from pyspark.sql import functions as F

    from hdb_resale_price_data_pipeline_spark.sources import read_table
    from hdb_resale_price_data_pipeline_spark.streaming.documents import (
        stream_dedup_gate,
    )
    from hdb_resale_price_data_pipeline_spark.streaming.events import table_stream

    corpus = (
        read_table(spark, SMOKE_SF_DIR, "documents")
        .limit(50)
        .unionByName(
            spark.createDataFrame(
                [(999_999, None, "en", None, None)],
                "doc_id long, text string, lang string, source string, n_chars long",
            ).select("doc_id", "text", "lang", "source", "n_chars")
        )
    )
    gated = stream_dedup_gate(table_stream(spark, SMOKE_SF_DIR, "documents"), corpus)
    rows = (
        gated.writeStream.format("memory")
        .queryName("null_corpus_gate")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    rows.awaitTermination()
    out = spark.table("null_corpus_gate").collect()
    assert len(out) > 0
    assert {r.gate for r in out} <= {"drop_exact", "review_neardup", "ingest"}


def test_stream_attribution_matched_half_matches_batch(spark):
    """The registered inner-attribution query is served as the matched
    projection of the shared outer-join table (queries/extensions.
    _attribution_rows): the outer join's matched half must equal the
    batch twin's (purchase, view) pairs."""
    from hdb_resale_price_data_pipeline_spark.queries.events import (
        q_events_attribution_join,
    )
    from hdb_resale_price_data_pipeline_spark.streaming.events import (
        stream_view_purchase_outer,
    )

    batch = {
        (r.purchase_id, r.view_id, r.user_id, r.micros_to_purchase)
        for r in q_events_attribution_join(spark, TEST_SF_DIR).collect()
    }
    outer_matched = {
        (r.purchase_key, r.view_id, r.user_id, r.micros_to_purchase)
        for r in run_stream_to_df(
            stream_view_purchase_outer(events_stream(spark, TEST_SF_DIR)), spark
        ).collect()
        if r.matched == 1
    }
    assert len(batch) > 0
    assert outer_matched == batch


@pytest.mark.core
def test_derived_stream_partitions_math_and_conf_restore(spark, monkeypatch):
    """r9 optimization: the state-store partition count is derived from
    the footer row count of the sources a caller passes (ceil(rows /
    target), clamped to the configured spark.sql.shuffle.partitions)
    for the duration of a run_stream_to_df call and restored
    afterwards. Pins the clamp arithmetic and the restore, that a
    registered events query sizes from the events table, and that the
    Python-stateful query (which passes no sources) keeps the
    configured count."""
    from hdb_resale_price_data_pipeline_spark.queries.extensions import (
        q_stream_sessions,
        q_stream_stateful_sessions,
    )
    from hdb_resale_price_data_pipeline_spark.streaming import events as ev

    # clamp arithmetic
    t = ev.STREAM_STATE_ROWS_PER_PARTITION
    assert ev.derived_stream_partitions(1, 32) == 1
    assert ev.derived_stream_partitions(t, 32) == 1
    assert ev.derived_stream_partitions(t + 1, 32) == 2
    assert ev.derived_stream_partitions(100 * t, 32) == 32  # ceiling binds
    assert ev.derived_stream_partitions(100 * t, 8) == 8

    # source rows come from the parquet footer, not a scan
    n = ev._dir_parquet_rows(f"{TEST_SF_DIR}/events.parquet")
    assert n == read_table(spark, TEST_SF_DIR, "events").count()

    calls = []
    real = ev.derived_stream_partitions

    def recording(n_rows, configured):
        calls.append((n_rows, configured))
        return real(n_rows, configured)

    monkeypatch.setattr(ev, "derived_stream_partitions", recording)

    # sized from the events table; conf restored after the query
    before = spark.conf.get("spark.sql.shuffle.partitions")
    assert q_stream_sessions(spark, TEST_SF_DIR).count() > 0
    assert calls == [(n, int(before))]
    assert spark.conf.get("spark.sql.shuffle.partitions") == before

    # the Python-stateful query is exempt from downscaling
    calls.clear()
    assert q_stream_stateful_sessions(spark, TEST_SF_DIR).count() > 0
    assert calls == []


@pytest.mark.core
def test_dir_parquet_rows_short_circuit_and_fault_fallback(tmp_path, monkeypatch):
    """r10 (verdict item 6 + ADVICE): the footer-count helper stops
    reading footers once ``stop_at`` rows are proven (at 100 TB /
    O(1e5) files the ceiling binds long before the sum finishes), its
    truncated counts are cached as lower bounds per threshold (a higher
    threshold re-reads), and ANY metadata failure
    falls back to None (no scaling) instead of raising into a running
    streaming query."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hdb_resale_price_data_pipeline_spark.operators import index_cache
    from hdb_resale_price_data_pipeline_spark.streaming import events as ev

    d = tmp_path / "landing"
    d.mkdir()
    n_files, rows_per = 20, 10
    for i in range(n_files):
        pq.write_table(
            pa.table({"x": list(range(rows_per))}), d / f"part-{i:05d}.parquet"
        )

    reads = []
    real = pq.read_metadata

    def counting(f, *a, **k):
        reads.append(f)
        return real(f, *a, **k)

    monkeypatch.setattr(pq, "read_metadata", counting)
    index_cache.clear("streaming.footer_rows")

    # full read: exact total, every footer touched, cached complete
    assert ev._dir_parquet_rows(str(d)) == n_files * rows_per
    assert len(reads) == n_files
    reads.clear()
    assert ev._dir_parquet_rows(str(d)) == n_files * rows_per  # cache hit
    assert reads == []

    # short-circuit: 25 rows proven after 3 footers; partial is a bound
    index_cache.clear("streaming.footer_rows")
    got = ev._dir_parquet_rows(str(d), stop_at=25)
    assert got == 3 * rows_per and len(reads) == 3
    reads.clear()
    # truncated cache entry reused for the same threshold…
    assert ev._dir_parquet_rows(str(d), stop_at=25) == 30 and reads == []
    # …and re-read when a higher threshold needs a higher bound
    assert ev._dir_parquet_rows(str(d), stop_at=1000) == n_files * rows_per
    assert len(reads) == n_files

    # metadata failure → None, never an exception
    reads.clear()

    def boom(f, *a, **k):
        raise OSError("corrupt footer")

    monkeypatch.setattr(pq, "read_metadata", boom)
    index_cache.clear("streaming.footer_rows")
    assert ev._dir_parquet_rows(str(d)) is None
    assert ev._dir_parquet_rows("/nonexistent/dir") is None
